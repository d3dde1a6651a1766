"""Round-14 hardening units (VERDICT r13 #2/#3/#4/#5 + ADVICE r13):
enforced reshard quiesce, per-doc arrival stamps, distributed
adjudication parity, retirement crash-heal from every window, and the
IVF delta accounting / cell_col threading guards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.operators import (
    similarity as sim,
)
from data_engineering_capstone_project__spark.operators import text as text_ops
from data_engineering_capstone_project__spark.plans import ingest, shards
from data_engineering_capstone_project__spark.sources import artifacts as art


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def _dig(df):
    r = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "text")).alias("x"),
    ).first()
    return (r["n"], r["x"])


def _plant(corpus, mod=10, off=700001, suffix=" qz"):
    return corpus.filter(F.col("doc_id") % mod == 0).select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(F.col("text"), F.lit(suffix)).alias("text"),
    )


# --------------------------------------------------------------- quiesce


def test_reshard_quiesce_excludes_ticks_and_crash_leaves_undeclared(
    spark, sf_dir, tmp_path
):
    """VERDICT r13 #2: reshard LEASES every old shard for its duration
    — a tick attempted mid-reshard raises ConcurrentIngestError instead
    of publishing content the new root never sees; a reshard that dies
    mid-flight leaves the new root undeclared and the old root
    immediately tickable again."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 150)
    fresh = d.filter(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 170)
    )
    root = str(tmp_path / "old")
    shards.init_sharded_ingest(
        spark, corpus, root, n_shards=2, num_hashes=32, bands=8
    )

    raced = {}

    def hook():
        with pytest.raises(ingest.ConcurrentIngestError):
            shards.ingest_batch_sharded(spark, fresh, root)
        raced["hit"] = True

    nroot = str(tmp_path / "new")
    res = shards.reshard(spark, root, nroot, n_shards=3, _test_hook=hook)
    assert raced.get("hit") and res["n_shards"] == 3
    # the excluded tick published NOTHING anywhere
    assert shards.read_sharded_corpus(spark, nroot).count() == corpus.count()

    class Boom(Exception):
        pass

    def hook2():
        raise Boom("simulated reshard crash")

    nroot2 = str(tmp_path / "new2")
    with pytest.raises(Boom):
        shards.reshard(spark, root, nroot2, n_shards=2, _test_hook=hook2)
    assert not os.path.exists(os.path.join(nroot2, "_SHARDS.json"))
    # leases released on failure: a normal tick succeeds right away
    st = shards.ingest_batch_sharded(spark, fresh, root)
    assert sum(s.n_batch for s in st.values()) == fresh.count()


@pytest.mark.slow
def test_reshard_carries_arrival_stamps_and_round_clock(
    spark, sf_dir, tmp_path
):
    """VERDICT r13 #3 × #2 composition: per-doc arrival stamps ride
    through the reshard's re-route verbatim and the new root's round
    clock seeds at their max, so post-reshard ticks claim strictly
    later rounds and reconciliation history survives the layout
    change."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 150)
    b1 = d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
    root, nroot = str(tmp_path / "o"), str(tmp_path / "n")
    shards.init_sharded_ingest(
        spark, corpus, root, n_shards=2, num_hashes=32, bands=8
    )
    shards.ingest_batch_sharded(spark, b1, root)
    old = shards.read_sharded_corpus(spark, root, with_arrival=True)
    old_rounds = {
        r["doc_id"]: r["_arrival_round"] for r in old.collect()
    }
    assert set(old_rounds.values()) == {1, 2}
    shards.reshard(spark, root, nroot, n_shards=3)
    new = shards.read_sharded_corpus(spark, nroot, with_arrival=True)
    new_rounds = {
        r["doc_id"]: r["_arrival_round"] for r in new.collect()
    }
    assert new_rounds == old_rounds
    assert shards._current_round(nroot) == 2
    # the next tick on the new layout claims a strictly later round
    b2 = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 300))
    shards.ingest_batch_sharded(spark, b2, nroot)
    got = shards.read_sharded_corpus(spark, nroot, with_arrival=True)
    b2_rounds = {
        r["_arrival_round"]
        for r in got.filter(
            (F.col("doc_id") >= 250) & (F.col("doc_id") < 300)
        ).collect()
    }
    assert b2_rounds == {3}


# ------------------------------------------------- adjudication parity


def _build_sharded(spark, d, root, n_shards=2):
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(_plant(corpus))
    shards.init_sharded_ingest(
        spark, corpus, root, n_shards=n_shards, num_hashes=32, bands=8
    )
    shards.ingest_batch_sharded(spark, batch, root)
    return corpus, batch


@pytest.mark.slow
def test_distributed_adjudication_matches_driver(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r13 #4: the round-iterative distributed adjudication
    emits EXACTLY the driver replay's retirements — same per-shard
    counts, hash-equal final unions. A candidate count over
    _DRIVER_MAX_PAIRS takes the distributed path instead of raising."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    r_drv = str(tmp_path / "drv")
    r_dst = str(tmp_path / "dst")
    for r in (r_drv, r_dst):
        _build_sharded(spark, d, r)

    s_drv = shards.reconcile_sharded_near_dups(spark, r_drv)
    # over the cap: one candidate pair is already too many
    monkeypatch.setattr(shards, "_DRIVER_MAX_PAIRS", 0)
    s_dst = shards.reconcile_sharded_near_dups(spark, r_dst)
    assert s_drv["path"] == "driver" and s_dst["path"] == "distributed"
    assert s_drv["n_pairs"] == s_dst["n_pairs"] > 0
    assert s_drv["n_retired"] == s_dst["n_retired"] > 0
    assert s_drv["retired_per_shard"] == s_dst["retired_per_shard"]
    a = _dig(shards.read_sharded_corpus(spark, r_drv).select("doc_id", "text"))
    b = _dig(shards.read_sharded_corpus(spark, r_dst).select("doc_id", "text"))
    assert a == b


def test_reconcile_refuses_duplicate_ids(spark, sf_dir, tmp_path):
    """ADVICE r13 #4: ids key the adjudication, so one id appearing
    twice in the union (user-supplied ids, content routing) is refused
    loudly rather than silently retiring the wrong shard's doc."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 100)
    root = str(tmp_path / "r")
    shards.init_sharded_ingest(
        spark, corpus, root, n_shards=2, num_hashes=32, bands=8
    )
    dup_id = corpus.orderBy("doc_id").first()["doc_id"]
    clash = spark.createDataFrame(
        [(int(dup_id),
          "a wholly different synthetic document body with its own "
          "tokens that cannot collide with anything in the corpus")],
        "doc_id bigint, text string",
    )
    shards.ingest_batch_sharded(spark, clash, root)
    with pytest.raises(ValueError, match="duplicate"):
        shards.reconcile_sharded_near_dups(spark, root)


# ------------------------------------------------- retirement crash heal


def _bootstrap_with_indexes(spark, sf_dir, root, n=200):
    d = _docs(spark, sf_dir)
    e = _embs(spark, sf_dir)
    all_docs = d.join(e, "doc_id").select("doc_id", "text", "embedding")
    corpus = all_docs.filter(F.col("doc_id") < n)
    ingest.init_ingest_indexes(
        spark, corpus, root, bm25_index=True,
        ivf_index={
            "vec_col": "embedding", "n_centroids": 4,
            "sample_rows": 300, "n_iter": 4,
        },
    )
    return corpus, all_docs


def _assert_surface_is_corpus(spark, root):
    now = ingest.read_ingest_corpus(spark, root)
    n_now = now.count()
    _, bmeta = art.load_bm25_postings_log(spark, f"{root}/bm25")
    assert bmeta["totals"]["n_docs"] == n_now
    imeta, _ = art.load_ivf_log_stats(f"{root}/ivf")
    assert imeta["n_vectors"] == n_now
    Q = {"q": "hash scan filter"}
    got = sorted(
        map(
            tuple,
            text_ops.bm25_topk_incremental(
                spark, f"{root}/bm25", Q, k=5
            ).collect(),
        )
    )
    ref = sorted(
        map(
            tuple,
            text_ops.bm25_topk(
                now.select("doc_id", "text"), Q, k=5, weights=None
            ).collect(),
        )
    )
    assert got == ref


@pytest.mark.slow
def test_retire_heal_window_after_corpus_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r13 medium, window 1: crash between the corpus fold
    commit and the BM25 refold. The _RETIRE_PENDING marker survives,
    and the NEXT TICK's preamble heals both index refolds — the real
    production path, where reconciliation never re-invokes
    retire_docs (it finds zero candidates on retry)."""
    root = str(tmp_path / "r")
    corpus, all_docs = _bootstrap_with_indexes(spark, sf_dir, root)
    ids = [r["doc_id"] for r in corpus.limit(10).collect()]

    def boom(*a, **k):
        raise RuntimeError("injected crash before bm25 refold")

    real = art.save_bm25_postings
    monkeypatch.setattr(art, "save_bm25_postings", boom)
    with pytest.raises(RuntimeError, match="bm25 refold"):
        ingest.retire_docs(spark, root, ids)
    monkeypatch.setattr(art, "save_bm25_postings", real)
    assert os.path.exists(os.path.join(root, "_RETIRE_PENDING.json"))
    # the corpus fold committed; both indexes are stale supersets
    _, bmeta = art.load_bm25_postings_log(spark, f"{root}/bm25")
    n_now = ingest.read_ingest_corpus(spark, root).count()
    assert bmeta["totals"]["n_docs"] == n_now + len(ids)

    # a NORMAL tick heals first, then publishes
    batch = all_docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 230)
    )
    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert st.n_published > 0
    assert not os.path.exists(os.path.join(root, "_RETIRE_PENDING.json"))
    _assert_surface_is_corpus(spark, root)


@pytest.mark.slow
def test_retire_heal_window_between_refolds(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Window 2: crash between the BM25 refold and the IVF refold —
    compaction heals (it must, before folding the stale log), and the
    re-run of the already-applied BM25 exclusion is a content no-op
    (derived scalars, no subtraction to double-apply)."""
    root = str(tmp_path / "r")
    corpus, _ = _bootstrap_with_indexes(spark, sf_dir, root)
    ids = [r["doc_id"] for r in corpus.limit(8).collect()]

    def boom(*a, **k):
        raise RuntimeError("injected crash before ivf refold")

    real = art.save_ivf_delta
    monkeypatch.setattr(art, "save_ivf_delta", boom)
    with pytest.raises(RuntimeError, match="ivf refold"):
        ingest.retire_docs(spark, root, ids)
    monkeypatch.setattr(art, "save_ivf_delta", real)
    # bm25 already folded; ivf still a superset
    n_now = ingest.read_ingest_corpus(spark, root).count()
    imeta, _ = art.load_ivf_log_stats(f"{root}/ivf")
    assert imeta["n_vectors"] == n_now + len(ids)

    ingest.compact_publication_log(spark, root)
    assert not os.path.exists(os.path.join(root, "_RETIRE_PENDING.json"))
    _assert_surface_is_corpus(spark, root)


@pytest.mark.slow
def test_retire_heal_window_before_corpus_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Window 3: crash BEFORE the corpus fold commits — nothing was
    retired (the claim is an invisible orphan), so the heal just
    clears the marker; a later real retirement succeeds."""
    root = str(tmp_path / "r")
    corpus, _ = _bootstrap_with_indexes(spark, sf_dir, root)
    ids = [r["doc_id"] for r in corpus.limit(6).collect()]
    n0 = ingest.read_ingest_corpus(spark, root).count()

    def boom(*a, **k):
        raise RuntimeError("injected crash before corpus commit")

    real = ingest.commit_versioned
    monkeypatch.setattr(ingest, "commit_versioned", boom)
    with pytest.raises(RuntimeError, match="corpus commit"):
        ingest.retire_docs(spark, root, ids)
    monkeypatch.setattr(ingest, "commit_versioned", real)
    assert os.path.exists(os.path.join(root, "_RETIRE_PENDING.json"))

    healed = ingest.recover_ingest_tick(spark, root)
    assert healed is None
    assert not os.path.exists(os.path.join(root, "_RETIRE_PENDING.json"))
    now = ingest.read_ingest_corpus(spark, root)
    assert now.count() == n0  # nothing retired
    _assert_surface_is_corpus(spark, root)

    v = ingest.retire_docs(spark, root, ids)
    assert v > 0
    assert ingest.read_ingest_corpus(spark, root).count() == n0 - len(ids)
    _assert_surface_is_corpus(spark, root)


# ------------------------------------------------- stamps + delta guards


def test_ingest_batch_refuses_caller_arrival_column(
    spark, sf_dir, tmp_path
):
    """The arrival stamp is publisher-owned: a batch that already
    carries _arrival_round is refused instead of silently rewriting
    the clock reconciliation orders by."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 100)
    root = str(tmp_path / "r")
    ingest.init_ingest_indexes(spark, corpus, root, num_hashes=32, bands=8)
    bad = d.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 110)
    ).withColumn("_arrival_round", F.lit(99))
    with pytest.raises(ValueError, match="_arrival_round"):
        ingest.ingest_batch(spark, bad, root)
    # default single-root stamp = the claimed corpus version
    ok = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
    pub, st = ingest.ingest_batch(spark, ok, root)
    pub.unpersist()
    assert "_arrival_round" not in pub.columns
    stamped = ingest.read_ingest_corpus(spark, root, with_arrival=True)
    rounds = {
        r["_arrival_round"]
        for r in stamped.filter(F.col("doc_id") >= 100).collect()
    }
    assert rounds == {st.corpus_version}


def test_save_ivf_delta_refuses_statless_nonempty_frame(
    spark, sf_dir, tmp_path
):
    """ADVICE r13 #3: a non-empty vector frame with absent/empty
    cell_stats would silently write an unpartitioned delta stamped
    n_vectors=0 — refused with guidance instead."""
    vecs = _embs(spark, sf_dir).limit(50)
    cents = sim.kmeans_centroids(
        vecs, vec_col="embedding", n_centroids=4, sample_rows=100, n_iter=3
    )
    assigned, stats = sim.ivf_assign_cells_with_stats(
        vecs, cents, vec_col="embedding"
    )
    path = str(tmp_path / "ivf")
    with pytest.raises(ValueError, match="cell_stats"):
        art.save_ivf_delta(
            assigned, path, id_col="doc_id", vec_col="embedding",
            codebook_digest="d", cell_stats=None,
        )
    with pytest.raises(ValueError, match="cell_stats"):
        art.save_ivf_delta(
            assigned, path, id_col="doc_id", vec_col="embedding",
            codebook_digest="d", cell_stats=[],
        )
    # the legitimate zero-vector delta (empty frame) still writes
    v = art.save_ivf_delta(
        assigned.limit(0), path, id_col="doc_id", vec_col="embedding",
        codebook_digest=sim.codebook_digest(cents), cell_stats=[],
    )
    assert v == 1


def test_refit_and_retire_thread_custom_cell_col(
    spark, sf_dir, tmp_path
):
    """ADVICE r13 #2: a vector log written with a non-default cell_col
    refits (and probes) cleanly — the pinned column threads through
    assignment AND save, where the r13 shape failed the partitionBy."""
    vecs = _embs(spark, sf_dir).limit(200)
    root = str(tmp_path / "r")
    cents = sim.kmeans_centroids(
        vecs, vec_col="embedding", n_centroids=4, sample_rows=200, n_iter=3
    )
    cb_dg = sim.codebook_digest(cents)
    assigned, stats = sim.ivf_assign_cells_with_stats(
        vecs, cents, vec_col="embedding", cell_col="cellz"
    )
    fit_stats = sim.fold_ivf_cell_stats(
        {c: (n, q) for c, n, q in stats}, len(cents)
    )
    art.save_centroids(
        spark, os.path.join(root, "ivf_codebook"), cents,
        corpus_digest="x", kind="ivf", fit_stats=fit_stats,
        extra_meta={"codebook_digest": cb_dg, "vec_col": "embedding"},
    )
    art.save_ivf_delta(
        assigned, os.path.join(root, "ivf"), id_col="doc_id",
        vec_col="embedding", cell_col="cellz", codebook_digest=cb_dg,
        cell_stats=stats, corpus_digest="x",
    )
    q = [float(x) for x in vecs.orderBy("doc_id").first()["embedding"]]
    ingest.refit_ivf_index(spark, root, sample_rows=200, n_iter=3)
    got = [
        tuple(r)
        for r in sim.ivf_topk_log(
            spark, os.path.join(root, "ivf"),
            os.path.join(root, "ivf_codebook"), q, k=5, nprobe=4,
        ).collect()
    ]
    ref = [
        tuple(r)
        for r in sim.cosine_topk(
            vecs, q, k=5, id_col="doc_id", vec_col="embedding"
        ).collect()
    ]
    assert got == ref
    imeta, _ = art.load_ivf_log_stats(os.path.join(root, "ivf"))
    assert imeta["cell_col"] == "cellz"


# --------------------------------------- reconcile crash convergence


@pytest.mark.slow
def test_reconcile_crash_mid_retire_converges(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A reconciliation that dies during its retirement phase (after
    adjudication, before/between the per-shard retire_docs calls)
    CONVERGES on re-run: surviving losers still collide with their
    kept winners, so the next pass retires exactly the remainder and
    the union ends hash-equal to the single-root golden — no manual
    repair, no double-retire."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(_plant(corpus))
    sroot, groot = str(tmp_path / "s"), str(tmp_path / "g")
    shards.init_sharded_ingest(
        spark, corpus, sroot, n_shards=2, num_hashes=32, bands=8
    )
    ingest.init_ingest_indexes(spark, corpus, groot, num_hashes=32, bands=8)
    shards.ingest_batch_sharded(spark, batch, sroot)
    pub, _ = ingest.ingest_batch(spark, batch, groot)
    pub.unpersist()

    real = ingest.retire_docs
    calls = {"n": 0}

    def crash_first(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash before any retirement")

    monkeypatch.setattr(ingest, "retire_docs", crash_first)
    with pytest.raises(RuntimeError, match="before any retirement"):
        shards.reconcile_sharded_near_dups(spark, sroot)
    monkeypatch.setattr(ingest, "retire_docs", real)
    assert calls["n"] == 1  # adjudication done, zero retirements landed

    # operator restart posture: recover every shard, then reconcile
    rec = shards.recover_sharded_ingest(spark, sroot)
    assert set(rec) == {0, 1} and all(v is None for v in rec.values())
    stats = shards.reconcile_sharded_near_dups(spark, sroot)
    assert stats["n_retired"] > 0
    a = _dig(shards.read_sharded_corpus(spark, sroot).select("doc_id", "text"))
    b = _dig(ingest.read_ingest_corpus(spark, groot).select("doc_id", "text"))
    assert a == b

    # partial-retirement crash: retire succeeds on the FIRST shard the
    # next reconciliation touches, dies before the second — if the
    # adjudication spans both shards, the re-run must finish the rest
    sroot2, groot2 = str(tmp_path / "s2"), str(tmp_path / "g2")
    shards.init_sharded_ingest(
        spark, corpus, sroot2, n_shards=2, num_hashes=32, bands=8
    )
    ingest.init_ingest_indexes(spark, corpus, groot2, num_hashes=32, bands=8)
    shards.ingest_batch_sharded(spark, batch, sroot2)
    pub2, _ = ingest.ingest_batch(spark, batch, groot2)
    pub2.unpersist()
    seen = {"n": 0}

    def crash_second(sp, r, ids, **k):
        seen["n"] += 1
        if seen["n"] == 2:
            raise RuntimeError("injected crash before second shard retire")
        return real(sp, r, ids, **k)

    monkeypatch.setattr(ingest, "retire_docs", crash_second)
    try:
        shards.reconcile_sharded_near_dups(spark, sroot2)
        spanned_both = False  # all losers on one shard — nothing to crash
    except RuntimeError:
        spanned_both = True
    monkeypatch.setattr(ingest, "retire_docs", real)
    shards.reconcile_sharded_near_dups(spark, sroot2)
    a2 = _dig(
        shards.read_sharded_corpus(spark, sroot2).select("doc_id", "text")
    )
    b2 = _dig(
        ingest.read_ingest_corpus(spark, groot2).select("doc_id", "text")
    )
    assert a2 == b2
    # the scenario actually bit in at least one arm of this test
    assert spanned_both or seen["n"] >= 1
