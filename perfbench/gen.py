"""Seeded input generators for the benchmark.

Everything the engine sees comes from here, and the same seed gives
byte-identical files:

- ``write_states``: per-state raw lunch/breakfast TSVs plus the two data
  dictionaries, in the shapes ``tests/test_multistate.py`` uses, with
  header drift (an undictionaried extra column, a permuted column order,
  one state that ships its own dictionary).
- ``doc_stream``: a bootstrap corpus and fixed-size ingest batches with
  planted exact and near duplicates, planted the way
  ``tools/gen_scale_data.py`` plants them.
"""

from __future__ import annotations

import os
import random

DICT_HEADER = [
    "raw_data_column", "raw_data_column_name",
    "equivalent_clean_data_name", "notes",
]
DICT1_ROWS = [
    ("c1", "SCHOOL_NAME", "school name", ""),
    ("c2", "CLAIM_DATE", "claim date", ""),
    ("c3", "DISTRICT_ID", "district id", ""),
    ("c4", "PUBLIC", "PUBLIC", ""),
    ("c5", "SCHOOL TYPE", "SCHOOL TYPE", ""),
    ("c6", "LUNCH_FREE", "Lunch Meals-Free", ""),
    ("c7", "LUNCH_RED", "Lunch Meals-Reduced", ""),
    ("c8", "LUNCH_PAID", "Lunch Meals-Paid", ""),
    ("c9", "DAYS_LUNCH", "Operating Days-Lunch Only", ""),
    ("c10", "ENR_FREE", "Enrollment-Free", ""),
    ("c11", "ENR_RED", "Enrollment-Reduced", ""),
    ("c12", "ENR_TOT", "Enrollment-Total", ""),
    ("c13", "CEP_FLAG", "CEP (Y/N)", ""),
    ("c14", "SCHOOL_ID", "School ID", ""),
    ("c15", "SCHOOL_LEVEL", "School Level-Original", ""),
    ("c16", "OLD_COL", "THIS IS NOT USED", ""),
]
DICT2_ROWS = [
    ("b1", "SCHOOL_NAME", "school name", ""),
    ("b2", "CLAIM_DATE", "claim date", ""),
    ("b3", "DISTRICT_ID", "district id", ""),
    ("b4", "TRADITIONAL_MODEL", "TRADITIONAL_MODEL", ""),
    ("b5", "MID_MORNING_MODEL", "MID_MORNING_MODEL", ""),
    ("b6", "CLASSROOM_MODEL", "CLASSROOM_MODEL", ""),
    ("b7", "REDUCED_PRICE_MODEL", "REDUCED_PRICE_MODEL", ""),
    ("b8", "GRAB_N_GO_MODEL", "GRAB_N_GO_MODEL", ""),
    ("b9", "FREE_MODEL", "FREE_MODEL", ""),
    ("b10", "BRKF_FREE", "Breakfast Meals-Free", ""),
    ("b11", "BRKF_RED", "Breakfast Meals-Reduced", ""),
    ("b12", "DAYS_BRKF", "Operating Days-Breakfast Only", ""),
    ("b13", "SCHOOL_YEAR", "School Year", ""),
]
LUNCH_HEADER = [
    "SCHOOL_NAME", "CLAIM_DATE", "DISTRICT_ID", "PUBLIC", "SCHOOL TYPE",
    "LUNCH_FREE", "LUNCH_RED", "LUNCH_PAID", "DAYS_LUNCH", "ENR_FREE",
    "ENR_RED", "ENR_TOT", "CEP_FLAG", "SCHOOL_ID", "SCHOOL_LEVEL", "OLD_COL",
]
BRKF_HEADER = [
    "SCHOOL_NAME", "CLAIM_DATE", "DISTRICT_ID", "TRADITIONAL_MODEL",
    "MID_MORNING_MODEL", "CLASSROOM_MODEL", "REDUCED_PRICE_MODEL",
    "GRAB_N_GO_MODEL", "FREE_MODEL", "BRKF_FREE", "BRKF_RED", "DAYS_BRKF",
    "SCHOOL_YEAR",
]
# the state with its own dictionary renames SCHOOL_NAME in its lunch file
OWN_DICT_NAME_COL = "SCH_NAME"
MONTHS = ("2017-10", "2017-11")
LEVELS = (
    "High School", "Elementary/Sec Combined", "RCCI", "Unknown",
    "Elementary School", "Junior H.S", "Middle School", "Pre-K", "",
)


def _write_tsv(path: str, header: list[str], rows: list[tuple]) -> None:
    with open(path, "w", newline="\n") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def state_codes(n: int) -> list[str]:
    """``n`` distinct two-letter state codes, AA, AB, ..."""
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    return [letters[i // 26] + letters[i % 26] for i in range(n)]


def _state_rows(rng: random.Random, state: str, n_schools: int):
    """Raw lunch and breakfast rows (dict keyed by LUNCH/BRKF header) for
    one state: ``n_schools`` × every month, about 5% of schools without a
    breakfast file entry, a few exact duplicate lunch lines, and some
    zero operating days so the ADP ratios take their NULL branch."""
    lunch, brkf = [], []
    for i in range(n_schools):
        name = f"{state} School {i}"
        did = str(rng.randrange(1, 999_999))
        public = rng.choice(("YES", "YES", "YES", "NO"))
        stype = "RCCI" if rng.random() < 0.05 else "REGULAR"
        level = rng.choice(LEVELS)
        cep = rng.choice(("Y", "N", "N"))
        no_brkf = rng.random() < 0.05
        for month in MONTHS:
            enr_tot = rng.randrange(50, 2000)
            enr_free = rng.randrange(0, enr_tot // 2 + 1)
            enr_red = rng.randrange(0, enr_tot // 4 + 1)
            days = rng.choice((0, 18, 19, 20, 20, 21, 22))
            row = {
                "SCHOOL_NAME": name, "CLAIM_DATE": month, "DISTRICT_ID": did,
                "PUBLIC": public, "SCHOOL TYPE": stype,
                "LUNCH_FREE": str(rng.randrange(0, 20 * enr_free + 1)),
                "LUNCH_RED": str(rng.randrange(0, 20 * enr_red + 1)),
                "LUNCH_PAID": str(rng.randrange(0, 10 * enr_tot)),
                "DAYS_LUNCH": str(days), "ENR_FREE": str(enr_free),
                "ENR_RED": str(enr_red), "ENR_TOT": str(enr_tot),
                "CEP_FLAG": cep, "SCHOOL_ID": str(i), "SCHOOL_LEVEL": level,
                "OLD_COL": "junk",
            }
            lunch.append(row)
            if rng.random() < 0.01:
                lunch.append(dict(row))  # exact duplicate line
            if no_brkf:
                continue
            flags = {
                k: rng.choice(("Y", "N", "N"))
                for k in BRKF_HEADER[3:9]
            }
            brkf.append({
                "SCHOOL_NAME": name, "CLAIM_DATE": month,
                "DISTRICT_ID": did.zfill(6), **flags,
                "BRKF_FREE": str(rng.randrange(0, 10 * enr_free + 1)),
                "BRKF_RED": str(rng.randrange(0, 10 * enr_red + 1)),
                "DAYS_BRKF": str(rng.choice((0, 19, 20, 21))),
                "SCHOOL_YEAR": rng.choice(("17-18", "17-18", "")),
            })
    return lunch, brkf


def write_states(out_dir: str, seed: int, n_states: int, n_schools: int) -> dict:
    """Write ``n_states`` states' raw TSVs and the dictionaries under
    ``out_dir``; return a manifest dict (``plans.multistate`` layout)
    whose per-state entries also carry ``drift`` (what is unusual about
    that state's files)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"states-{seed}")
    d1 = os.path.join(out_dir, "dict1.tsv")
    d2 = os.path.join(out_dir, "dict2.tsv")
    _write_tsv(d1, DICT_HEADER, DICT1_ROWS)
    _write_tsv(d2, DICT_HEADER, DICT2_ROWS)
    own_dict = os.path.join(out_dir, "own_dict1.tsv")
    _write_tsv(
        own_dict, DICT_HEADER,
        [("c0", OWN_DICT_NAME_COL, "school name", "")]
        + [r for r in DICT1_ROWS if r[1] != "SCHOOL_NAME"],
    )
    states = []
    for k, st in enumerate(state_codes(n_states)):
        lunch, brkf = _state_rows(rng, st, n_schools)
        lh, bh = list(LUNCH_HEADER), list(BRKF_HEADER)
        ent = {"state": st, "drift": "none"}
        if k == 0 and n_states > 1:  # the one state with its own dictionary
            lh[lh.index("SCHOOL_NAME")] = OWN_DICT_NAME_COL
            for r in lunch:
                r[OWN_DICT_NAME_COL] = r.pop("SCHOOL_NAME")
            ent["dict1"] = own_dict
            ent["drift"] = "own_dictionary"
        elif k % 3 == 1:  # undictionaried extra column, kept under its raw name
            lh.append("EXTRA_STATE_COL")
            for r in lunch:
                r["EXTRA_STATE_COL"] = f"x{rng.randrange(10)}"
            ent["drift"] = "extra_column"
        elif k % 3 == 2:  # same columns, another order
            rng.shuffle(lh)
            rng.shuffle(bh)
            ent["drift"] = "permuted_columns"
        lp = os.path.join(out_dir, f"{st.lower()}_lunch.tsv")
        bp = os.path.join(out_dir, f"{st.lower()}_breakfast.tsv")
        _write_tsv(lp, lh, [tuple(r[c] for c in lh) for r in lunch])
        _write_tsv(bp, bh, [tuple(r[c] for c in bh) for r in brkf])
        ent.update(lunch=lp, breakfast=bp)
        states.append(ent)
    return {"dict1": d1, "dict2": d2, "states": states}


# ----------------------------------------------------------- doc stream

def doc_stream(
    seed: int,
    n_boot: int,
    n_ticks: int,
    tick_size: int,
    exact_share: float,
    near_share: float,
) -> tuple[list[tuple[int, str]], list[list[tuple[int, str]]]]:
    """(bootstrap docs, ticks) of ``(doc_id, text)``. Each tick holds
    ``tick_size`` docs: ``exact_share`` byte-identical copies of earlier
    fresh docs, ``near_share`` copies of earlier fresh docs with ~5% of
    words substituted, the rest fresh Zipf text over 5,000 random-letter
    words (so unrelated docs share almost no character shingles, as in
    real corpora). Vocabulary, Zipf exponent and the planting follow
    ``tools/gen_scale_data.py``."""
    rng = random.Random(f"docs-{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(8)) for _ in range(5000)})
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(vocab))]

    def fresh() -> str:
        # 10-100 words, uniform: the length distribution of the documents
        # tools/gen_scale_data.py samples its lengths from
        return " ".join(rng.choices(vocab, weights, k=rng.randrange(10, 101)))

    next_id = 0
    base: list[str] = []  # fresh docs: the sources of planted duplicates

    def take(text: str) -> tuple[int, str]:
        nonlocal next_id
        next_id += 1
        return next_id - 1, text

    boot = [take(fresh()) for _ in range(n_boot)]
    base.extend(t for _, t in boot)
    ticks = []
    n_exact = round(tick_size * exact_share)
    n_near = round(tick_size * near_share)
    for _ in range(n_ticks):
        texts = [rng.choice(base) for _ in range(n_exact)]
        for _ in range(n_near):
            words = rng.choice(base).split(" ")
            for j in rng.sample(range(len(words)), max(1, len(words) // 20)):
                words[j] = rng.choices(vocab, weights)[0]
            texts.append(" ".join(words))
        new = [fresh() for _ in range(tick_size - n_exact - n_near)]
        base.extend(new)
        texts += new
        rng.shuffle(texts)
        ticks.append([take(t) for t in texts])
    return boot, ticks
