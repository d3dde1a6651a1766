"""The reference's end-user deliverable as a callable pipeline + CLI.

A user of the reference runs one T-SQL script over (a) two data-dictionary
TSVs and (b) raw state TSV extracts, producing the final wide table plus a
QA comparison against a golden file (shareOurStrengthSQLCodev4.sql, whole
file). This module is that product on Spark: point it at the same files.

    python -m data_engineering_capstone_project__spark.plans.pipeline \
        --lunch lunch.tsv --breakfast breakfast.tsv \
        --dict1 template1.tsv --dict2 template2.tsv \
        --out /path/final_parquet [--golden golden.parquet]

Scale posture: each dictionary is collected once into a driver-side map
and the clean plans are plain Python over the raw headers; the raw files
stream through one Project each; the only shuffles are the final
record-linkage join and the DISTINCT (see SCALE.md).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from data_engineering_capstone_project__spark.plans.cleaner import (
    Dictionary,
    apply_clean_plan,
    build_clean_plan,
    collect_dictionary,
)
from data_engineering_capstone_project__spark.plans.derive import (
    assemble_final,
    derive_breakfast,
    derive_lunch,
)
from data_engineering_capstone_project__spark.plans.qa import qa_vs_golden
from data_engineering_capstone_project__spark.sources.io import read_tsv, write_parquet


def clean_file(
    spark: SparkSession,
    path: str,
    dict1: Dictionary,
    dict2: Dictionary,
    prefer: int,
) -> DataFrame:
    """Ingest one raw TSV and apply its dictionary-driven clean plan
    (reference entry points 1+2: :25-270 per file)."""
    raw = read_tsv(spark, path)
    plan = build_clean_plan(raw.columns, dict1, dict2, prefer=prefer)
    return apply_clean_plan(raw, plan)


def run_reference_pipeline(
    spark: SparkSession,
    lunch_path: str,
    breakfast_path: str,
    dict1_path: str,
    dict2_path: str,
    output_path: str | None = None,
    golden_path: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Full reference flow: ingest → clean → derive → assemble (→ write,
    → QA vs golden). Returns (final_df, qa_report_or_None).

    Template priority mirrors the reference asymmetry (SURVEY §1.3): the
    breakfast file prefers template 2, the lunch file template 1.
    """
    dict1 = collect_dictionary(read_tsv(spark, dict1_path))
    dict2 = collect_dictionary(read_tsv(spark, dict2_path))
    lunch = derive_lunch(clean_file(spark, lunch_path, dict1, dict2, prefer=1))
    breakfast = derive_breakfast(
        clean_file(spark, breakfast_path, dict1, dict2, prefer=2)
    )
    final = assemble_final(lunch, breakfast)
    if output_path:
        write_parquet(final, output_path)
    qa = None
    if golden_path:
        golden = spark.read.parquet(golden_path)
        qa = qa_vs_golden(final, golden)
    return final, qa


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--lunch", required=True)
    ap.add_argument("--breakfast", required=True)
    ap.add_argument("--dict1", required=True)
    ap.add_argument("--dict2", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument("--golden", default=None)
    ap.add_argument("--show", type=int, default=5, help="rows to print")
    ap.add_argument(
        "--diff-sample", type=int, default=5,
        help="differing rows to print per side when QA fails",
    )
    args = ap.parse_args(argv)

    from data_engineering_capstone_project__spark.session import get_spark

    spark = get_spark(app_name="reference_pipeline")
    final, qa = run_reference_pipeline(
        spark, args.lunch, args.breakfast, args.dict1, args.dict2,
        output_path=args.out, golden_path=args.golden,
    )
    print(f"final table: {final.count()} rows x {len(final.columns)} columns")
    final.show(args.show, truncate=False)
    if qa is not None:
        row = qa.collect()[0]
        note = f" note={row['note']}" if row["note"] else ""
        print(
            f"QA: count_a={row['count_a']} count_b={row['count_b']} "
            f"common={row['count_common']} equivalent={row['equivalent']}{note}"
        )
        if not row["equivalent"]:
            # show *where* the tables differ, not just that they do — the
            # reference's INTERSECT counts (:1116-1126) never say which rows
            if not row["note"]:
                from data_engineering_capstone_project__spark.plans.qa import (
                    qa_diff,
                )

                golden = spark.read.parquet(args.golden)
                produced = final.select(*golden.columns)
                for d in (
                    qa_diff(produced, golden)
                    .limit(2 * args.diff_sample)
                    .collect()
                ):
                    side = (
                        "produced-only" if d["side"] == "A" else "golden-only"
                    )
                    vals = {k: d[k] for k in golden.columns[:8]}
                    print(f"  [{side}] {vals}")
            return 2
        return 0
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
