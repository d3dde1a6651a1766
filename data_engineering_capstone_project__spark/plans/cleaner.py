"""Dictionary-driven cleaning planner (SURVEY.md §3 entry point 2).

The reference's "autonomous" core: join a file's column names against two
data-dictionary templates, decide which columns to drop (no clean name, or
clean name marked NOT USED) and which to rename (only clean names mapped by
exactly one raw name), then apply. The reference spends ~500 lines of WHILE
loops and dynamic SQL on this (``shareOurStrengthSQLCodev4.sql:99-270`` ×3
files); here each dictionary is collected once into a Python map
(``collect_dictionary``), the plan is plain Python over the column names
(no Spark job), and it is applied as ONE select.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# raw_data_column_name -> every equivalent_clean_data_name listed for it
Dictionary = dict[str, list[str | None]]


@dataclass
class CleanPlan:
    """Driver-side rename/drop plan (the reference's #deletecolumns +
    #column_renames plan tables, ``:126-130,:172-191``)."""

    drops: list[str] = field(default_factory=list)
    renames: dict[str, str] = field(default_factory=dict)  # raw -> clean


def dictionary_map(pairs: Iterable[tuple[str | None, str | None]]) -> Dictionary:
    """Group (raw_data_column_name, equivalent_clean_data_name) pairs by
    raw name. A NULL raw name never matches a column, as in the
    reference's join, so it is left out."""
    out: Dictionary = {}
    for raw, clean in pairs:
        if raw is not None:
            out.setdefault(raw, []).append(clean)
    return out


def collect_dictionary(df: DataFrame) -> Dictionary:
    """A dictionary template DataFrame as a ``Dictionary``, in one collect."""
    return dictionary_map(
        df.select("raw_data_column_name", "equivalent_clean_data_name").collect()
    )


def build_clean_plan(
    columns: list[str],
    dict1: Dictionary,
    dict2: Dictionary,
    prefer: int = 1,
    not_used_pattern: str = "%NOT USED%",
) -> CleanPlan:
    """Compute the drop/rename plan for a file's columns.

    ``dict1``/``dict2`` map each raw name to its clean names
    (``dictionary_map``). ``prefer`` selects which dictionary wins when
    both map a raw name — the reference is asymmetric (file 1 prefers
    template 2 ``:100-101``, files 2–3 prefer template 1 ``:348-349``);
    we implement coalesce-with-priority (the *intent* — the ``:102-103``
    dead-branch bug is not replicated).

    A column gets one candidate clean name per (dict1 entry, dict2 entry)
    pair, the rows of the reference's two LEFT JOINs: a raw name listed
    twice in one dictionary fans out into two candidates.

    Rules (``:126-130`` drop, ``:172-191`` 1:1 rename):
    - clean name NULL or LIKE ``not_used_pattern`` → drop
    - clean names mapped by ≠1 kept raw column → excluded from rename
      (those raw columns are *kept under their raw names* — the reference
      simply doesn't rename them).
    """
    first, second = (dict1, dict2) if prefer == 1 else (dict2, dict1)
    drops, candidates = [], []
    for name in columns:
        for a in first.get(name) or [None]:
            for b in second.get(name) or [None]:
                clean = a if a is not None else b
                if clean is None or _like(clean, not_used_pattern):
                    drops.append(name)
                else:
                    candidates.append((name, clean))
    # 1:1 rule: a clean name used by more than one raw column is not renamed
    counts: dict[str, int] = {}
    for _, clean in candidates:
        counts[clean] = counts.get(clean, 0) + 1
    renames = {raw: clean for raw, clean in candidates if counts[clean] == 1}
    return CleanPlan(drops=drops, renames=renames)


def _like(value: str, pattern: str) -> bool:
    """SQL LIKE with only %-wildcards (what the reference uses).

    Greedy chunk matching: anchor the first chunk as prefix and the last as
    suffix, then find the middle chunks left-to-right strictly between them.
    """
    parts = pattern.split("%")
    if not value.startswith(parts[0]):
        return False
    if len(parts) == 1:
        return value == parts[0]
    if not value.endswith(parts[-1]):
        return False
    pos = len(parts[0])
    end_limit = len(value) - len(parts[-1])
    for mid in parts[1:-1]:
        if not mid:
            continue
        idx = value.find(mid, pos)
        if idx < 0 or idx + len(mid) > end_limit:
            return False
        pos = idx + len(mid)
    return pos <= end_limit


def apply_clean_plan(
    df: DataFrame,
    plan: CleanPlan,
    row_id_col: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Apply drop+rename as a single Project (the reference's drop loop
    ``:143-154`` + rename fold ``:208-270`` + final copy ``:263-270``).

    Default mode: renamed columns get their clean name; un-dropped
    un-renamed columns are carried under their raw name; ``row_id_col``
    (if present) is carried.

    ``strict=True`` reproduces the reference fold exactly (SURVEY §2.2 P5):
    the output carries ONLY the renamed columns (+ row id) — columns that
    survived the drop but weren't 1:1-renamed are NOT carried forward.
    """
    exprs = []
    for c in df.columns:
        if c == row_id_col:
            exprs.append(F.col(c))
            continue
        if c in plan.drops:
            continue
        if c in plan.renames:
            exprs.append(F.col(c).alias(plan.renames[c]))
        elif not strict:
            exprs.append(F.col(c))
    return df.select(*exprs)
