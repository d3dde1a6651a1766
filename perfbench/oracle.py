"""Independent oracle for the state pipeline, computed with DuckDB and
never with the engine.

``write_state_golden`` writes one state's expected final table, following
the ``REF_PIPELINE_SQL`` logic of ``__spark_entry__.py`` over the generated
raw TSVs, under the column names and types the engine produces, so the
engine's own QA gate (``plans.qa.qa_vs_golden``) compares real rows.
"""

from __future__ import annotations

# produced column name -> DuckDB expression over the derived CTEs; the
# golden carries exactly these columns (the reference QA compares the
# sponsor's narrower file, so the produced table may have more)
GOLDEN_COLUMNS = {
    "school name": "l.school_name",
    "claim date": "l.claim_date",
    "School Type-Original": "l.school_type_original",
    "FR Lunch Meals": "l.fr_lunch_meals",
    "FR Lunch ADP": "l.fr_lunch_adp",
    "Unique ID": "l.unique_id",
    "NCES ID": "l.nces_id",
    "FR Enrollment": "l.fr_enrollment",
    "FR Enrollment Percentage": "l.fr_enrollment_pct",
    "School Level-Standardized": "l.school_level_std",
    "School Type-Standardized": "l.school_type_std",
    "Breakfast Delivery Model from State Agency-Original": "b.delivery_model",
    "FR Breakfast Meals": "b.fr_breakfast_meals",
    "FR Breakfast ADP": "b.fr_breakfast_adp",
    "School_Year": "b.school_year_filled",
    "Target Area": "b.target_area",
}


def _golden_sql(lunch: str, breakfast: str, name_col: str) -> str:
    # The reference hard-codes 'WI' into the unique id (SURVEY D7) and
    # the engine follows it for every state; the oracle does the same.
    d = lambda c: f"TRY_CAST({c} AS DOUBLE)"  # noqa: E731
    cols = ",\n  ".join(f'{e} AS "{n}"' for n, e in GOLDEN_COLUMNS.items())
    return f"""
WITH lunch AS (
  SELECT * FROM read_csv('{lunch}', delim='\t', header=true, all_varchar=true,
                         quote='', escape='')
),
brkf AS (
  SELECT * FROM read_csv('{breakfast}', delim='\t', header=true,
                         all_varchar=true, quote='', escape='')
),
dl AS (
  SELECT "{name_col}" AS school_name, CLAIM_DATE AS claim_date,
    DISTRICT_ID AS district_id, SCHOOL_ID AS school_id,
    CASE WHEN PUBLIC='YES' AND "SCHOOL TYPE"<>'RCCI' THEN 'Public'
         WHEN PUBLIC='NO' AND "SCHOOL TYPE"<>'RCCI' THEN 'Nonpublic'
         WHEN PUBLIC='YES' AND "SCHOOL TYPE"='RCCI' THEN 'Public RCCI'
         WHEN PUBLIC='NO' AND "SCHOOL TYPE"='RCCI' THEN 'Nonpublic RCCI'
    END AS school_type_original,
    {d('LUNCH_FREE')} + {d('LUNCH_RED')} AS fr_lunch_meals,
    ({d('LUNCH_FREE')} + {d('LUNCH_RED')}) / NULLIF({d('DAYS_LUNCH')}, 0)
      AS fr_lunch_adp,
    'WI-0' || COALESCE(SCHOOL_ID, '') || '-' || COALESCE(DISTRICT_ID, '')
      AS unique_id,
    right('000000' || DISTRICT_ID, 6) AS nces_id,
    {d('ENR_FREE')} + {d('ENR_RED')} AS fr_enrollment,
    CASE WHEN CEP_FLAG='N' THEN ({d('ENR_FREE')} + {d('ENR_RED')})
                                / NULLIF({d('ENR_TOT')}, 0)
         WHEN CEP_FLAG='Y' THEN {d('LUNCH_FREE')}
                                / NULLIF({d('LUNCH_FREE')} + {d('LUNCH_PAID')}, 0)
    END AS fr_enrollment_pct,
    CASE WHEN SCHOOL_LEVEL IS NULL THEN 'Unknown'
         WHEN SCHOOL_LEVEL='High School' THEN 'High'
         WHEN SCHOOL_LEVEL='Elementary/Sec Combined' THEN 'Other'
         WHEN SCHOOL_LEVEL='RCCI' THEN 'Other'
         WHEN SCHOOL_LEVEL='Unknown' THEN 'Unknown'
         WHEN SCHOOL_LEVEL='Elementary School' THEN 'Primary'
         WHEN SCHOOL_LEVEL='Junior H.S' THEN 'Middle/High'
         WHEN SCHOOL_LEVEL='Middle School' THEN 'Middle'
    END AS school_level_std
  FROM lunch
),
dl2 AS (
  SELECT *,
    CASE WHEN school_type_original='Public' THEN 'Public'
         WHEN school_type_original='Nonpublic' THEN 'Nonpublic'
         WHEN school_type_original='Public RCCI' THEN 'Other'
    END AS school_type_std
  FROM dl
),
db AS (
  SELECT SCHOOL_NAME AS school_name, CLAIM_DATE AS claim_date,
    DISTRICT_ID AS district_id,
    'O=' || COALESCE(TRADITIONAL_MODEL, '') || ', P=' || COALESCE(MID_MORNING_MODEL, '')
     || ', Q=' || COALESCE(CLASSROOM_MODEL, '') || ', R=' || COALESCE(REDUCED_PRICE_MODEL, '')
     || ', S=' || COALESCE(GRAB_N_GO_MODEL, '') || ', T=' || COALESCE(FREE_MODEL, '')
      AS delivery_model,
    {d('BRKF_FREE')} + {d('BRKF_RED')} AS fr_breakfast_meals,
    ({d('BRKF_FREE')} + {d('BRKF_RED')}) / NULLIF({d('DAYS_BRKF')}, 0)
      AS fr_breakfast_adp,
    COALESCE(SCHOOL_YEAR, '17-18') AS school_year_filled,
    CAST(NULL AS VARCHAR) AS target_area
  FROM brkf
)
SELECT DISTINCT
  {cols}
FROM dl2 l JOIN db b
  ON l.school_name = b.school_name AND l.claim_date = b.claim_date
 AND right('000000' || l.district_id, 6) = right('000000' || b.district_id, 6)
"""


def write_state_golden(con, state: dict, dict1: str, out_path: str) -> int:
    """Write one state's golden parquet; return its row count. ``dict1``
    is the state's lunch dictionary: it names the raw school-name column."""
    with open(state["lunch"]) as f:
        header = f.readline().rstrip("\n").split("\t")
    with open(dict1) as f:
        raw_names = [
            line.split("\t")[1] for line in f
            if line.split("\t")[2] == "school name"
        ]
    name_col = next(c for c in raw_names if c in header)
    sql = _golden_sql(state["lunch"], state["breakfast"], name_col)
    con.execute(f"COPY ({sql}) TO '{out_path}' (FORMAT parquet)")
    return con.execute(f"SELECT count(*) FROM read_parquet('{out_path}')").fetchone()[0]
