"""Driver-gated end-to-end OMOP pipeline queries.

The flagship_cohort_pipeline query verifies the reference dataflow on
its TPC-H *analog*; these two queries verify the REAL pipeline —
``plans/run.py::run_pipeline`` over the golden-patient OMOP fixtures
(plans/fixtures.py, FIXTURES.md) — under the same external oracle gate.

Both the Spark input tables and the DuckDB oracle's VALUES clauses are
generated from the same fixture literals, so the two engines provably
consume identical bytes; the oracle then re-implements scripts 2→3→4
(cohort build → BP flags → e-phenotype,
2_data_importing_cleaning.R / 3_blood_pressure.R /
4_hypertension_phenotype_main.R) in independent ANSI SQL.

The queries ignore ``sf_dir`` (their input is the fixture set, not the
driver testdata) — the callable signature is kept for the registry
contract.
"""

from __future__ import annotations

import atexit
import datetime as dt
import shutil
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession

from .plans import fixtures as fx
from .registry import register
from .sources.codelists import DBP_CONCEPTS, MMHG_UNIT_CONCEPT, SBP_CONCEPTS

YEAR = 2023


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


def _values_cte(name: str, cols: list[str], rows: list[tuple],
                idx: list[int]) -> str:
    """CTE `name(cols…) AS (VALUES …)` from the fixture row tuples,
    projecting tuple positions ``idx`` (descriptive columns the
    pipeline never reads are dropped to keep the SQL small)."""
    vals = ",\n        ".join(
        "(" + ", ".join(_lit(r[i]) for i in idx) + ")" for r in rows
    )
    return f"{name}({', '.join(cols)}) AS (VALUES\n        {vals}\n    )"


def _in(codes) -> str:
    return "(" + ", ".join(str(c) for c in codes) + ")"


def _readings_cte(name: str, concepts, lo: int, hi: int, out: str) -> str:
    """One BP side of plans/bp.paired_daily_bp: codelist + unit +
    look-back years + plausibility band → same-day average, half-even
    1dp (the plan computes both sides in one aggregation; the oracle
    joins the two)."""
    return f"""{name} AS (
        SELECT PATIENT_LINKAGE AS k, MEASUREMENT_DATE AS d,
               round_even(AVG(VALUE_AS_NUMBER::DOUBLE), 1) AS {out}
        FROM measurement
        WHERE MEASUREMENT_CONCEPT_ID IN {_in(concepts)}
          AND UNIT_CONCEPT_ID = {MMHG_UNIT_CONCEPT}
          AND year(MEASUREMENT_DATE) IN ({YEAR - 1}, {YEAR})
          AND VALUE_AS_NUMBER IS NOT NULL
          AND VALUE_AS_NUMBER BETWEEN {lo} AND {hi}
        GROUP BY 1, 2
    )"""


def _omop_pipeline_ctes() -> str:
    """The full scripts-2→4 pipeline as a WITH chain ending in a
    ``phenotype`` CTE (one row per eligible patient, all flags)."""
    cl = fx.CODELISTS
    person = _values_cte(
        "person",
        ["PATIENT_LINKAGE", "YEAR_OF_BIRTH", "ETHNICITY_SOURCE_VALUE",
         "GENDER_SOURCE_VALUE", "LOCATION_ZIP", "LOCATION_STATE"],
        fx.PERSON_ROWS, [0, 1, 2, 3, 5, 6],
    )
    measurement = _values_cte(
        "measurement",
        ["PATIENT_LINKAGE", "MEASUREMENT_DATE", "MEASUREMENT_CONCEPT_ID",
         "VALUE_AS_NUMBER", "UNIT_CONCEPT_ID"],
        fx.MEASUREMENT_ROWS, [0, 1, 2, 4, 5],
    )
    condition = _values_cte(
        "condition",
        ["PATIENT_LINKAGE", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE"],
        fx.CONDITION_ROWS, [0, 1, 3],
    )
    observation = _values_cte(
        "observation",
        ["PATIENT_LINKAGE", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE"],
        fx.OBSERVATION_ROWS, [0, 1, 2],
    )
    procedure = _values_cte(
        "procedure_t",
        ["PATIENT_LINKAGE", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE"],
        fx.PROCEDURE_ROWS, [0, 1, 2],
    )
    drug = _values_cte(
        "drug",
        ["PATIENT_LINKAGE", "DRUG_CONCEPT_ID", "DRUG_EXPOSURE_START_DATE"],
        fx.DRUG_ROWS, [0, 1, 2],
    )

    def domain(table: str, concept_col: str, date_col: str, codes,
               years) -> str:
        return (f"SELECT PATIENT_LINKAGE AS k FROM {table} "
                f"WHERE {concept_col} IN {_in(codes)} "
                f"AND year({date_col}) IN ({', '.join(str(y) for y in years)})")

    lookback = [YEAR - 1, YEAR]
    preg_union = "\n            UNION ALL ".join([
        domain("condition", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE",
               cl["preg_condition"], [YEAR]),
        domain("measurement", "MEASUREMENT_CONCEPT_ID", "MEASUREMENT_DATE",
               cl["preg_measurement"], [YEAR]),
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE",
               cl["preg_observation"], [YEAR]),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE",
               cl["preg_procedure"], [YEAR]),
    ])
    esrd_union = "\n            UNION ALL ".join([
        domain("condition", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE",
               cl["esrd_condition"], lookback),
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE",
               cl["esrd_observation"], lookback),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE",
               cl["esrd_procedure"], lookback),
    ])
    care_union = "\n            UNION ALL ".join([
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE",
               cl["palliative_observation"], lookback),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE",
               cl["palliative_procedure"], lookback),
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE",
               cl["hospice_observation"], lookback),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE",
               cl["hospice_procedure"], lookback),
    ])

    return f"""
    WITH {person},
    {measurement},
    {condition},
    {observation},
    {procedure},
    {drug},
    -- script 2: base population (quote-trim, null-key filter)
    pop AS (
        SELECT PATIENT_LINKAGE AS k, YEAR_OF_BIRTH AS yob,
               trim(ETHNICITY_SOURCE_VALUE, '"') AS race,
               trim(GENDER_SOURCE_VALUE, '"') AS sex,
               trim(LOCATION_ZIP, '"') AS zip3,
               LOCATION_STATE AS state
        FROM person WHERE PATIENT_LINKAGE IS NOT NULL
    ),
    -- mis-bridge cleanup: identity-consistent keys, located rows,
    -- deterministic one-row survivor
    consistent AS (
        SELECT k FROM pop GROUP BY k
        HAVING COUNT(DISTINCT yob) = 1 AND COUNT(DISTINCT sex) = 1
           AND COUNT(DISTINCT race) = 1
    ),
    located AS (
        SELECT pop.* FROM pop JOIN consistent USING (k)
        WHERE state IS NOT NULL AND zip3 IS NOT NULL
    ),
    adults AS (
        SELECT k, yob, race, sex, zip3, state FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                         ORDER BY state, zip3) AS rn
            FROM located
        ) WHERE rn = 1 AND yob <= {YEAR - 18}
    ),
    -- exclusions: pregnancy (women 18-44), ESRD, palliative/hospice
    wra AS (
        SELECT k FROM adults
        WHERE yob BETWEEN {YEAR - 44} AND {YEAR - 18} AND sex = 'F'
    ),
    preg_keys AS (
        SELECT DISTINCT k FROM (
            {preg_union}
        ) JOIN wra USING (k)
    ),
    esrd_keys AS (
        SELECT DISTINCT k FROM (
            {esrd_union}
        )
    ),
    care_keys AS (
        SELECT DISTINCT k FROM (
            {care_union}
        )
    ),
    cohort AS (
        SELECT a.k FROM adults a
        WHERE NOT EXISTS (SELECT 1 FROM preg_keys p WHERE p.k = a.k)
          AND NOT EXISTS (SELECT 1 FROM esrd_keys e WHERE e.k = a.k)
          AND NOT EXISTS (SELECT 1 FROM care_keys c WHERE c.k = a.k)
    ),
    -- script 3: paired same-day BP, visit flags, per-patient flags
    {_readings_cte('sbp', SBP_CONCEPTS, 30, 300, 'SBP')},
    {_readings_cte('dbp', DBP_CONCEPTS, 20, 150, 'DBP')},
    paired AS (
        SELECT sbp.k, sbp.d, SBP, DBP
        FROM sbp JOIN dbp ON sbp.k = dbp.k AND sbp.d = dbp.d
    ),
    denom AS (SELECT DISTINCT k, 1 AS has_bp FROM paired),
    visits AS (
        SELECT k, d, SBP, DBP,
               CASE WHEN SBP >= 140 OR DBP >= 90 THEN 1 ELSE 0 END AS hbp140,
               CASE WHEN SBP >= 130 OR DBP >= 80 THEN 1 ELSE 0 END AS hbp130
        FROM paired WHERE year(d) = {YEAR}
    ),
    htn AS (
        SELECT k,
               CASE WHEN SUM(hbp140) >= 2 THEN 1 ELSE 0 END AS HTN140_90,
               CASE WHEN SUM(hbp130) >= 2 THEN 1 ELSE 0 END AS HTN130_80
        FROM visits GROUP BY k
    ),
    control AS (
        SELECT k,
               CASE WHEN SBP < 140 AND DBP < 90 THEN 1 ELSE 0 END
                   AS HTNcontrol140,
               CASE WHEN SBP < 130 AND DBP < 80 THEN 1 ELSE 0 END
                   AS HTNcontrol130
        FROM (
            SELECT k, SBP, DBP,
                   ROW_NUMBER() OVER (PARTITION BY k ORDER BY d DESC) AS rn
            FROM visits
        ) WHERE rn = 1
    ),
    bp_flags AS (
        SELECT c.k,
               COALESCE(denom.has_bp, 0) AS has_bp,
               COALESCE(htn.HTN140_90, 0) AS HTN140_90,
               COALESCE(htn.HTN130_80, 0) AS HTN130_80,
               COALESCE(control.HTNcontrol140, 0) AS HTNcontrol140,
               COALESCE(control.HTNcontrol130, 0) AS HTNcontrol130
        FROM cohort c
        LEFT JOIN denom ON denom.k = c.k
        LEFT JOIN htn ON htn.k = c.k
        LEFT JOIN control ON control.k = c.k
    ),
    -- script 4: dx / meds evidence, OR phenotype
    dx AS (
        SELECT DISTINCT PATIENT_LINKAGE AS k, 1 AS HTN_DX FROM condition
        WHERE CONDITION_CONCEPT_ID IN {_in(cl["htn_dx"])}
          AND year(CONDITION_START_DATE) = {YEAR}
    ),
    meds AS (
        SELECT DISTINCT PATIENT_LINKAGE AS k, 1 AS HTN_MEDS FROM drug
        WHERE DRUG_CONCEPT_ID IN {_in(cl["htn_rx"])}
          AND year(DRUG_EXPOSURE_START_DATE) = {YEAR}
    ),
    phenotype AS (
        SELECT b.k AS PATIENT_LINKAGE, b.has_bp, b.HTN140_90, b.HTN130_80,
               b.HTNcontrol140, b.HTNcontrol130,
               COALESCE(dx.HTN_DX, 0) AS HTN_DX,
               COALESCE(meds.HTN_MEDS, 0) AS HTN_MEDS,
               CASE WHEN COALESCE(dx.HTN_DX, 0) = 1
                      OR COALESCE(meds.HTN_MEDS, 0) = 1
                      OR b.HTN140_90 = 1 THEN 1 ELSE 0 END
                   AS hypertension_140,
               CASE WHEN COALESCE(dx.HTN_DX, 0) = 1
                      OR COALESCE(meds.HTN_MEDS, 0) = 1
                      OR b.HTN130_80 = 1 THEN 1 ELSE 0 END
                   AS hypertension_130
        FROM bp_flags b
        LEFT JOIN dx ON dx.k = b.k
        LEFT JOIN meds ON meds.k = b.k
    )"""


# Staged-run cache: both registered OMOP queries (and repeated bench /
# driver invocations) consume the same fixture pipeline, so the staged
# result is computed once per live SparkSession.  Keyed weakly so a
# stopped/replaced session does not pin its DataFrames; the checkpoint
# temp dirs are registered for removal at interpreter exit (the parquet
# files must outlive the call — the driver collects lazily).
_STAGES_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
_CHECKPOINT_DIRS: list[str] = []


@atexit.register
def _cleanup_checkpoint_dirs() -> None:
    while _CHECKPOINT_DIRS:
        shutil.rmtree(_CHECKPOINT_DIRS.pop(), ignore_errors=True)


def _run_stages(spark: SparkSession) -> dict[str, DataFrame]:
    """Run the real staged pipeline (plans/run.py) over the fixture
    tables, once per SparkSession. Checkpoints land in a temp dir that
    outlives the call (the returned DataFrames are backed by those
    parquet files; the driver collects them after this function
    returns) and is removed at interpreter exit."""
    from .plans.run import run_pipeline

    cached = _STAGES_CACHE.get(spark)
    if cached is not None:
        return cached
    out_dir = tempfile.mkdtemp(prefix="spark_graft_omop_e2e_")
    _CHECKPOINT_DIRS.append(out_dir)
    stages = run_pipeline(spark, fx.build_tables(spark), fx.CODELISTS,
                          out_dir, year=YEAR)
    _STAGES_CACHE[spark] = stages
    return stages


@register(
    "omop_pipeline_e2e",
    oracle=_omop_pipeline_ctes() + """
    SELECT PATIENT_LINKAGE, has_bp, HTN140_90, HTN130_80, HTNcontrol140,
           HTNcontrol130, HTN_DX, HTN_MEDS, hypertension_140,
           hypertension_130
    FROM phenotype
    """,
)
def omop_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline itself, driver-verified per patient:
    run_pipeline (cohort → BP flags → phenotype, parquet-checkpointed
    stage boundaries) over the golden-patient fixtures; returns the
    per-patient phenotype table, every flag oracle-checked."""
    return _run_stages(spark)["phenotype"].select(
        "PATIENT_LINKAGE", "has_bp", "HTN140_90", "HTN130_80",
        "HTNcontrol140", "HTNcontrol130", "HTN_DX", "HTN_MEDS",
        "hypertension_140", "hypertension_130",
    )


@register(
    "omop_phenotype_stats",
    oracle=_omop_pipeline_ctes() + """
    SELECT hypertension_140, COUNT(*) AS n
    FROM phenotype GROUP BY ROLLUP (hypertension_140)
    """,
)
def omop_phenotype_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's final prevalence table (script 4's tabyl +
    adorn_totals): phenotype frequency with a rollup totals row, from
    the same staged run."""
    return _run_stages(spark)["stats"]
