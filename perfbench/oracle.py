"""DuckDB oracles the benchmark checks Spark outputs against.

``omop_phenotype_sql`` is an independent SQL form of cohort -> BP flags
-> e-phenotype (scripts 2 -> 3 -> 4), modelled on the golden-fixture
oracle in ``queries_omop._omop_pipeline_ctes`` but reading the generated
Parquet tables and taking the codelists as an argument.
"""

from __future__ import annotations

import os

import duckdb

from gen_omop import DBP_CONCEPTS, MMHG, SBP_CONCEPTS, TABLES, YEAR

_VIEW = {"procedure": "procedure_t", "drug_exposure": "drug"}

PHENOTYPE_COLS = ("PATIENT_LINKAGE", "has_bp", "HTN140_90", "HTN130_80",
                  "HTNcontrol140", "HTNcontrol130", "HTN_DX", "HTN_MEDS",
                  "hypertension_140", "hypertension_130")


def connect_omop(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {_VIEW.get(t, t)} AS SELECT * FROM read_parquet('{path}')")
    return con


def _in(codes) -> str:
    return "(" + ", ".join(str(int(c)) for c in codes) + ")"


def _readings(name: str, concepts, lo: int, hi: int, out: str) -> str:
    return f"""{name} AS (
        SELECT PATIENT_LINKAGE AS k, MEASUREMENT_DATE AS d,
               round_even(AVG(VALUE_AS_NUMBER), 1) AS {out}
        FROM measurement
        WHERE MEASUREMENT_CONCEPT_ID IN {_in(concepts)}
          AND UNIT_CONCEPT_ID = {MMHG}
          AND year(MEASUREMENT_DATE) IN ({YEAR - 1}, {YEAR})
          AND VALUE_AS_NUMBER BETWEEN {lo} AND {hi}
        GROUP BY 1, 2
    )"""


def omop_phenotype_sql(cl: dict[str, list[int]]) -> str:
    """WITH chain ending in a ``phenotype`` CTE: one row per eligible
    patient with every flag."""

    def domain(table, concept_col, date_col, codes, years) -> str:
        return (f"SELECT PATIENT_LINKAGE AS k FROM {table} "
                f"WHERE {concept_col} IN {_in(codes)} "
                f"AND year({date_col}) IN ({', '.join(str(y) for y in years)})")

    lb = [YEAR - 1, YEAR]
    preg = " UNION ALL ".join([
        domain("condition", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE", cl["preg_condition"], [YEAR]),
        domain("measurement", "MEASUREMENT_CONCEPT_ID", "MEASUREMENT_DATE", cl["preg_measurement"], [YEAR]),
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", cl["preg_observation"], [YEAR]),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", cl["preg_procedure"], [YEAR]),
    ])
    esrd = " UNION ALL ".join([
        domain("condition", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE", cl["esrd_condition"], lb),
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", cl["esrd_observation"], lb),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", cl["esrd_procedure"], lb),
    ])
    care = " UNION ALL ".join([
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", cl["palliative_observation"], lb),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", cl["palliative_procedure"], lb),
        domain("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", cl["hospice_observation"], lb),
        domain("procedure_t", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", cl["hospice_procedure"], lb),
    ])
    return f"""
    WITH pop AS (
        SELECT PATIENT_LINKAGE AS k, YEAR_OF_BIRTH AS yob,
               trim(ETHNICITY_SOURCE_VALUE, '"') AS race,
               trim(GENDER_SOURCE_VALUE, '"') AS sex,
               trim(LOCATION_ZIP, '"') AS zip3,
               LOCATION_STATE AS state
        FROM person WHERE PATIENT_LINKAGE IS NOT NULL
    ),
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
            SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY state, zip3) AS rn
            FROM located
        ) WHERE rn = 1 AND yob <= {YEAR - 18}
    ),
    wra AS (
        SELECT k FROM adults
        WHERE yob BETWEEN {YEAR - 44} AND {YEAR - 18} AND sex = 'F'
    ),
    preg_keys AS (SELECT DISTINCT k FROM ({preg}) JOIN wra USING (k)),
    esrd_keys AS (SELECT DISTINCT k FROM ({esrd})),
    care_keys AS (SELECT DISTINCT k FROM ({care})),
    cohort AS (
        SELECT a.k, a.yob, a.race, a.sex, a.zip3, a.state FROM adults a
        WHERE a.k NOT IN (SELECT k FROM preg_keys)
          AND a.k NOT IN (SELECT k FROM esrd_keys)
          AND a.k NOT IN (SELECT k FROM care_keys)
    ),
    {_readings('sbp', SBP_CONCEPTS, 30, 300, 'SBP')},
    {_readings('dbp', DBP_CONCEPTS, 20, 150, 'DBP')},
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
               CASE WHEN SBP < 140 AND DBP < 90 THEN 1 ELSE 0 END AS HTNcontrol140,
               CASE WHEN SBP < 130 AND DBP < 80 THEN 1 ELSE 0 END AS HTNcontrol130
        FROM (
            SELECT k, SBP, DBP,
                   ROW_NUMBER() OVER (PARTITION BY k ORDER BY d DESC) AS rn
            FROM visits
        ) WHERE rn = 1
    ),
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
        SELECT c.k AS PATIENT_LINKAGE,
               COALESCE(denom.has_bp, 0) AS has_bp,
               COALESCE(htn.HTN140_90, 0) AS HTN140_90,
               COALESCE(htn.HTN130_80, 0) AS HTN130_80,
               COALESCE(control.HTNcontrol140, 0) AS HTNcontrol140,
               COALESCE(control.HTNcontrol130, 0) AS HTNcontrol130,
               COALESCE(dx.HTN_DX, 0) AS HTN_DX,
               COALESCE(meds.HTN_MEDS, 0) AS HTN_MEDS,
               CASE WHEN COALESCE(dx.HTN_DX, 0) = 1 OR COALESCE(meds.HTN_MEDS, 0) = 1
                      OR COALESCE(htn.HTN140_90, 0) = 1 THEN 1 ELSE 0 END AS hypertension_140,
               CASE WHEN COALESCE(dx.HTN_DX, 0) = 1 OR COALESCE(meds.HTN_MEDS, 0) = 1
                      OR COALESCE(htn.HTN130_80, 0) = 1 THEN 1 ELSE 0 END AS hypertension_130
        FROM cohort c
        LEFT JOIN denom ON denom.k = c.k
        LEFT JOIN htn ON htn.k = c.k
        LEFT JOIN control ON control.k = c.k
        LEFT JOIN dx ON dx.k = c.k
        LEFT JOIN meds ON meds.k = c.k
    )"""


class OmopOracle:
    """Expected outputs of ``run_pipeline`` on one generated data set."""

    def __init__(self, data_dir: str, codelists: dict[str, list[int]]):
        con = connect_omop(data_dir)
        try:
            ctes = omop_phenotype_sql(codelists)
            cols = ", ".join(PHENOTYPE_COLS)
            self.phenotype = set(con.execute(f"{ctes} SELECT {cols} FROM phenotype").fetchall())
            self.stats = con.execute(
                f"{ctes} SELECT hypertension_140, COUNT(*) AS n "
                "FROM phenotype GROUP BY ROLLUP (hypertension_140)").fetchall()
        finally:
            con.close()


def canon(rows) -> list[tuple]:
    """Order-free, NULL-safe canonical form of a result set."""
    def key(r):
        return tuple((v is None, v if isinstance(v, (int, float)) else str(v)) for v in r)
    return sorted((tuple(r) for r in rows), key=key)


def matches(got, want, atol: float = 0.0) -> bool:
    """Same rows in any order; floats may differ by ``atol`` (plus a
    relative 1e-9 for the last bits of unrounded values)."""
    got, want = canon(got), canon(want)
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > atol + 1e-9 * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True


def registry_oracle(docs_dir: str, sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        path = os.path.join(docs_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchall()
    finally:
        con.close()
