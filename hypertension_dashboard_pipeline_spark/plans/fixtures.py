"""Hand-crafted OMOP-shaped fixtures implementing FIXTURES.md's golden
patients — every expected value below is computable by hand, mirroring
the reference's named-patient QC idiom (SURVEY.md §5.2).

Lives in the package (not tests/) because the driver-gated end-to-end
pipeline query (queries_core.omop_pipeline_e2e) builds its OMOP input
tables from these same literals — and its DuckDB oracle is GENERATED
from them, so Spark input and oracle input cannot drift apart.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession

from hypertension_dashboard_pipeline_spark import schemas as S

D = dt.date

# synthetic codelists (FIXTURES.md codelist tables)
CODELISTS = {
    "preg_condition": [9001],
    "preg_measurement": [9002],
    "preg_observation": [9003],
    "preg_procedure": [9004],
    "esrd_condition": [9101],
    "esrd_observation": [9102],
    "esrd_procedure": [9103],
    "palliative_observation": [9201],
    "palliative_procedure": [9202],
    "hospice_observation": [9301],
    "hospice_procedure": [9302],
    "htn_dx": [9401, 9402],
    "htn_rx": [9501, 9502],
}

SBP = 4152194  # an SBP concept (3_blood_pressure.R:98)
DBP = 4154790  # a DBP concept (3_blood_pressure.R:121)
MMHG = 8876
NOISE_CONCEPT = 777


def q(s: str) -> str:
    """Quote-wrap like the reference's raw strings ('\"M\"',
    2_data_importing_cleaning.R:192)."""
    return f'"{s}"'


def _person_row(key, yob, race="CAUCASIAN", sex="M", zip3="303", state="GA"):
    sex_cid = 8532 if sex == "F" else 8507
    return (key, yob, q(race), q(sex), sex_cid, q(zip3), state)


PERSON_ROWS = [
    _person_row("P01", 1970),                       # GOLD_HTN140
    _person_row("P02", 1971),                       # GOLD_HTN130_ONLY
    _person_row("P03", 1972),                       # GOLD_SAMEDAY_AVG
    _person_row("P04", 1973),                       # GOLD_CONTROL
    _person_row("P05", 1974),                       # GOLD_DX_ONLY
    _person_row("P06", 1975),                       # GOLD_MEDS_ONLY
    _person_row("P07", 1990, sex="F"),              # GOLD_PREG_EXCLUDED
    _person_row("P08", 1980),                       # GOLD_MISBRIDGE (row 1)
    _person_row("P08", 1985),                       # GOLD_MISBRIDGE (row 2: YOB conflict)
    _person_row("P09", 1976),                       # GOLD_LOOKBACK_ONLY
    _person_row("P10", 2010),                       # minor -> excluded
    _person_row("P11", 1977),                       # ESRD -> excluded
    _person_row("P12", 1978),                       # hospice -> excluded
    _person_row("P13", 1979, state="GA"),           # state-conflict-only dupe
    _person_row("P13", 1979, state="FL"),           #   -> kept, one row
    _person_row("P14", 1981),                       # unpaired SBP only
    _person_row("P15", 1982),                       # implausible + one valid day
    (None, 1983, q("OTHER"), q("M"), 8507, q("303"), "GA"),  # null key -> dropped
    _person_row("P17", 1984),                       # one high day only
    _person_row("P18", 1986),                       # wrong-unit high readings
    _person_row("P19", 1987),                       # noise concept only
    _person_row("P20", 1988, race="AFRICAN AMERICAN", sex="F"),  # clean, no evidence
    # GOLD_NULL_STATE: every row lacks STATE -> dropped by the
    # !is.na(STATE) & !is.na(ZIP3) stage (2_data_importing_cleaning.R:147-148)
    _person_row("P21", 1989, state=None),
    # GOLD_NULL_ZIP_PARTIAL: one located row + one null-ZIP3 row ->
    # the null row is removed, the patient survives on the located row
    _person_row("P22", 1991, state="FL"),
    ("P22", 1991, q("CAUCASIAN"), q("M"), 8507, None, "GA"),
    # GOLD_MISBRIDGE_NULL_YOB: YOB {1980, NULL} is two values to dplyr's
    # n_distinct -> dropped at the mis-bridge stage
    _person_row("P23", 1980),
    _person_row("P23", None),
    # GOLD_NULL_SEX: SEX NULL on every row is one value -> kept
    ("P24", 1992, q("CAUCASIAN"), None, None, q("303"), "GA"),
    ("P24", 1992, q("CAUCASIAN"), None, None, q("303"), "GA"),
]

# (key, date, concept, value, unit) -> expanded to full measurement rows
_M = [
    # P01: two high days in 2023 (HTN140_90=1; also high at 130/80)
    ("P01", D(2023, 3, 1), SBP, 150.0, MMHG),
    ("P01", D(2023, 3, 1), DBP, 95.0, MMHG),
    ("P01", D(2023, 5, 1), SBP, 152.0, MMHG),
    ("P01", D(2023, 5, 1), DBP, 96.0, MMHG),
    # P02: two days 130<=SBP<140 & 80<=DBP<90 (HTN130_80=1, HTN140_90=0)
    ("P02", D(2023, 3, 2), SBP, 132.0, MMHG),
    ("P02", D(2023, 3, 2), DBP, 82.0, MMHG),
    ("P02", D(2023, 6, 2), SBP, 135.0, MMHG),
    ("P02", D(2023, 6, 2), DBP, 84.0, MMHG),
    # P03: three same-day SBP readings 118/121/127 -> avg 122.0 + a DBP to pair
    ("P03", D(2023, 6, 1), SBP, 118.0, MMHG),
    ("P03", D(2023, 6, 1), SBP, 121.0, MMHG),
    ("P03", D(2023, 6, 1), SBP, 127.0, MMHG),
    ("P03", D(2023, 6, 1), DBP, 70.0, MMHG),
    # P04: two early high days then latest day controlled
    ("P04", D(2023, 2, 1), SBP, 150.0, MMHG),
    ("P04", D(2023, 2, 1), DBP, 95.0, MMHG),
    ("P04", D(2023, 4, 1), SBP, 155.0, MMHG),
    ("P04", D(2023, 4, 1), DBP, 97.0, MMHG),
    ("P04", D(2023, 11, 1), SBP, 120.0, MMHG),
    ("P04", D(2023, 11, 1), DBP, 75.0, MMHG),
    # P05/P06: normal BP once (evidence comes from DX / MEDS)
    ("P05", D(2023, 7, 1), SBP, 118.0, MMHG),
    ("P05", D(2023, 7, 1), DBP, 72.0, MMHG),
    ("P06", D(2023, 7, 2), SBP, 117.0, MMHG),
    ("P06", D(2023, 7, 2), DBP, 71.0, MMHG),
    # P09: paired high BP only in the look-back year
    ("P09", D(2022, 8, 1), SBP, 150.0, MMHG),
    ("P09", D(2022, 8, 1), DBP, 95.0, MMHG),
    ("P09", D(2022, 9, 1), SBP, 151.0, MMHG),
    ("P09", D(2022, 9, 1), DBP, 96.0, MMHG),
    # P14: SBP-only day (never pairs)
    ("P14", D(2023, 5, 5), SBP, 149.0, MMHG),
    # P15: implausible SBP (350) breaks pairing that day; one valid day
    ("P15", D(2023, 5, 6), SBP, 350.0, MMHG),
    ("P15", D(2023, 5, 6), DBP, 80.0, MMHG),
    ("P15", D(2023, 6, 6), SBP, 119.0, MMHG),
    ("P15", D(2023, 6, 6), DBP, 74.0, MMHG),
    # P17: exactly one high day (>=2 rule -> 0)
    ("P17", D(2023, 9, 1), SBP, 160.0, MMHG),
    ("P17", D(2023, 9, 1), DBP, 100.0, MMHG),
    # P18: high readings in the wrong unit -> ignored
    ("P18", D(2023, 9, 2), SBP, 160.0, 999),
    ("P18", D(2023, 9, 2), DBP, 100.0, 999),
    # P19: noise concept -> ignored
    ("P19", D(2023, 9, 3), NOISE_CONCEPT, 160.0, MMHG),
    # P20: one normal day
    ("P20", D(2023, 9, 4), SBP, 115.0, MMHG),
    ("P20", D(2023, 9, 4), DBP, 70.0, MMHG),
]

MEASUREMENT_ROWS = [
    (k, d, c, q("desc"), v, u, q("mmHg")) for (k, d, c, v, u) in _M
] + [
    # 2021 rows outside the look-back -> excluded everywhere
    ("P20", D(2021, 1, 1), SBP, q("desc"), 190.0, MMHG, q("mmHg")),
    ("P20", D(2021, 1, 1), DBP, q("desc"), 120.0, MMHG, q("mmHg")),
]

CONDITION_ROWS = [
    ("P05", 9401, q("essential hypertension"), D(2023, 4, 10)),  # htn dx
    ("P07", 9001, q("pregnancy"), D(2023, 2, 10)),               # pregnancy
    ("P20", 9401, q("essential hypertension"), D(2021, 4, 10)),  # wrong year
    ("P19", NOISE_CONCEPT, q("noise"), D(2023, 4, 11)),
]

OBSERVATION_ROWS = [
    ("P11", 9102, D(2022, 3, 3)),   # ESRD observation in look-back
    ("P19", NOISE_CONCEPT, D(2023, 3, 3)),
]

PROCEDURE_ROWS = [
    ("P12", 9302, D(2023, 3, 4)),   # hospice procedure
    ("P19", NOISE_CONCEPT, D(2023, 3, 5)),
]

DRUG_ROWS = [
    ("P06", 9501, D(2023, 5, 10)),  # anti-hypertensive rx
    ("P20", 9501, D(2021, 5, 10)),  # wrong year
]

# cohort membership after all exclusions (16 patients; P21/P23 drop, P22
# survives via its located row, P24 with an all-NULL SEX)
EXPECTED_COHORT = {
    "P01", "P02", "P03", "P04", "P05", "P06", "P09", "P13", "P14",
    "P15", "P17", "P18", "P19", "P20", "P22", "P24",
}


def build_tables(spark: SparkSession) -> dict:
    return {
        "person": spark.createDataFrame(PERSON_ROWS, S.PERSON),
        "measurement": spark.createDataFrame(MEASUREMENT_ROWS, S.MEASUREMENT),
        "condition": spark.createDataFrame(CONDITION_ROWS, S.CONDITION_OCCURRENCE),
        "observation": spark.createDataFrame(OBSERVATION_ROWS, S.OBSERVATION),
        "procedure": spark.createDataFrame(PROCEDURE_ROWS, S.PROCEDURE_OCCURRENCE),
        "drug_exposure": spark.createDataFrame(DRUG_ROWS, S.DRUG_EXPOSURE),
    }
