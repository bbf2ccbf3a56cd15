"""Cohort build (reference script 2, 2_data_importing_cleaning.R).

Stages, each a pure DataFrame → DataFrame function so tests can pin
intermediate counts (the reference's manual QC idiom, SURVEY.md §5):

1. base population: projection + quote-trim + null-key filter
   (2_data_importing_cleaning.R:61-81)
2. mis-bridge cleanup: drop patients whose YOB/SEX/RACE conflict
   across rows; collapse remaining multi-rows (STATE/ZIP-only
   conflicts) to one deterministic survivor
   (2_data_importing_cleaning.R:85-161)
3. adult filter (YOB ≤ year-18, :186-187)
4. evidence and exclusions — one 0/1 flag per kind of evidence and
   patient, from the domain tables filtered by codelist + year:
   pregnancy (women 18-44 only), ESRD and palliative/hospice care
   exclude the patient (:283-620); script 4's hypertension diagnosis
   and prescription evidence (HTN_DX, HTN_MEDS) ride along, so the
   phenotype stage scans no domain table again
5. presentation labels: age, sex/race recodes, ZIP3 de-quote
   (:640-658)

Scale: every input is scanned once. Person is one hash aggregation on
the patient key (one value per identity column, NULL counted as a value;
the survivor as a min over a struct). Each domain table is one filtered
scan (IN over the union of its codelists and years) emitting a flag
column per kind of evidence; the union of those scans is one
aggregation on the patient key, applied by one left join and a filter.
No windows, no anti-joins, and nothing touches the driver except
codelist literals.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import age_from_birth_year, flag, recode, trim_chars
from ..operators import filters as flt
from ..operators import joins as jn
from ..sources.codelists import Codelists

KEY = "PATIENT_LINKAGE"
IDENTITY = ("YEAR_OF_BIRTH", "SEX", "RACE")

RACE_RECODE = {
    "AFRICAN AMERICAN": "Black",
    "CAUCASIAN": "White",
    "ASIAN": "Asian",
    "HISPANIC": "Hispanic",
    "OTHER": "Other",
    "UNKNOWN": "Unknown",
}
SEX_RECODE = {"F": "Female", "M": "Male"}


def base_population(person: DataFrame) -> DataFrame:
    """Projection with quote-trim + null-key filter
    (2_data_importing_cleaning.R:61-81: TRIM(col,'\"') in the SELECT,
    then filter(!is.na(PATIENT_LINKAGE)))."""
    pop = person.select(
        F.col(KEY),
        F.col("YEAR_OF_BIRTH"),
        trim_chars("ETHNICITY_SOURCE_VALUE").alias("RACE"),
        trim_chars("GENDER_SOURCE_VALUE").alias("SEX"),
        trim_chars("LOCATION_ZIP").alias("ZIP3"),
        F.col("LOCATION_STATE").alias("STATE"),
    )
    return flt.not_null(pop, KEY)


def drop_misbridged(pop: DataFrame) -> DataFrame:
    """Mis-bridge cleanup (2_data_importing_cleaning.R:85-161) as one
    aggregate per patient key.

    A patient key appearing with conflicting YEAR_OF_BIRTH / SEX / RACE
    is a bad linkage → dropped entirely: like dplyr's ``n_distinct``,
    NULL counts as a value, so each column must be NULL on every row or
    on none with ``min = max``. Rows with missing STATE or ZIP3 cannot
    survive (2_data_importing_cleaning.R:147-148, ``filter(!is.na(STATE)
    & !is.na(ZIP3))``) — a patient whose every row lacks location leaves
    the cohort here, exactly as in the reference. Remaining STATE/ZIP3
    conflicts are tolerated → the survivor is the least located row by
    (STATE, ZIP3, YEAR_OF_BIRTH, SEX, RACE), NULL first — a total order,
    where the reference keeps an arbitrary row (SURVEY.md §2.10-4).
    """
    located = F.col("STATE").isNotNull() & F.col("ZIP3").isNotNull()

    def one_value(c: str):
        n = F.count(c)
        return (n == 0) | ((n == F.count(F.lit(1))) & (F.min(c) == F.max(c)))

    per = pop.groupBy(KEY).agg(
        reduce(and_, [one_value(c) for c in IDENTITY]).alias("consistent"),
        F.min(F.when(located, F.struct("STATE", "ZIP3", *IDENTITY))).alias("row"),
    )
    return per.filter(F.col("consistent") & F.col("row").isNotNull()).select(
        KEY, *(F.col(f"row.{c}") for c in ("YEAR_OF_BIRTH", "RACE", "SEX", "ZIP3", "STATE"))
    )


def adults(pop: DataFrame, year: int = 2023) -> DataFrame:
    """Age ≥ 18 (YEAR_OF_BIRTH ≤ year-18, 2_data_importing_cleaning.R:186-187)."""
    return pop.filter(F.col("YEAR_OF_BIRTH") <= year - 18)


# per domain table: concept column, date column, and the codelists of
# each kind of evidence it carries: the exclusion reasons
# (2_data_importing_cleaning.R:283-400, 409-484, 526-611) and script 4's
# diagnosis and prescription evidence (4_hypertension_phenotype_main.R:62-110)
DOMAINS = {
    "condition": ("CONDITION_CONCEPT_ID", "CONDITION_START_DATE", {
        "preg": ["preg_condition"],
        "esrd": ["esrd_condition"],
        "dx": ["htn_dx"],
    }),
    "measurement": ("MEASUREMENT_CONCEPT_ID", "MEASUREMENT_DATE", {
        "preg": ["preg_measurement"],
    }),
    "observation": ("OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", {
        "preg": ["preg_observation"],
        "esrd": ["esrd_observation"],
        "care": ["palliative_observation", "hospice_observation"],
    }),
    "procedure": ("PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", {
        "preg": ["preg_procedure"],
        "esrd": ["esrd_procedure"],
        "care": ["palliative_procedure", "hospice_procedure"],
    }),
    "drug_exposure": ("DRUG_CONCEPT_ID", "DRUG_EXPOSURE_START_DATE", {
        "meds": ["htn_rx"],
    }),
}
REASONS = ("preg", "esrd", "care")
EVIDENCE = REASONS + ("dx", "meds")


def evidence_flags(condition: DataFrame, measurement: DataFrame,
                   observation: DataFrame, procedure: DataFrame,
                   drug_exposure: DataFrame, codelists: Codelists,
                   year: int = 2023) -> DataFrame:
    """Per-patient evidence ``(KEY, preg, esrd, care, dx, meds)``, 0/1,
    one row per key with any evidence.

    Pregnancy, diagnosis and prescription evidence count in the
    measurement year only; ESRD and palliative/hospice care include the
    look-back year like the reference's 2022-2023 window. Care uses both
    the palliative and the hospice lists (the reference's
    undefined-variable bug at :610 is not reproduced; SURVEY.md
    §2.10-5d). Pregnancy evidence still has to be restricted to women of
    reproductive age by the caller.
    """
    tables = {"condition": condition, "measurement": measurement,
              "observation": observation, "procedure": procedure,
              "drug_exposure": drug_exposure}
    lookback = [year - 1, year]
    years = {"preg": [year], "esrd": lookback, "care": lookback,
             "dx": [year], "meds": [year]}
    scans = []
    for name, (concept, date, lists) in DOMAINS.items():
        codes = {e: [c for n in names for c in codelists[n]] for e, names in lists.items()}
        every_code = [c for cs in codes.values() for c in cs]
        every_year = sorted({y for e in lists for y in years[e]})
        hits = flt.year_in(
            flt.codelist_filter(tables[name], concept, every_code), date, every_year
        ).filter(F.col(KEY).isNotNull())
        flags = {e: flag(flt.codelist_predicate(concept, codes[e])
                         & F.year(F.col(date)).isin(years[e])) for e in lists}
        scans.append(hits.select(KEY, *(flags.get(e, F.lit(0)).alias(e) for e in EVIDENCE)))
    return reduce(DataFrame.unionByName, scans).groupBy(KEY).agg(
        *(F.max(e).alias(e) for e in EVIDENCE)
    )


def clean_labels(cohort: DataFrame, year: int = 2023) -> DataFrame:
    """Presentation columns (2_data_importing_cleaning.R:640-658):
    derived age, human-readable sex/race, de-quoted ZIP3; then the
    DX/MEDS evidence as script 4 names it, NULL (no evidence) filled to 0
    (4_hypertension_phenotype_main.R:139-144)."""
    return cohort.select(
        KEY,
        age_from_birth_year("YEAR_OF_BIRTH", year).alias("age"),
        recode("SEX", SEX_RECODE).alias("sex"),
        recode("RACE", RACE_RECODE).alias("race"),
        F.col("STATE").alias("state"),
        F.col("ZIP3").alias("zip3"),
        F.coalesce(F.col("dx"), F.lit(0)).alias("HTN_DX"),
        F.coalesce(F.col("meds"), F.lit(0)).alias("HTN_MEDS"),
    )


def build_cohort(person: DataFrame, condition: DataFrame,
                 measurement: DataFrame, observation: DataFrame,
                 procedure: DataFrame, drug_exposure: DataFrame,
                 codelists: Codelists, year: int = 2023) -> DataFrame:
    """Script-2 end-to-end: eligible adult cohort with clean labels and
    script 4's DX/MEDS evidence."""
    grown = adults(drop_misbridged(base_population(person)), year)
    flags = evidence_flags(condition, measurement, observation, procedure,
                           drug_exposure, codelists, year)
    wra = F.col("YEAR_OF_BIRTH").between(year - 44, year - 18) & (F.col("SEX") == "F")
    excluded = ((F.col("preg") == 1) & wra) | (F.col("esrd") == 1) | (F.col("care") == 1)
    eligible = jn.enrich(grown, flags, KEY).filter(~F.coalesce(excluded, F.lit(False)))
    return clean_labels(eligible, year)
