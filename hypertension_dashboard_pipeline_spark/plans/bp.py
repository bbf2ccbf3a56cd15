"""Blood-pressure flags (reference script 3, 3_blood_pressure.R).

Dataflow (3_blood_pressure.R:82-412):

1. extract SBP/DBP readings — concept codelist + mmHg unit + a
   [year-1, year] look-back window (:85-127; the reference filters the
   wrong date column by copy-paste, SURVEY.md §2.10-5b — the intent,
   MEASUREMENT_DATE, is implemented)
2. plausibility bands — SBP 30-300, DBP 20-150, nulls dropped
   (:143-151; band semantics per SURVEY.md §2.10-2)
3. same-day averaging per (patient, date), half-even rounded to 1
   decimal like R (:168-174)
4. SBP/DBP pairing — days with both sides (:203-205); unpaired days
   drop
5. measurement-year visit flags — hbp140 = SBP≥140 | DBP≥90,
   hbp130 = SBP≥130 | DBP≥80 (:275-277,309-311; the reference's
   hbp130-from-high140a slip, §2.10-5c, is implemented as intended)
6. per-patient HTN flags — ≥2 distinct high days (:286-290,320-324)
7. control flags — latest measurement-year visit below threshold
   (:347-363,377-389)

Patients with paired BP only in the look-back year stay in the BP
denominator with flags 0 (the reference leaves them NA; §2.10-1).

Scale: one filtered scan of the measurement table feeds one hash
aggregation on (patient, date) — each side a conditional average, so
pairing is a null check instead of a join — and one on patient that
computes every flag (max-struct for the latest visit). One left join
attaches the flags to the cohort rows. No windows, no driver round-trips.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import flag
from ..operators import filters as flt
from ..operators import joins as jn
from ..sources.codelists import DBP_CONCEPTS, MMHG_UNIT_CONCEPT, SBP_CONCEPTS

KEY = "PATIENT_LINKAGE"
DATE = "MEASUREMENT_DATE"
CONCEPT = "MEASUREMENT_CONCEPT_ID"
VALUE = "VALUE_AS_NUMBER"


def _side_avg(concepts, lo: float, hi: float) -> Column:
    """Same-day average of one BP side inside its plausibility band,
    half-even 1dp (NULL when the day has no such reading)."""
    side = flt.codelist_predicate(CONCEPT, concepts) & flt.band_predicate(VALUE, lo, hi)
    return F.bround(F.avg(F.when(side, F.col(VALUE))), 1)


def paired_daily_bp(measurement: DataFrame, year: int = 2023) -> DataFrame:
    """Same-day (patient, date, SBP, DBP) rows over the look-back window."""
    readings = (
        flt.codelist_filter(measurement, CONCEPT, SBP_CONCEPTS + DBP_CONCEPTS)
        .filter((F.col("UNIT_CONCEPT_ID") == MMHG_UNIT_CONCEPT)
                & F.col(KEY).isNotNull())
    )
    daily = flt.year_in(readings, DATE, [year - 1, year]).groupBy(KEY, DATE).agg(
        _side_avg(SBP_CONCEPTS, 30, 300).alias("SBP"),
        _side_avg(DBP_CONCEPTS, 20, 150).alias("DBP"),
    )
    return daily.filter(F.col("SBP").isNotNull() & F.col("DBP").isNotNull())


def build_bp_flags(cohort: DataFrame, measurement: DataFrame,
                   year: int = 2023) -> DataFrame:
    """Script-3 end-to-end: every cohort row enriched with BP denominator
    + HTN + control flags, deterministic 0/1 everywhere (look-back-only
    patients get 0, not NULL — SURVEY.md §2.10-1)."""
    sbp, dbp = F.col("SBP"), F.col("DBP")
    in_year = F.year(F.col(DATE)) == year
    per = paired_daily_bp(measurement, year).groupBy(KEY).agg(
        F.sum(flag(in_year & ((sbp >= 140) | (dbp >= 90)))).alias("n_high140"),
        F.sum(flag(in_year & ((sbp >= 130) | (dbp >= 80)))).alias("n_high130"),
        F.max(F.when(in_year, F.struct(DATE, "SBP", "DBP"))).alias("latest"),
    )
    flags = per.select(
        KEY,
        F.lit(1).alias("has_bp"),
        flag(F.col("n_high140") >= 2).alias("HTN140_90"),
        flag(F.col("n_high130") >= 2).alias("HTN130_80"),
        flag((F.col("latest.SBP") < 140) & (F.col("latest.DBP") < 90))
        .alias("HTNcontrol140"),
        flag((F.col("latest.SBP") < 130) & (F.col("latest.DBP") < 80))
        .alias("HTNcontrol130"),
    )
    return jn.enrich(cohort, flags, KEY).fillna(
        {"has_bp": 0, "HTN140_90": 0, "HTN130_80": 0,
         "HTNcontrol140": 0, "HTNcontrol130": 0}
    )
