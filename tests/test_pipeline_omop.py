"""End-to-end pipeline tests on OMOP-shaped fixtures with golden
patients (FIXTURES.md), mirroring the reference's manual QC idioms:
stage row counts, named-patient flag spot-checks, and recompute-by-hand
aggregates (SURVEY.md §5).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hypertension_dashboard_pipeline_spark import schemas as S
from hypertension_dashboard_pipeline_spark.io import checkpoint
from hypertension_dashboard_pipeline_spark.operators import filters as flt
from hypertension_dashboard_pipeline_spark.plans.fixtures import (
    CODELISTS,
    EXPECTED_COHORT,
    _person_row,
    build_tables,
    q,
)
from hypertension_dashboard_pipeline_spark.plans import (
    bp as bp_plan,
)
from hypertension_dashboard_pipeline_spark.plans.cohort import (
    adults,
    base_population,
    build_cohort,
    drop_misbridged,
)
from hypertension_dashboard_pipeline_spark.plans.phenotype import (
    build_phenotype,
    phenotype_stats,
)
from hypertension_dashboard_pipeline_spark.plans.run import run_pipeline

YEAR = 2023

# every fixture codelist padded past 128 codes with concept IDs that no
# fixture row carries: real deployments ship lists of hundreds to
# thousands of codes
PADDED_CODELISTS = {
    name: list(codes) + list(range(900_000_000, 900_000_200))
    for name, codes in CODELISTS.items()
}


@pytest.fixture(scope="module")
def tables(spark):
    return build_tables(spark)


@pytest.fixture(scope="module")
def cohort(spark, tables):
    df = build_cohort(
        tables["person"], tables["condition"], tables["measurement"],
        tables["observation"], tables["procedure"], CODELISTS, YEAR,
    )
    df.cache()
    return df


@pytest.fixture(scope="module")
def bp_flags(cohort, tables):
    df = bp_plan.build_bp_flags(cohort, tables["measurement"], YEAR)
    df.cache()
    return df


@pytest.fixture(scope="module")
def phenotype(bp_flags, tables):
    df = build_phenotype(bp_flags, tables["condition"],
                         tables["drug_exposure"], CODELISTS, YEAR)
    df.cache()
    return df


def _by_key(df, cols):
    return {r["PATIENT_LINKAGE"]: tuple(r[c] for c in cols) for r in df.collect()}


# ---------------------------------------------------------------- cohort

def test_base_population_drops_null_keys(tables):
    pop = base_population(tables["person"])
    assert pop.filter(F.col("PATIENT_LINKAGE").isNull()).count() == 0
    # quote-trim applied (reference F1): raw '"M"' becomes 'M'
    sexes = {r["SEX"] for r in pop.select("SEX").distinct().collect()}
    assert sexes <= {"M", "F"}


def test_misbridge_dedup(tables):
    pop = drop_misbridged(base_population(tables["person"]))
    keys = [r["PATIENT_LINKAGE"] for r in pop.collect()]
    assert "P08" not in keys          # YOB conflict -> dropped entirely
    assert keys.count("P13") == 1     # state-only conflict -> one survivor
    # deterministic survivor: FL < GA in the explicit ordering
    assert pop.filter("PATIENT_LINKAGE = 'P13'").first()["STATE"] == "FL"
    # null-location semantics (2_data_importing_cleaning.R:147-148):
    # all rows missing STATE -> patient gone entirely
    assert "P21" not in keys
    # partial: the null-ZIP3 row is removed, the located row survives
    assert keys.count("P22") == 1
    p22 = pop.filter("PATIENT_LINKAGE = 'P22'").first()
    assert p22["STATE"] == "FL" and p22["ZIP3"] is not None


def test_adult_filter(tables):
    pop = adults(drop_misbridged(base_population(tables["person"])), YEAR)
    keys = {r["PATIENT_LINKAGE"] for r in pop.collect()}
    assert "P10" not in keys


def test_misbridge_survivor_ignores_row_order_and_partitions(spark):
    """One key, two rows at the same (STATE, ZIP3), YOB 1980 vs NULL:
    the survivor is fixed by a total order in which NULL sorts first,
    so the NULL-YOB row survives and the patient leaves at the adult
    filter, whatever the input order or partitioning."""
    rows = [_person_row("M1", 1980), _person_row("M1", None)]
    outs = []
    for order in (rows, rows[::-1]):
        for n in (1, 3):
            person = spark.createDataFrame(spark.sparkContext.parallelize(order, n),
                                           S.PERSON)
            pop = drop_misbridged(base_population(person))
            outs.append((_sorted_rows(pop), _sorted_rows(adults(pop, YEAR))))
    assert all(out == outs[0] for out in outs), outs
    survivors, grown = outs[0]
    assert survivors == [("M1", None, "CAUCASIAN", "M", "303", "GA")]
    assert grown == []


def test_cohort_membership(cohort):
    keys = {r["PATIENT_LINKAGE"] for r in cohort.collect()}
    assert keys == EXPECTED_COHORT
    # excluded golden patients
    for gone in ("P07", "P08", "P10", "P11", "P12"):
        assert gone not in keys


def test_cohort_labels(cohort):
    rows = {r["PATIENT_LINKAGE"]: r for r in cohort.collect()}
    p20 = rows["P20"]
    assert p20["race"] == "Black"           # recode (F3)
    assert p20["sex"] == "Female"
    assert p20["age"] == YEAR - 1988        # derived age (F7)
    assert p20["zip3"] == "303"             # quotes stripped (F2)


# -------------------------------------------------------------------- bp

def test_same_day_average(tables):
    paired = bp_plan.paired_daily_bp(tables["measurement"], YEAR)
    row = paired.filter(
        "PATIENT_LINKAGE = 'P03' AND MEASUREMENT_DATE = DATE'2023-06-01'"
    ).first()
    assert row is not None
    assert row["SBP"] == 122.0  # (118+121+127)/3, golden recompute
    assert row["DBP"] == 70.0


def test_pairing_drops_unpaired_and_implausible(bp_flags):
    flags = _by_key(bp_flags, ["has_bp"])
    assert flags["P14"] == (0,)  # SBP-only day never pairs
    assert flags["P18"] == (0,)  # wrong unit
    assert flags["P19"] == (0,)  # noise concept
    assert flags["P15"] == (1,)  # implausible day dropped, valid day pairs


def test_htn_flags(bp_flags):
    flags = _by_key(bp_flags, ["HTN140_90", "HTN130_80"])
    assert flags["P01"] == (1, 1)   # GOLD_HTN140
    assert flags["P02"] == (0, 1)   # GOLD_HTN130_ONLY
    assert flags["P17"] == (0, 0)   # single high day: >=2 rule
    assert flags["P09"] == (0, 0)   # GOLD_LOOKBACK_ONLY: deterministic 0
    assert flags["P20"] == (0, 0)


def test_lookback_only_in_denominator(bp_flags):
    assert _by_key(bp_flags, ["has_bp"])["P09"] == (1,)


def test_control_flags(bp_flags):
    flags = _by_key(bp_flags, ["HTN140_90", "HTNcontrol140"])
    assert flags["P04"] == (1, 1)   # GOLD_CONTROL: latest visit controlled
    assert flags["P01"] == (1, 0)   # still high at latest visit


# ------------------------------------------------------------- phenotype

def test_phenotype_flags(phenotype):
    flags = _by_key(phenotype, ["HTN_DX", "HTN_MEDS", "hypertension_140"])
    assert flags["P05"] == (1, 0, 1)   # GOLD_DX_ONLY
    assert flags["P06"] == (0, 1, 1)   # GOLD_MEDS_ONLY
    assert flags["P01"] == (0, 0, 1)   # BP evidence alone
    assert flags["P20"] == (0, 0, 0)
    assert flags["P09"] == (0, 0, 0)   # look-back only: deterministic 0


def test_phenotype_stats_rollup(phenotype):
    stats = {r["hypertension_140"]: r["n"]
             for r in phenotype_stats(phenotype).collect()}
    n_pos = phenotype.filter("hypertension_140 = 1").count()
    assert stats[1] == n_pos
    assert stats[None] == len(EXPECTED_COHORT)  # totals row


def test_staged_runner_checkpoints_match_direct(spark, tables, phenotype,
                                                tmp_path):
    """plans/run.py: the checkpointed staged run must produce exactly
    the directly-composed phenotype, and each stage boundary must exist
    on disk as readable Parquet (the reference's CSV-handoff pattern,
    type-exact)."""
    import os

    out = run_pipeline(spark, tables, CODELISTS, str(tmp_path), YEAR)
    for stage in ("stage2_cohort", "stage3_bp_flags", "stage4_phenotype",
                  "stage4_stats"):
        assert os.path.isdir(tmp_path / stage)

    direct = {r["PATIENT_LINKAGE"]: r for r in phenotype.collect()}
    staged = {r["PATIENT_LINKAGE"]: r for r in out["phenotype"].collect()}
    assert staged.keys() == direct.keys()
    for k in direct:
        assert staged[k]["hypertension_140"] == direct[k]["hypertension_140"]
        assert staged[k]["hypertension_130"] == direct[k]["hypertension_130"]
    # checkpoint round-trip preserved types (no CSV-style degradation)
    assert dict(out["phenotype"].dtypes) == dict(phenotype.dtypes)


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_long_codelists_give_identical_outputs(spark, tables, tmp_path):
    """Codelists past 128 codes (none of the extra codes in the data)
    must change nothing in any of the four staged outputs."""
    assert all(len(codes) > 128 for codes in PADDED_CODELISTS.values())
    short = run_pipeline(spark, tables, CODELISTS, str(tmp_path / "short"), YEAR)
    padded = run_pipeline(spark, tables, PADDED_CODELISTS,
                          str(tmp_path / "padded"), YEAR)
    for stage in ("cohort", "bp_flags", "phenotype", "stats"):
        assert padded[stage].dtypes == short[stage].dtypes, stage
        assert _sorted_rows(padded[stage]) == _sorted_rows(short[stage]), stage


# ------------------------------------------------------------ plan shape


@pytest.fixture(scope="module")
def parquet_tables(tables, tmp_path_factory):
    """The fixture tables as Parquet files, so every leaf of a plan is a
    file scan unless the plan itself builds a local relation."""
    root = tmp_path_factory.mktemp("omop_parquet")
    return {name: checkpoint(df, str(root / name)) for name, df in tables.items()}


def _cohort_of(tables, codelists):
    return build_cohort(
        tables["person"], tables["condition"], tables["measurement"],
        tables["observation"], tables["procedure"], codelists, YEAR,
    )


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bp_stage_scans_measurement_once(parquet_tables, tmp_path):
    cohort = checkpoint(_cohort_of(parquet_tables, PADDED_CODELISTS),
                        str(tmp_path / "cohort"))
    plan = _executed_plan(
        bp_plan.build_bp_flags(cohort, parquet_tables["measurement"], YEAR)
    )
    scans = [line for line in plan.splitlines()
             if "FileScan" in line and "MEASUREMENT_CONCEPT_ID" in line]
    assert len(scans) == 1, plan


def test_cohort_stage_has_no_local_codelist_probe(parquet_tables):
    """Long codelists stay IN predicates on the scans: no relation built
    on the driver (LocalTableScan, or Scan ExistingRDD from
    createDataFrame) is joined in as a codelist probe."""
    plan = _executed_plan(_cohort_of(parquet_tables, PADDED_CODELISTS))
    assert "FileScan" in plan
    assert "LocalTableScan" not in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_cohort_stage_scans_each_input_once(parquet_tables):
    """One FileScan per cohort input, each matched by a column only that
    table has."""
    plan = _executed_plan(_cohort_of(parquet_tables, PADDED_CODELISTS))
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    for col in ("YEAR_OF_BIRTH", "CONDITION_CONCEPT_ID", "MEASUREMENT_CONCEPT_ID",
                "OBSERVATION_CONCEPT_ID", "PROCEDURE_CONCEPT_ID"):
        assert sum(col in line for line in scans) == 1, (col, plan)
    assert len(scans) == 5, plan


# ------------------------------------------------------ exclusion flags

D22, D23 = dt.date(2022, 6, 1), dt.date(2023, 6, 1)


def _eligible(spark, persons, condition=(), measurement=(), observation=(),
              procedure=(), codelists=CODELISTS):
    """Keys of the cohort built over tiny in-memory tables."""
    df = build_cohort(
        spark.createDataFrame(persons, S.PERSON),
        spark.createDataFrame(list(condition), S.CONDITION_OCCURRENCE),
        spark.createDataFrame(list(measurement), S.MEASUREMENT),
        spark.createDataFrame(list(observation), S.OBSERVATION),
        spark.createDataFrame(list(procedure), S.PROCEDURE_OCCURRENCE),
        codelists, YEAR,
    )
    return {r["PATIENT_LINKAGE"] for r in df.collect()}


def test_pregnancy_in_lookback_year_does_not_exclude(spark):
    # the condition and procedure scans read look-back-year rows for
    # ESRD and care; the pregnancy flag must still ignore them
    kept = _eligible(
        spark, [_person_row("W1", 1990, sex="F"), _person_row("W2", 1990, sex="F")],
        condition=[("W1", 9001, q("pregnancy"), D22)],
        procedure=[("W2", 9004, D22)],
    )
    assert kept == {"W1", "W2"}


def test_pregnancy_outside_reproductive_age_women_does_not_exclude(spark):
    kept = _eligible(
        spark,
        [_person_row("M1", 1990, sex="M"), _person_row("W1", 1970, sex="F"),
         _person_row("W2", 1990, sex="F")],
        condition=[(k, 9001, q("pregnancy"), D23) for k in ("M1", "W1", "W2")],
    )
    assert kept == {"M1", "W1"}


def test_esrd_in_lookback_year_excludes(spark):
    kept = _eligible(
        spark, [_person_row(k, 1970) for k in ("E1", "E2", "E3", "K1")],
        condition=[("E1", 9101, q("esrd"), D22)],
        observation=[("E2", 9102, D22)],
        procedure=[("E3", 9103, D22)],
    )
    assert kept == {"K1"}


def test_empty_codelist_excludes_nobody(spark):
    # esrd_observation empties one reason of a shared scan;
    # preg_measurement empties measurement's only list
    codelists = {**CODELISTS, "esrd_observation": [], "preg_measurement": []}
    kept = _eligible(
        spark,
        [_person_row("E1", 1970), _person_row("C1", 1970), _person_row("W1", 1990, sex="F")],
        measurement=[("W1", D23, 9002, q("preg test"), 1.0, 0, q(""))],
        observation=[("E1", 9102, D23), ("C1", 9201, D23)],
        codelists=codelists,
    )
    assert kept == {"E1", "W1"}


def test_null_key_in_domain_table_excludes_nobody(spark):
    kept = _eligible(
        spark, [_person_row("K1", 1970), _person_row("W1", 1990, sex="F")],
        condition=[(None, 9101, q("esrd"), D23), (None, 9001, q("pregnancy"), D23)],
        observation=[(None, 9201, D23)],
    )
    assert kept == {"K1", "W1"}


# ------------------------------------------------------------ codelists


def test_codelist_filter_empty_list_selects_nothing(spark):
    df = spark.createDataFrame([(1,), (None,)], "c long")
    assert flt.codelist_filter(df, "c", []).count() == 0


def test_codelist_filter_rejects_non_integer_code(spark):
    df = spark.createDataFrame([(1,)], "c long")
    with pytest.raises(ValueError):
        flt.codelist_filter(df, "c", [1, "2) OR (1 = 1"])


def test_codelist_filter_escapes_backtick_in_column_name(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "c long").toDF("odd`name")
    out = flt.codelist_filter(df, "odd`name", [2, 3])
    assert sorted(r[0] for r in out.collect()) == [2, 3]


# ----------------------------------------------------- attrition bands


def test_attrition_proportions_within_reference_bands(spark):
    """Reference QC idiom #3 (SURVEY.md §5): the exclusion plumbing must
    reproduce the reference's PUBLISHED attrition rates when evidence is
    planted at those rates on a scaled population —
    8.97% of women of reproductive age excluded for pregnancy
    (2_data_importing_cleaning.R:403-405), 0.18% of all adults for ESRD
    (:482-484), and ~0.01% for palliative/hospice care.  This pins the
    exclusion machinery's PROPORTIONS (no over-/under-exclusion, WRA
    denominator right, domains unioned not double-counted), not just
    golden-patient membership.
    """
    import datetime as dt

    from hypertension_dashboard_pipeline_spark import schemas as S
    from hypertension_dashboard_pipeline_spark.operators.aggregates import attrition_pct
    from hypertension_dashboard_pipeline_spark.plans.fixtures import CODELISTS, q
    from hypertension_dashboard_pipeline_spark.plans import cohort as co

    N, N_WRA = 10_000, 3_000
    N_PREG = round(0.0897 * N_WRA)   # 269 -> 8.9667%
    N_ESRD = round(0.0018 * N)       # 18  -> 0.18%
    N_CARE = 1                       # 0.01%
    d23 = dt.date(2023, 6, 1)

    persons, conditions, measurements, observations, procedures = [], [], [], [], []
    for i in range(N):
        key = f"A{i:05d}"
        wra = i < N_WRA
        persons.append((key, 1990 if wra else 1970, q("CAUCASIAN"),
                        q("F" if wra else "M"), 8532 if wra else 8507,
                        q("303"), "GA"))
    # pregnancy evidence spread over all four domains (union must not
    # double-count a patient with multi-domain evidence: A00000 has 2)
    for i in range(N_PREG):
        key = f"A{i:05d}"
        dom = i % 4
        if dom == 0:
            conditions.append((key, 9001, q("pregnancy"), d23))
        elif dom == 1:
            measurements.append((key, d23, 9002, q("preg test"), 1.0, 0, q("")))
        elif dom == 2:
            observations.append((key, 9003, d23))
        else:
            procedures.append((key, 9004, d23))
    conditions.append(("A00000", 9001, q("pregnancy again"), d23))
    # ESRD / care evidence on males only (disjoint from pregnancy set)
    for i in range(N_WRA, N_WRA + N_ESRD):
        conditions.append((f"A{i:05d}", 9101, q("esrd"), d23))
    for i in range(N_WRA + N_ESRD, N_WRA + N_ESRD + N_CARE):
        observations.append((f"A{i:05d}", 9201, d23))

    person = spark.createDataFrame(persons, S.PERSON)
    condition = spark.createDataFrame(conditions, S.CONDITION_OCCURRENCE)
    measurement = spark.createDataFrame(measurements, S.MEASUREMENT)
    observation = spark.createDataFrame(observations, S.OBSERVATION)
    procedure = spark.createDataFrame(procedures, S.PROCEDURE_OCCURRENCE)

    grown = co.adults(co.drop_misbridged(co.base_population(person)), YEAR)
    n_total = grown.count()
    wra = F.col("YEAR_OF_BIRTH").between(YEAR - 44, YEAR - 18) & (F.col("SEX") == "F")
    n_wra = grown.filter(wra).count()
    assert (n_total, n_wra) == (N, N_WRA)

    # the reasons applied in the reference's order: pregnancy among
    # WRA, then ESRD, then care
    flagged = grown.join(
        co.exclusion_flags(condition, measurement, observation, procedure,
                           CODELISTS, YEAR),
        co.KEY, "left",
    ).fillna(0, subset=list(co.REASONS))
    after_preg = flagged.filter(~(wra & (F.col("preg") == 1)))
    n1 = after_preg.count()
    after_esrd = after_preg.filter(F.col("esrd") == 0)
    n2 = after_esrd.count()
    n3 = after_esrd.filter(F.col("care") == 0).count()

    # the reference's printed formulas, with its denominators
    pct_preg = attrition_pct(n_total, n1, denom=n_wra)
    pct_esrd = attrition_pct(n1, n2, denom=n_total)
    pct_care = attrition_pct(n2, n3, denom=n_total)
    assert abs(pct_preg - 8.97) < 0.5, pct_preg
    assert abs(pct_esrd - 0.18) < 0.05, pct_esrd
    assert abs(pct_care - 0.01) < 0.02, pct_care
