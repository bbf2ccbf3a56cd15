"""Seeded synthetic OMOP tables and codelists for the pipeline workloads.

Everything is drawn from one ``numpy.random.Generator(PCG64(seed))`` in a
fixed order and written with fixed Parquet settings, so the same seed and
size give byte-identical files. The shapes the pipeline has to cope with
are all present at known rates:

* 3 % of patients are mis-bridged (a second person row with a conflicting
  year of birth) and 1 % carry a state-only conflict that must collapse;
* null keys, rows without a location, and minors;
* BP readings with same-day repeats, SBP-only days, implausible values,
  nulls and a wrong unit; 10 % of patients have readings only in the
  look-back year; two thirds of measurement rows are non-BP noise;
* codelists of real length (about 1500 pregnancy-condition and 2500
  anti-hypertensive concepts), so ``codelist_filter`` takes both its
  IN-literal path (<= 128 codes) and its broadcast semi-join path.

BP values are whole numbers, so the same-day half-even average is exact
on both engines the checks compare.
"""

from __future__ import annotations

import base64
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR = 2023
ROW_GROUP_ROWS = 65_536

# Concept IDs the pipeline hard-codes (sources/codelists.py); kept as
# literals so generating inputs needs no Spark import.
SBP_CONCEPTS = (4152194, 3004249, 4232915, 3018586)
DBP_CONCEPTS = (4154790, 3012888, 4248524, 3034703)
MMHG = 8876
WRONG_UNIT = 8840

CODELIST_SIZES = {
    "preg_condition": 1500,
    "preg_measurement": 60,
    "preg_observation": 200,
    "preg_procedure": 400,
    "esrd_condition": 90,
    "esrd_observation": 20,
    "esrd_procedure": 150,
    "palliative_observation": 10,
    "palliative_procedure": 15,
    "hospice_observation": 8,
    "hospice_procedure": 12,
    "htn_dx": 120,
    "htn_rx": 2500,
}

# noise concept ranges, disjoint from codelists and BP concepts
_NOISE = {
    "measurement": (2_000_000, 2_100_000),
    "condition": (1_000_000, 1_100_000),
    "observation": (1_100_000, 1_200_000),
    "procedure": (1_200_000, 1_300_000),
    "drug_exposure": (1_300_000, 1_400_000),
}
_CODELIST_RANGE = (40_000_000, 45_000_000)

STATES = ("AL", "AZ", "CA", "CO", "FL", "GA", "IL", "MA", "MD", "MI",
          "MN", "NC", "NJ", "NY", "OH", "PA", "TN", "TX", "VA", "WA")
RACES = ("CAUCASIAN", "AFRICAN AMERICAN", "ASIAN", "HISPANIC", "OTHER",
         "UNKNOWN")
RACE_P = (0.55, 0.18, 0.07, 0.12, 0.05, 0.03)

SCHEMAS = {
    "person": pa.schema([
        ("PATIENT_LINKAGE", pa.string()), ("YEAR_OF_BIRTH", pa.int32()),
        ("ETHNICITY_SOURCE_VALUE", pa.string()),
        ("GENDER_SOURCE_VALUE", pa.string()),
        ("GENDER_CONCEPT_ID", pa.int32()), ("LOCATION_ZIP", pa.string()),
        ("LOCATION_STATE", pa.string()),
    ]),
    "measurement": pa.schema([
        ("PATIENT_LINKAGE", pa.string()), ("MEASUREMENT_DATE", pa.date32()),
        ("MEASUREMENT_CONCEPT_ID", pa.int64()),
        ("MEASUREMENT_CONCEPT_DESC", pa.string()),
        ("VALUE_AS_NUMBER", pa.float64()), ("UNIT_CONCEPT_ID", pa.int64()),
        ("UNIT_CONCEPT_DESC", pa.string()),
    ]),
    "condition": pa.schema([
        ("PATIENT_LINKAGE", pa.string()),
        ("CONDITION_CONCEPT_ID", pa.int64()),
        ("CONDITION_CONCEPT_DESC", pa.string()),
        ("CONDITION_START_DATE", pa.date32()),
    ]),
    "observation": pa.schema([
        ("PATIENT_LINKAGE", pa.string()),
        ("OBSERVATION_CONCEPT_ID", pa.int64()),
        ("OBSERVATION_DATE", pa.date32()),
    ]),
    "procedure": pa.schema([
        ("PATIENT_LINKAGE", pa.string()),
        ("PROCEDURE_CONCEPT_ID", pa.int64()),
        ("PROCEDURE_DATE", pa.date32()),
    ]),
    "drug_exposure": pa.schema([
        ("PATIENT_LINKAGE", pa.string()), ("DRUG_CONCEPT_ID", pa.int64()),
        ("DRUG_EXPOSURE_START_DATE", pa.date32()),
    ]),
}
TABLES = tuple(SCHEMAS)


def q(s: str) -> str:
    """Quote-wrap like the source extracts ('"M"')."""
    return f'"{s}"'


def _codelists(rng: np.random.Generator) -> dict[str, list[int]]:
    total = sum(CODELIST_SIZES.values())
    pool = rng.choice(np.arange(*_CODELIST_RANGE, dtype=np.int64), total,
                      replace=False)
    out, at = {}, 0
    for name, n in CODELIST_SIZES.items():
        out[name] = sorted(int(c) for c in pool[at:at + n])
        at += n
    return out


def _dates(rng: np.random.Generator, years: np.ndarray) -> np.ndarray:
    start = (years - 1970).astype("datetime64[Y]").astype("datetime64[D]")
    return start + rng.integers(0, 365, len(years))


def _years(rng: np.random.Generator, n: int, p=(0.1, 0.35, 0.55)) -> np.ndarray:
    return rng.choice(np.array([YEAR - 2, YEAR - 1, YEAR]), n, p=p)


def _pick(rng: np.random.Generator, codes, n: int) -> np.ndarray:
    return np.asarray(codes, dtype=np.int64)[rng.integers(0, len(codes), n)]


def _evidence(rng, who: np.ndarray, codes, years_p) -> tuple:
    """One codelist row for each patient index in ``who``."""
    return who, _pick(rng, codes, len(who)), _years(rng, len(who), years_p)


def _domain(rng, n_patients: int, name: str, per_patient: float,
            evidence: list[tuple]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Noise rows (Poisson per patient, any of three years) plus the
    given evidence rows, in patient order."""
    counts = rng.poisson(per_patient, n_patients)
    pid = np.repeat(np.arange(n_patients), counts)
    concept = rng.integers(*_NOISE[name], len(pid)).astype(np.int64)
    year = _years(rng, len(pid), (1 / 3, 1 / 3, 1 / 3))
    parts = [(pid, concept, year)] + evidence
    pid = np.concatenate([p[0] for p in parts])
    concept = np.concatenate([p[1] for p in parts])
    year = np.concatenate([p[2] for p in parts])
    order = np.argsort(pid, kind="stable")
    return pid[order], concept[order], _dates(rng, year[order])


def generate_omop(seed: int, n_patients: int) -> tuple[dict[str, pa.Table], dict]:
    """Tables (keyed as ``run_pipeline`` expects) and codelists."""
    rng = np.random.Generator(np.random.PCG64(seed))
    codelists = _codelists(rng)
    n = n_patients

    raw = rng.integers(0, 256, (n, 12), dtype=np.uint8)
    keys = np.array([base64.b64encode(r.tobytes()).decode() for r in raw],
                    dtype=object)
    yob = rng.integers(1930, 2016, n).astype(np.int32)
    female = rng.random(n) < 0.52
    race = np.array(RACES, dtype=object)[rng.choice(len(RACES), n, p=RACE_P)]
    state = np.array(STATES, dtype=object)[rng.integers(0, len(STATES), n)]
    zip3 = rng.integers(100, 1000, n)
    wra = female & (yob >= YEAR - 44) & (yob <= YEAR - 18)

    # --- person, with mis-bridges, state conflicts and missing values ---
    p_idx = [np.arange(n)]
    p_yob, p_state, p_zip = [yob], [state.copy()], [zip3.astype(object)]
    misbridged = rng.choice(n, int(0.03 * n), replace=False)
    p_idx.append(misbridged)
    p_yob.append(yob[misbridged] + rng.integers(1, 9, len(misbridged)).astype(np.int32))
    p_state.append(state[misbridged])
    p_zip.append(zip3[misbridged].astype(object))
    conflict = rng.choice(n, int(0.01 * n), replace=False)
    p_idx.append(conflict)
    p_yob.append(yob[conflict])
    p_state.append(np.array(STATES, dtype=object)[rng.integers(0, len(STATES), len(conflict))])
    p_zip.append(zip3[conflict].astype(object))
    idx = np.concatenate(p_idx)
    p_state = np.concatenate(p_state)
    p_zip = np.concatenate(p_zip)
    unlocated = rng.random(len(idx)) < 0.005
    p_state[unlocated] = None
    p_zip[rng.random(len(idx)) < 0.003] = None
    p_keys = keys[idx].copy()
    p_keys[rng.random(len(idx)) < 0.001] = None
    sex = np.where(female[idx], "F", "M")
    person = pa.table({
        "PATIENT_LINKAGE": p_keys,
        "YEAR_OF_BIRTH": np.concatenate(p_yob),
        "ETHNICITY_SOURCE_VALUE": [q(r) for r in race[idx]],
        "GENDER_SOURCE_VALUE": [q(s) for s in sex],
        "GENDER_CONCEPT_ID": np.where(female[idx], 8532, 8507).astype(np.int32),
        "LOCATION_ZIP": [None if z is None else q(str(z)) for z in p_zip],
        "LOCATION_STATE": p_state,
    }, schema=SCHEMAS["person"])

    # --- measurement: BP visit days, readings, noise, pregnancy labs ---
    lookback_only = rng.random(n) < 0.10
    n_days = rng.poisson(4.5, n)
    d_pid = np.repeat(np.arange(n), n_days)
    d_year = _years(rng, len(d_pid), (0.05, 0.35, 0.60))
    d_year[lookback_only[d_pid]] = YEAR - 1
    d_date = _dates(rng, d_year)
    n_sbp = 1 + (rng.random(len(d_pid)) < 0.15) + (rng.random(len(d_pid)) < 0.05)
    n_dbp = 1 + (rng.random(len(d_pid)) < 0.15)
    n_dbp[rng.random(len(d_pid)) < 0.04] = 0  # SBP-only days never pair
    mu_s = rng.normal(128, 16, n)
    mu_d = rng.normal(80, 10, n)

    def readings(per_day, concepts, mu, sd):
        r_day = np.repeat(np.arange(len(d_pid)), per_day)
        r_pid = d_pid[r_day]
        val = np.rint(rng.normal(mu[r_pid], sd)).astype(np.float64)
        return r_pid, d_date[r_day], _pick(rng, concepts, len(r_day)), val

    sbp = readings(n_sbp, SBP_CONCEPTS, mu_s, 9)
    dbp = readings(n_dbp, DBP_CONCEPTS, mu_d, 7)
    bp_pid = np.concatenate([sbp[0], dbp[0]])
    bp_date = np.concatenate([sbp[1], dbp[1]])
    bp_concept = np.concatenate([sbp[2], dbp[2]])
    bp_val = np.concatenate([sbp[3], dbp[3]])
    odd = rng.random(len(bp_val))
    bp_val[odd < 0.01] = rng.choice(np.array([0.0, 10.0, 350.0, 999.0]),
                                    int((odd < 0.01).sum()))
    bp_val[(odd >= 0.01) & (odd < 0.015)] = np.nan
    bp_unit = np.where(rng.random(len(bp_val)) < 0.03, WRONG_UNIT, MMHG)

    n_noise = rng.poisson(2.0 * (len(bp_pid) / n), n)
    nz_pid = np.repeat(np.arange(n), n_noise)
    nz_date = _dates(rng, _years(rng, len(nz_pid), (1 / 3, 1 / 3, 1 / 3)))
    nz_concept = rng.integers(*_NOISE["measurement"], len(nz_pid)).astype(np.int64)
    nz_val = np.rint(rng.gamma(2.0, 40.0, len(nz_pid)))
    nz_unit = rng.choice(np.array([8840, 8713, 8554, MMHG]), len(nz_pid))

    pg_pid = np.flatnonzero(wra & (rng.random(n) < 0.05))
    pg_date = _dates(rng, np.full(len(pg_pid), YEAR))
    pg_concept = _pick(rng, codelists["preg_measurement"], len(pg_pid))

    m_pid = np.concatenate([bp_pid, nz_pid, pg_pid])
    order = np.argsort(m_pid, kind="stable")
    m_pid = m_pid[order]
    m_unit = np.concatenate([bp_unit, nz_unit, np.full(len(pg_pid), 8554)])[order]
    m_val = np.concatenate([bp_val, nz_val, np.ones(len(pg_pid))])[order]
    m_bp = np.concatenate([np.ones(len(bp_pid), bool),
                           np.zeros(len(nz_pid) + len(pg_pid), bool)])[order]
    measurement = pa.table({
        "PATIENT_LINKAGE": keys[m_pid],
        "MEASUREMENT_DATE": np.concatenate([bp_date, nz_date, pg_date])[order],
        "MEASUREMENT_CONCEPT_ID": np.concatenate([bp_concept, nz_concept, pg_concept])[order],
        "MEASUREMENT_CONCEPT_DESC": np.where(m_bp, q("blood pressure"), q("lab")),
        "VALUE_AS_NUMBER": pa.array(m_val, mask=np.isnan(m_val)),
        "UNIT_CONCEPT_ID": m_unit.astype(np.int64),
        "UNIT_CONCEPT_DESC": np.where(m_unit == MMHG, q("mmHg"), q("other")),
    }, schema=SCHEMAS["measurement"])

    # --- condition / observation / procedure / drug_exposure ---
    def some(mask_p: float, base=None) -> np.ndarray:
        pool = np.arange(n) if base is None else np.flatnonzero(base)
        return pool[rng.random(len(pool)) < mask_p]

    lookback = (0.0, 0.4, 0.6)
    this_year = (0.0, 0.0, 1.0)
    cl = codelists
    c_pid, c_concept, c_date = _domain(rng, n, "condition", 6.0, [
        _evidence(rng, some(0.18), cl["htn_dx"], (0.1, 0.2, 0.7)),
        _evidence(rng, some(0.08, wra), cl["preg_condition"], (0.0, 0.3, 0.7)),
        _evidence(rng, some(0.01), cl["esrd_condition"], lookback),
        _evidence(rng, some(0.02), cl["preg_condition"], this_year),
    ])
    condition = pa.table({
        "PATIENT_LINKAGE": keys[c_pid],
        "CONDITION_CONCEPT_ID": c_concept,
        "CONDITION_CONCEPT_DESC": np.full(len(c_pid), q("condition"), dtype=object),
        "CONDITION_START_DATE": c_date,
    }, schema=SCHEMAS["condition"])
    o_pid, o_concept, o_date = _domain(rng, n, "observation", 3.0, [
        _evidence(rng, some(0.03, wra), cl["preg_observation"], this_year),
        _evidence(rng, some(0.005), cl["esrd_observation"], lookback),
        _evidence(rng, some(0.005), cl["palliative_observation"], lookback),
        _evidence(rng, some(0.004), cl["hospice_observation"], (0.5, 0.2, 0.3)),
    ])
    observation = pa.table({
        "PATIENT_LINKAGE": keys[o_pid], "OBSERVATION_CONCEPT_ID": o_concept,
        "OBSERVATION_DATE": o_date,
    }, schema=SCHEMAS["observation"])
    r_pid, r_concept, r_date = _domain(rng, n, "procedure", 3.0, [
        _evidence(rng, some(0.03, wra), cl["preg_procedure"], this_year),
        _evidence(rng, some(0.006), cl["esrd_procedure"], lookback),
        _evidence(rng, some(0.004), cl["palliative_procedure"], lookback),
        _evidence(rng, some(0.004), cl["hospice_procedure"], lookback),
    ])
    procedure = pa.table({
        "PATIENT_LINKAGE": keys[r_pid], "PROCEDURE_CONCEPT_ID": r_concept,
        "PROCEDURE_DATE": r_date,
    }, schema=SCHEMAS["procedure"])
    rx = some(0.25)
    g_pid, g_concept, g_date = _domain(rng, n, "drug_exposure", 5.0, [
        _evidence(rng, np.repeat(rx, 2), cl["htn_rx"], (0.05, 0.15, 0.8)),
    ])
    drug = pa.table({
        "PATIENT_LINKAGE": keys[g_pid], "DRUG_CONCEPT_ID": g_concept,
        "DRUG_EXPOSURE_START_DATE": g_date,
    }, schema=SCHEMAS["drug_exposure"])

    tables = {"person": person, "measurement": measurement,
              "condition": condition, "observation": observation,
              "procedure": procedure, "drug_exposure": drug}
    return tables, codelists


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=ROW_GROUP_ROWS, compression="snappy")


def ensure_omop(cache_dir: str, seed: int, n_patients: int) -> str:
    """Directory with ``<table>.parquet`` and ``codelists.json`` for this
    seed and size, generated once and reused."""
    out = os.path.join(cache_dir, f"omop-s{seed}-n{n_patients}")
    if os.path.exists(os.path.join(out, "codelists.json")):
        return out
    tables, codelists = generate_omop(seed, n_patients)
    tmp = f"{out}.tmp{os.getpid()}"
    write_tables(tables, tmp)
    with open(os.path.join(tmp, "codelists.json"), "w") as f:
        json.dump(codelists, f, sort_keys=True)
    os.replace(tmp, out)
    return out


def load_codelists(data_dir: str) -> dict[str, list[int]]:
    with open(os.path.join(data_dir, "codelists.json")) as f:
        return json.load(f)


def table_rows(data_dir: str) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}

