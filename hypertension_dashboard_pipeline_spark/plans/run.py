"""Pipeline runner — the engine form of the reference's four scripts
glued by CSV files.

The reference executes script 2 → CSV → script 3 → CSV → script 4
(2_data_importing_cleaning.R:169,662; 3_blood_pressure.R:191-192;
4_hypertension_phenotype_main.R:115-116), re-casting types after every
round-trip. Here cohort → BP → phenotype is one lazy per-patient query,
written once as one Parquet checkpoint (io.checkpoint): nothing waits
for an earlier stage's write, so Spark runs the person, BP-measurement
and evidence scans side by side, and no stage boundary is restartable
on its own. The stage outputs are column projections of that one
checkpoint, each with the columns that stage produces.

The checkpoint is a plain Parquet directory, overwritten on every run,
with as many files as the query's last shuffle left partitions. The
read-back takes its schema from the written DataFrame and starts no
Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..io import checkpoint
from .bp import build_bp_flags
from .cohort import KEY, build_cohort
from .phenotype import build_phenotype, phenotype_stats

COHORT = (KEY, "age", "sex", "race", "state", "zip3")
BP_FLAGS = (KEY, "has_bp", "HTN140_90", "HTN130_80", "HTNcontrol140",
            "HTNcontrol130")
PHENOTYPE = BP_FLAGS + ("HTN_DX", "HTN_MEDS", "hypertension_140",
                        "hypertension_130")


def run_pipeline(spark: SparkSession, tables: dict[str, DataFrame],
                 codelists: dict, out_dir: str,
                 year: int = 2023) -> dict[str, DataFrame]:
    """Run cohort → BP → phenotype as one query, write it to the
    ``stage4_phenotype`` checkpoint, and return each stage's columns
    (all backed by the checkpoint files) and the prevalence table.
    """
    cohort = build_cohort(
        tables["person"], tables["condition"], tables["measurement"],
        tables["observation"], tables["procedure"], tables["drug_exposure"],
        codelists, year,
    )
    written = checkpoint(
        build_phenotype(build_bp_flags(cohort, tables["measurement"], year)),
        os.path.join(out_dir, "stage4_phenotype"),
    )
    phenotype = written.select(*PHENOTYPE)
    return {
        "cohort": written.select(*COHORT),
        "bp_flags": written.select(*BP_FLAGS),
        "phenotype": phenotype,
        "stats": phenotype_stats(phenotype),
    }
