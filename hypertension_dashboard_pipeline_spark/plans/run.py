"""Staged pipeline runner — the engine form of the reference's four
scripts glued by CSV checkpoints.

The reference executes script 2 → CSV → script 3 → CSV → script 4
(2_data_importing_cleaning.R:169,662; 3_blood_pressure.R:191-192;
4_hypertension_phenotype_main.R:115-116), re-casting types after every
round-trip. Here each stage boundary is a Parquet checkpoint
(io.checkpoint): type-exact, splittable, and restartable — rerunning a
later stage reads the persisted boundary instead of recomputing the
lineage, exactly the iteration pattern the reference's analysts used
CSVs for.

Each checkpoint is a plain Parquet directory, overwritten on every run,
with as many files as the stage's last shuffle left partitions; nothing
is bucketed or partitioned by PATIENT_LINKAGE, so the next stage plans
its patient-keyed joins from the files afresh. The read-back takes its
schema from the written DataFrame and starts no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..io import checkpoint
from .bp import build_bp_flags
from .cohort import build_cohort
from .phenotype import build_phenotype, phenotype_stats


def run_pipeline(spark: SparkSession, tables: dict[str, DataFrame],
                 codelists: dict, out_dir: str,
                 year: int = 2023) -> dict[str, DataFrame]:
    """Run cohort → BP → phenotype with a Parquet checkpoint after each
    stage (mirroring the reference's script boundaries) and return the
    per-stage DataFrames (all backed by the checkpoint files).
    """
    cohort = checkpoint(
        build_cohort(
            tables["person"], tables["condition"], tables["measurement"],
            tables["observation"], tables["procedure"], codelists, year,
        ),
        os.path.join(out_dir, "stage2_cohort"),
    )
    bp_flags = checkpoint(
        build_bp_flags(cohort, tables["measurement"], year),
        os.path.join(out_dir, "stage3_bp_flags"),
    )
    phenotype = checkpoint(
        build_phenotype(bp_flags, tables["condition"],
                        tables["drug_exposure"], codelists, year),
        os.path.join(out_dir, "stage4_phenotype"),
    )
    stats = checkpoint(
        phenotype_stats(phenotype),
        os.path.join(out_dir, "stage4_stats"),
    )
    return {
        "cohort": cohort,
        "bp_flags": bp_flags,
        "phenotype": phenotype,
        "stats": stats,
    }
