"""Reference-pipeline equivalents, composed from the operator modules.

cohort    — script 2 (2_data_importing_cleaning.R): population build,
            mis-bridge dedup, pregnancy/ESRD/in-care exclusions, labels,
            and script 4's DX/MEDS evidence from the same scans.
bp        — script 3 (3_blood_pressure.R): BP extraction, plausibility,
            same-day averaging, SBP/DBP pairing, high-BP/control flags.
phenotype — script 4 (4_hypertension_phenotype_main.R): DX/MEDS
            evidence + BP flags → hypertension e-phenotype → stats.
run       — the three as one query with one Parquet checkpoint.
"""

from .cohort import build_cohort  # noqa: F401
from .bp import build_bp_flags  # noqa: F401
from .phenotype import build_phenotype, phenotype_stats  # noqa: F401
