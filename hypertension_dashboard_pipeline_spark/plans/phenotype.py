"""Hypertension e-phenotype (reference script 4,
4_hypertension_phenotype_main.R).

Evidence: a hypertension diagnosis code in the measurement year
(:62-81), an anti-hypertensive prescription in the measurement year
(:92-110), or the BP-based flag from script 3. The DX and MEDS flags
come from the cohort stage's evidence scans (``cohort.evidence_flags``),
so this stage reads no table. The final phenotype is the OR of the
three (:150-160), with every input NULL-filled to 0 first — the
reference fills only DX and MEDS (:139-144), leaving NA phenotypes for
look-back-only patients; the engine makes all flags deterministic 0/1
(SURVEY.md §2.10-1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import flag
from ..operators import aggregates as agg


def build_phenotype(bp_flags: DataFrame) -> DataFrame:
    """Script-4 end-to-end: the two phenotype flags, added to rows that
    carry the DX/MEDS evidence (plans.cohort) and the BP flags
    (plans.bp)."""
    evidence = (F.col("HTN_DX") == 1) | (F.col("HTN_MEDS") == 1)
    return bp_flags.withColumns({
        "hypertension_140": flag(evidence | (F.col("HTN140_90") == 1)),
        "hypertension_130": flag(evidence | (F.col("HTN130_80") == 1)),
    })


def phenotype_stats(phenotype: DataFrame,
                    col: str = "hypertension_140") -> DataFrame:
    """Prevalence frequency table with totals row — the reference's
    tabyl + adorn_totals output (4_hypertension_phenotype_main.R:182-186)."""
    return agg.freq_table_with_total(phenotype, col)
