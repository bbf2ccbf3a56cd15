"""Filter operators (reference P5-P13, SURVEY.md §2.2).

Every filter here is a plain Column predicate — Catalyst pushes them
into the Parquet scan (PushedFilters) and prunes partitions, which is
what makes these safe at 100 TB: selectivity is applied before rows
ever reach a shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(df: DataFrame, *cols: str) -> DataFrame:
    """Reference P5: ``filter(!is.na(PATIENT_LINKAGE))``
    (2_data_importing_cleaning.R:80-81)."""
    out = df
    for c in cols:
        out = out.filter(F.col(c).isNotNull())
    return out


def codelist_predicate(col: str, codes: Sequence[int]) -> Column:
    """Concept-ID membership as one ``col IN (...)`` predicate.

    The expression is built as one SQL string — a single JVM call however
    long the list (``Column.isin`` costs a py4j round trip per literal).
    Every code must convert with ``int()`` and fit in 64 bits (ValueError
    otherwise), so no outside text reaches the SQL; the column name is
    backtick-quoted. The codes are BIGINT literals (``4152194L``), the
    type of the OMOP concept columns, so the analyzer wraps no ``Cast``
    around each one; on a narrower integer column it casts the column
    once, and the optimizer unwraps that cast so the filter still pushes
    into the scan. An empty codelist selects nothing.
    """
    values = [int(c) for c in codes]
    if not values:
        return F.lit(False)
    if not all(-(1 << 63) <= v < (1 << 63) for v in values):
        raise ValueError("codelist code outside the 64-bit integer range")
    quoted = "`" + col.replace("`", "``") + "`"
    return F.expr(f"{quoted} IN ({', '.join(f'{v}L' for v in values)})")


def codelist_filter(df: DataFrame, col: str,
                    codes: Sequence[int] | DataFrame,
                    code_col: str = "concept_id") -> DataFrame:
    """Reference P9/J8: concept-ID membership against a codelist.

    The reference splices codelists into SQL text as IN-literals
    (2_data_importing_cleaning.R:209,299), and so does this: a Python
    codelist of any length becomes one IN predicate
    (:func:`codelist_predicate`), pushed into the scan and evaluated as
    a hash-set lookup once the list is long. A codelist DataFrame becomes
    an explicitly-broadcast LEFT SEMI join.
    """
    if isinstance(codes, DataFrame):
        probe = codes.select(F.col(code_col).alias(col)).distinct()
        return df.join(F.broadcast(probe), on=col, how="left_semi")
    return df.filter(codelist_predicate(col, codes))


def year_in(df: DataFrame, date_col: str, years: Sequence[int]) -> DataFrame:
    """Reference P10: ``YEAR(d) IN (...)`` (3_blood_pressure.R:100).

    On year-partitioned tables (io.write_partitioned) this prunes
    partitions; on flat tables it pushes to the row-group stats.
    """
    return df.filter(F.year(F.col(date_col)).isin(list(years)))


def plausibility_band(df: DataFrame, col: str, lo: float, hi: float,
                      strict_integers: bool = False) -> DataFrame:
    """Reference P12: drop biologically implausible measurements
    (``SBP %in% 30:300``, 3_blood_pressure.R:143-151).

    R's ``%in% 30:300`` is integer-set membership (drops 120.5); the
    documented intent is a plausibility *band*, which is the engine
    default. ``strict_integers=True`` reproduces the literal R
    semantics (SURVEY.md §2.10-2).
    """
    c = F.col(col)
    cond = c.isNotNull() & c.between(lo, hi)
    if strict_integers:
        cond = cond & (c == F.floor(c))
    return df.filter(cond)


def band_predicate(col: str, lo: float, hi: float) -> Column:
    """The plausibility band as a reusable predicate Column."""
    c = F.col(col)
    return c.isNotNull() & c.between(lo, hi)
