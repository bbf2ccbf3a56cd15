"""Engine-wide settings made by session.build_session (the ``spark``
fixture is built by it)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def test_dataframe_debugging_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_analysis_errors_keep_their_condition(spark):
    """Without the Python call-site capture an analysis error still
    carries its class and message."""
    df = spark.range(3).withColumnRenamed("id", "PATIENT_LINKAGE")
    with pytest.raises(AnalysisException) as err:
        df.select("PATIENT_LINKAG")
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "PATIENT_LINKAG" in str(err.value)
