"""Unit tests for the round-4 wave-2 operators: time-series gap fill
(LOCF) and segment-level boilerplate removal — toy-frame semantics
the parity sweep can't isolate (all-boiler documents, leading-gap
behavior)."""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import functions as F

from hypertension_dashboard_pipeline_spark.operators import segments as sg
from hypertension_dashboard_pipeline_spark.operators import timeseries as ts


def _d(s: str) -> dt.date:
    return dt.date.fromisoformat(s)


class TestGapFillLocf:
    def test_fills_interior_gaps_and_tail(self, spark):
        daily = spark.createDataFrame(
            [
                (1, _d("2024-01-01"), 5),
                (1, _d("2024-01-03"), 7),
                (2, _d("2024-01-04"), 2),
            ],
            "k int, day date, n int",
        )
        horizon = spark.createDataFrame([(_d("2024-01-05"),)], "d1 date")
        out = ts.gap_fill_locf(daily, "k", "day", "n", horizon)
        got = {(r.k, r.day.isoformat()): (r.filled, r.is_gap) for r in out.collect()}
        # key 1: starts at its own min day, runs to the global horizon
        assert got[(1, "2024-01-01")] == (5, False)
        assert got[(1, "2024-01-02")] == (5, True)   # interior gap filled
        assert got[(1, "2024-01-03")] == (7, False)
        assert got[(1, "2024-01-04")] == (7, True)   # tail carried forward
        assert got[(1, "2024-01-05")] == (7, True)
        # key 2: no scaffold before its first observation
        assert (2, "2024-01-03") not in got
        assert got[(2, "2024-01-04")] == (2, False)
        assert got[(2, "2024-01-05")] == (2, True)
        assert len(got) == 7

    def test_first_day_never_null(self, spark):
        daily = spark.createDataFrame(
            [(1, _d("2024-02-10"), 3)], "k int, day date, n int"
        )
        horizon = spark.createDataFrame([(_d("2024-02-12"),)], "d1 date")
        out = ts.gap_fill_locf(daily, "k", "day", "n", horizon)
        assert out.filter(F.col("filled").isNull()).count() == 0


class TestSegmentBoilerplate:
    WORDS = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"  # one exact 10-word segment

    def test_shared_segment_removed_everywhere(self, spark):
        unique = ["u%d" % i for i in range(10)]
        docs = spark.createDataFrame(
            [
                (1, self.WORDS + " " + " ".join(f"a{i}" for i in range(10))),
                (2, self.WORDS + " " + " ".join(f"b{i}" for i in range(10))),
                (3, self.WORDS + " " + " ".join(f"c{i}" for i in range(10))),
                (4, " ".join(unique)),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in sg.remove_boilerplate(docs, width=10, min_df=3).collect()
        }
        assert out[1].n_segs == 2 and out[1].n_boiler == 1
        assert out[4].n_boiler == 0
        # doc 1's cleaned text is exactly its unique second segment
        expect = hashlib.md5(
            " ".join(f"a{i}" for i in range(10)).encode()
        ).hexdigest()
        assert out[1].clean_md5 == expect

    def test_all_boiler_doc_hashes_empty_string(self, spark):
        docs = spark.createDataFrame(
            [(i, self.WORDS) for i in range(1, 5)], "doc_id long, text string"
        )
        out = sg.remove_boilerplate(docs, width=10, min_df=3).collect()
        empty_md5 = hashlib.md5(b"").hexdigest()
        assert all(r.n_boiler == 1 and r.clean_md5 == empty_md5 for r in out)

    def test_blank_text_drops_out(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "   ")], "doc_id long, text string"
        )
        out = sg.remove_boilerplate(docs, width=10, min_df=3)
        assert [r.doc_id for r in out.collect()] == [1]
