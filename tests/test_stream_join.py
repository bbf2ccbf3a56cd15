"""Boundary semantics for the view→purchase attribution join.

``view_purchase_attribution`` is the interval join under
events_last_touch_attribution; its boundaries are pinned here on toy
data, and the query is oracle-checked by the parity sweep.
"""

from __future__ import annotations

import datetime as dt

from hypertension_dashboard_pipeline_spark.operators.analytics import (
    view_purchase_attribution,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute)


def test_interval_boundaries_and_user_isolation(spark):
    views = spark.createDataFrame(
        [(1, 100, _ts(0)), (2, 101, _ts(0))],
        "user_id long, event_id long, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [
            (1, 200, _ts(0)),    # same instant: included (>= lower bound)
            (1, 201, _ts(59)),   # inside horizon
            (1, 202, dt.datetime(2024, 1, 1, 11, 0)),  # exactly +1h: excluded
            (1, 203, dt.datetime(2024, 1, 1, 9, 59)),  # before view: excluded
            (3, 204, _ts(30)),   # other user: excluded
        ],
        "user_id long, event_id long, ts timestamp",
    )
    got = {
        (r.view_id, r.purchase_id)
        for r in view_purchase_attribution(views, purchases, "1 hour").collect()
    }
    assert got == {(100, 200), (100, 201)}


def test_purchase_attributed_to_every_view_in_horizon(spark):
    views = spark.createDataFrame(
        [(1, 100, _ts(0)), (1, 101, _ts(30))],
        "user_id long, event_id long, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [(1, 200, _ts(45))], "user_id long, event_id long, ts timestamp"
    )
    got = {
        (r.view_id, r.purchase_id)
        for r in view_purchase_attribution(views, purchases, "1 hour").collect()
    }
    assert got == {(100, 200), (101, 200)}
