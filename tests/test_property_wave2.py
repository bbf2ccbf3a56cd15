"""Property-based cross-checks for the round-4 wave-2 operators.

The parity sweep pins these on the fixed testdata; hypothesis drives
them with adversarial tiny inputs and checks the invariants a SQL
oracle can't express directly:

* gap-fill LOCF: the dense grid covers exactly [per-key min, global
  max], no filled value is null, and filled values match a brute-force
  carry-forward.
* segment boilerplate: reassembled text equals the original whenever
  nothing crossed the min_df threshold; removed+kept always partition
  the segment count.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hypertension_dashboard_pipeline_spark.operators import segments as sg
from hypertension_dashboard_pipeline_spark.operators import timeseries as ts

# -------------------------------------------------------------- gap fill

series_strategy = st.dictionaries(
    st.tuples(
        st.integers(min_value=1, max_value=3),     # key
        st.integers(min_value=0, max_value=9),     # day offset
    ),
    st.integers(min_value=1, max_value=100),       # value
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(series_strategy)
def test_gap_fill_matches_brute_force(spark, obs):
    base = dt.date(2024, 3, 1)
    rows = [
        (k, base + dt.timedelta(days=off), v)
        for (k, off), v in sorted(obs.items())
    ]
    daily = spark.createDataFrame(rows, "k int, day date, n int")
    gmax = max(d for _, d, _ in rows)
    horizon = spark.createDataFrame([(gmax,)], "d1 date")
    out = ts.gap_fill_locf(daily, "k", "day", "n", horizon).collect()

    # brute force
    want = {}
    keys = {k for k, _, _ in rows}
    for k in keys:
        kmin = min(d for kk, d, _ in rows if kk == k)
        vals = {d: v for kk, d, v in rows if kk == k}
        last = None
        d = kmin
        while d <= gmax:
            if d in vals:
                last = vals[d]
            want[(k, d)] = (last, d not in vals)
            d += dt.timedelta(days=1)

    got = {(r.k, r.day): (r.filled, r.is_gap) for r in out}
    assert got == want
    assert all(v[0] is not None for v in got.values())


# ----------------------------------------------------- segment boilerplate

VOCAB = ["aa", "bb", "cc", "dd"]
tiny_doc = st.lists(st.sampled_from(VOCAB), min_size=1, max_size=7).map(
    " ".join
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(tiny_doc, min_size=1, max_size=5))
def test_segments_partition_counts_and_identity_below_threshold(spark, corpus):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    # width=3 segments; brute-force document frequency per segment
    def segs_of(t):
        ws = t.split()
        return [
            " ".join(ws[i * 3:(i + 1) * 3])
            for i in range((len(ws) + 2) // 3)
        ]

    df_count = {}
    for t in corpus:
        for s in set(segs_of(t)):
            df_count[s] = df_count.get(s, 0) + 1

    out = {r.doc_id: r for r in
           sg.remove_boilerplate(docs, width=3, min_df=3).collect()}
    import hashlib
    for i, t in enumerate(corpus):
        ss = segs_of(t)
        boiler = [s for s in ss if df_count[s] >= 3]
        kept = [s for s in ss if df_count[s] < 3]
        assert out[i].n_segs == len(ss)
        assert out[i].n_boiler == len(boiler)
        assert out[i].clean_md5 == hashlib.md5(
            " ".join(kept).encode()
        ).hexdigest()
