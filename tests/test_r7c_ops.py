"""Unit + property tests for the round-7 wave-9/10 operators:
greedy k-center diversity selection and MMR re-ranking — each
cross-checked against an independent brute-force Python
implementation (the recompute-by-hand QC idiom, SURVEY.md §5.4)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hypertension_dashboard_pipeline_spark.operators import similarity as sim
from hypertension_dashboard_pipeline_spark.operators.analytics import (
    kcenter_greedy,
)

DIM = 4

vec_strategy = st.lists(
    st.lists(
        st.floats(-4, 4).map(lambda x: round(x, 3)),
        min_size=DIM,
        max_size=DIM,
    ),
    min_size=3,
    max_size=10,
)


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )


def _sq(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def _py_kcenter(vecs, k):
    """Reference greedy farthest-point traversal: seed at id 0, argmax
    of min distance to the chosen set, low-id tie-break."""
    centers = [0]
    while len(centers) < min(k, len(vecs)):
        best_id, best_d = None, -1.0
        for i in range(len(vecs)):
            if i in centers:
                continue
            d = min(_sq(vecs[i], vecs[c]) for c in centers)
            if d > best_d:
                best_id, best_d = i, d
        centers.append(best_id)
    return centers


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(vec_strategy)
def test_kcenter_matches_bruteforce(spark, vecs):
    k = min(3, len(vecs))
    out = kcenter_greedy(_emb_df(spark, vecs), k=k).collect()
    got = {r["sel_step"]: r["center_id"] for r in out}
    want = _py_kcenter(vecs, k)
    assert [got[s] for s in sorted(got)] == want
    # coverage: every point assigned, counts total the corpus
    assert sum(r["n_assigned"] for r in out) == len(vecs)


def test_kcenter_picks_spread_exemplars(spark):
    # 3 tight clusters far apart: the 3 centers must hit all clusters
    vecs = (
        [[0.0, 0.0, 0.0, 0.0], [0.1, 0.0, 0.0, 0.0]]
        + [[100.0, 0.0, 0.0, 0.0], [100.1, 0.0, 0.0, 0.0]]
        + [[0.0, 100.0, 0.0, 0.0]]
    )
    out = kcenter_greedy(_emb_df(spark, vecs), k=3).collect()
    chosen = {r["center_id"] for r in out}
    clusters = [{0, 1}, {2, 3}, {4}]
    assert all(chosen & c for c in clusters)


def _py_cos6(a, b):
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6


def _py_mmr(vecs, k=3, pool=5, lam=0.7):
    """Reference MMR: query = lowest nonzero-norm id; pool = cosine
    top-``pool``; greedy lam*rel - (1-lam)*max-sim selection."""
    nz = [i for i in range(len(vecs)) if any(x != 0.0 for x in vecs[i])]
    q = nz[0]
    cands = [
        (i, _py_cos6(vecs[i], vecs[q]))
        for i in nz
        if i != q
    ]
    cands.sort(key=lambda t: (-t[1], t[0]))
    cands = cands[:pool]
    rel = dict(cands)
    selected, red = [], {}
    remaining = dict(cands)
    for step in range(min(k, len(cands))):
        if step == 0:
            pick = max(remaining, key=lambda i: (remaining[i], -i))
        else:
            pick = max(
                remaining,
                key=lambda i: (lam * remaining[i] - (1 - lam) * red[i], -i),
            )
        selected.append(pick)
        pv = vecs[pick]
        remaining.pop(pick)
        for i in remaining:
            s = _py_cos6(vecs[i], pv)
            red[i] = max(red.get(i, -2.0), s)
    return selected


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(vec_strategy)
def test_mmr_matches_bruteforce(spark, vecs):
    # need at least one nonzero vector besides the query
    nz = [v for v in vecs if any(x != 0.0 for x in v)]
    if len(nz) < 2:
        return
    out = sim.mmr_rerank(_emb_df(spark, vecs), k=3, pool=5).collect()
    got = [r["vec_id"] for r in sorted(out, key=lambda r: r["sel_step"])]
    assert got == _py_mmr(vecs, k=3, pool=5)


def test_mmr_prefers_diverse_over_redundant(spark):
    # q at id0; two near-copies of the best match and one slightly
    # less relevant but orthogonal-ish candidate: step-2 must take the
    # diverse one, not the duplicate
    vecs = [
        [1.0, 0.0, 0.0, 0.0],        # query
        [0.7, 0.7, 0.0, 0.0],        # best match (tie, lower id)
        [0.7, 0.71, 0.0, 0.0],       # near-copy of best (red ~ 1)
        [0.7, -0.7, 0.0, 0.0],       # equally relevant, orthogonal
    ]
    out = sim.mmr_rerank(_emb_df(spark, vecs), k=2, pool=3).collect()
    got = [r["vec_id"] for r in sorted(out, key=lambda r: r["sel_step"])]
    assert got == [1, 3] == _py_mmr(vecs, k=2, pool=3)


def test_gini_known_distributions(spark):
    """Gini of a perfectly equal distribution is 0; a fully
    concentrated one approaches 1 - 1/n (the closed rank form's
    finite-n maximum)."""
    from hypertension_dashboard_pipeline_spark.registry import QUERIES, load_all
    import datetime as dt
    import math

    load_all()
    # build a tiny events dir: 4 users equal value, then 1 whale
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    def events_dir(values):
        root = tempfile.mkdtemp()
        for t in ("region nation customer supplier part orders lineitem "
                  "documents embeddings").split():
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       f"{root}/{t}.parquet")
        n = len(values)
        pq.write_table(pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([dt.datetime(2020, 1, 1)] * n,
                           pa.timestamp("us")),
            "user_id": pa.array(range(n), pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * n),
        }), f"{root}/events.parquet")
        return root

    equal = events_dir([10.0, 10.0, 10.0, 10.0])
    row = QUERIES["events_value_gini"](spark, equal).collect()[0]
    assert row["gini"] == 0.0

    whale = events_dir([0.01, 0.01, 0.01, 1000.0])
    row = QUERIES["events_value_gini"](spark, whale).collect()[0]
    # closed form max for n=4 is 0.75; the tiny non-whale mass pulls
    # it just below
    assert 0.70 <= row["gini"] <= 0.75


def test_range_search_zero_norm_and_threshold(spark):
    """Range search drops zero-norm rows via the when-guard (no ANSI
    divide crash) and returns exactly the rows at/above threshold."""
    from hypertension_dashboard_pipeline_spark.registry import QUERIES, load_all
    import tempfile, os
    import pyarrow as pa
    import pyarrow.parquet as pq

    load_all()
    root = tempfile.mkdtemp()
    for t in ("region nation customer supplier part orders lineitem "
              "documents events").split():
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   f"{root}/{t}.parquet")
    vecs = [
        [1.0, 0.0, 0.0, 0.0],   # query
        [1.0, 0.1, 0.0, 0.0],   # high cosine
        [0.0, 0.0, 0.0, 0.0],   # zero norm — must not crash
        [-1.0, 0.0, 0.0, 0.0],  # cosine -1
        [1.0, 4.0, 0.0, 0.0],   # cosine ~0.24
    ]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    }), f"{root}/embeddings.parquet")
    rows = QUERIES["sim_range_search"](spark, root).collect()
    got = {r["vec_id"] for r in rows}
    assert got == {1, 4}
    assert all(r["cos_sim"] >= 0.2 for r in rows)
