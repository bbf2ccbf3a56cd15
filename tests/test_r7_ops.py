"""Unit + property tests for the round-7 operators: containment
pairs, winnowing fingerprints, positional span decontamination,
exact stratified sampling, exact vector dedup, token entropy, OHLC
resampling, and event-type PMI — each cross-checked against an
independent brute-force Python implementation (the recompute-by-hand
QC idiom, 3_blood_pressure.R:177-182, SURVEY.md §5.4)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from datetime import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hypertension_dashboard_pipeline_spark.operators import dedup as dd
from hypertension_dashboard_pipeline_spark.operators import relevance as rel
from hypertension_dashboard_pipeline_spark.operators import sampling as smp
from hypertension_dashboard_pipeline_spark.operators import similarity as sim

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12).map(" ".join),
    min_size=2,
    max_size=6,
)


def _corpus_df(spark, corpus):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _rf(x: float, s: int = 6) -> float:
    return math.floor(x * 10**s + 0.5) / 10**s


# ---------------------------------------------------------------------------
# containment
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=corpus_strategy)
def test_containment_pairs_match_bruteforce(spark, corpus):
    got = {
        (r.id_a, r.id_b): (r.n_a, r.n_b, r.containment)
        for r in dd.containment_pairs(
            _corpus_df(spark, corpus), threshold=0.5, max_df=None,
            persist=False,
        ).collect()
    }
    want = {}
    for a in range(len(corpus)):
        for b in range(a + 1, len(corpus)):
            sa, sb = _shingles(corpus[a]), _shingles(corpus[b])
            if not sa or not sb:
                continue
            c = _rf(len(sa & sb) / min(len(sa), len(sb)))
            if c >= 0.5:
                want[(a, b)] = (len(sa), len(sb), c)
    assert got == want


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc verbatim inside a long one: containment 1.0 even
    though Jaccard is far below any useful threshold."""
    quote = "alpha beta gamma delta"
    filler = " ".join(f"tok{i}" for i in range(40))
    long_doc = filler + " " + quote + " " + " ".join(
        f"pad{i}" for i in range(40)
    )
    df = _corpus_df(spark, [quote, long_doc])
    got = dd.containment_pairs(df, threshold=0.9, persist=False).collect()
    assert len(got) == 1 and got[0].containment == 1.0
    sa, sb = _shingles(quote), _shingles(long_doc)
    assert len(sa & sb) / len(sa | sb) < 0.1  # Jaccard would miss it


# ---------------------------------------------------------------------------
# winnowing
# ---------------------------------------------------------------------------


def _winnow_brute(corpus, k=3, w=4):
    want = defaultdict(set)
    for i, text in enumerate(corpus):
        toks = text.split()
        hashes = [
            int(hashlib.md5(
                " ".join(toks[s : s + k]).encode()
            ).hexdigest()[:8], 16)
            for s in range(len(toks) - k + 1)
        ]
        for s in range(len(hashes) - w + 1):
            want[i].add(min(hashes[s : s + w]))
    return {i: fps for i, fps in want.items() if fps}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=15).map(" ".join),
    min_size=1, max_size=5,
))
def test_winnow_fingerprints_match_bruteforce(spark, corpus):
    got = defaultdict(set)
    for r in dd.winnow_fingerprints(_corpus_df(spark, corpus)).collect():
        got[r.id].add(r.fp)
    assert dict(got) == _winnow_brute(corpus)


def test_winnow_shared_substring_guarantee(spark):
    """Any shared token run of length >= w + k - 1 (= 6 here) must
    contribute at least one common fingerprint — the winnowing
    guarantee the MOSS matcher depends on."""
    shared = "alpha beta gamma delta eps zeta"  # 6 tokens
    a = "zeta eps " + shared + " beta alpha"
    b = shared + " gamma gamma delta"
    fps = defaultdict(set)
    for r in dd.winnow_fingerprints(_corpus_df(spark, [a, b])).collect():
        fps[r.id].add(r.fp)
    assert fps[0] & fps[1]


# ---------------------------------------------------------------------------
# positional span decontamination
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    corpus=st.lists(
        st.lists(st.sampled_from(VOCAB[:3]), min_size=0, max_size=12)
        .map(" ".join),
        min_size=2, max_size=6,
    ),
    k=st.sampled_from([2, 3]),
)
def test_contaminated_spans_match_bruteforce(spark, corpus, k):
    bench_texts, corp_texts = corpus[:1], corpus[1:]
    bench = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(bench_texts)],
        "doc_id long, text string",
    )
    corp = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corp_texts)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_hit_spans, r.max_run, r.first_hit, r.last_hit)
        for r in dd.contaminated_spans(corp, bench, k=k).collect()
    }
    bench_spans = set()
    for t in bench_texts:
        toks = t.split()
        for s in range(len(toks) - k + 1):
            bench_spans.add(" ".join(toks[s : s + k]))
    want = {}
    for i, t in enumerate(corp_texts):
        toks = t.split()
        hits = [
            s + 1
            for s in range(len(toks) - k + 1)
            if " ".join(toks[s : s + k]) in bench_spans
        ]
        if not hits:
            continue
        runs, cur = [], 1
        for prev, nxt in zip(hits, hits[1:]):
            if nxt == prev + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        want[i] = (len(hits), max(runs), hits[0], hits[-1])
    assert got == want


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["a", "b", "c"])),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    frac=st.sampled_from([(1, 10), (1, 3), (1, 2), (1, 1)]),
)
def test_stratified_exact_allocation_and_determinism(spark, rows, frac):
    num, den = frac
    df = spark.createDataFrame(rows, "k long, s string")
    out = smp.stratified_exact(df, "s", "k", num, den).collect()
    sizes = Counter(s for _, s in rows)
    taken = Counter(r.s for r in out)
    for s, n_g in sizes.items():
        assert taken.get(s, 0) == (2 * n_g * num + den) // (2 * den), s
    # repartition-stable: same row set from a different layout
    out2 = smp.stratified_exact(
        df.repartition(7), "s", "k", num, den
    ).collect()
    assert sorted(r.k for r in out) == sorted(r.k for r in out2)
    # hash-ranked: the selected keys are the stratum's lowest-hash keys
    def h(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
    for s, n_g in sizes.items():
        keys = sorted((k for k, s2 in rows if s2 == s), key=lambda k: (h(k), k))
        assert sorted(r.k for r in out if r.s == s) == sorted(
            keys[: (2 * n_g * num + den) // (2 * den)]
        )


# ---------------------------------------------------------------------------
# exact vector dedup
# ---------------------------------------------------------------------------


def test_exact_vector_dup_quantization_boundary(spark):
    """Vectors differing below the quantization step collapse; above,
    they stay distinct; groups report min-id survivor and true size."""
    rows = [
        (1, [0.5, 1.0]),
        (2, [0.5 + 4e-8, 1.0]),        # below 1e-6 step -> same group
        (3, [0.5 + 2e-6, 1.0]),        # above step -> different digest
        (4, [0.5, 1.0]),
        (5, [-0.25, 3.0]),
        (6, [-0.25, 3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_hash: (r.n_vectors, r.keep_id)
        for r in sim.exact_vector_dup_groups(df).collect()
    }
    assert sorted(got.values()) == [(2, 5), (3, 1)]


# ---------------------------------------------------------------------------
# token entropy
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=corpus_strategy)
def test_token_entropy_matches_bruteforce(spark, corpus):
    got = {
        r.doc_id: (r.n_tokens, r.token_entropy)
        for r in rel.token_entropy(_corpus_df(spark, corpus)).collect()
    }
    want = {}
    for i, t in enumerate(corpus):
        toks = t.split()
        if not toks:
            continue
        n = len(toks)
        cnt = Counter(toks)
        h = math.log2(n) - sum(
            c * math.log2(c) for c in cnt.values()
        ) / n
        want[i] = (n, _rf(h))
    assert got == want


def test_token_entropy_extremes(spark):
    df = _corpus_df(spark, ["alpha alpha alpha alpha",
                            "alpha beta gamma delta"])
    got = {r.doc_id: r.token_entropy for r in rel.token_entropy(df).collect()}
    assert got[0] == 0.0          # single-token vocabulary
    assert got[1] == 2.0          # 4 distinct tokens -> log2(4) bits


# ---------------------------------------------------------------------------
# OHLC + PMI brute force
# ---------------------------------------------------------------------------


def test_ohlc_deterministic_on_duplicate_timestamps(spark):
    ts = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, ts, "click", 5.0),
        (2, ts, "click", 3.0),          # same ts: event_id breaks the tie
        (3, datetime(2024, 1, 1, 18, 0, 0), "click", 9.0),
        (4, datetime(2024, 1, 2, 1, 0, 0), "click", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    from pyspark.sql import functions as F

    g = (
        df.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.min(F.struct("ts", "event_id", "value"))["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value"))["value"].alias("close"),
        )
        .orderBy("day")
        .collect()
    )
    assert (g[0].open, g[0].high, g[0].low, g[0].close) == (5.0, 9.0, 3.0, 9.0)
    assert (g[1].open, g[1].close) == (7.0, 7.0)


def test_type_pmi_bruteforce(spark):
    rows = [
        (1, "a"), (1, "b"), (1, "a"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    from pyspark.sql import functions as F

    ut = df.distinct()
    tot = ut.select("user_id").distinct().count()
    marg = Counter(r.event_type for r in ut.collect())
    co = Counter()
    by_user = defaultdict(set)
    for r in ut.collect():
        by_user[r.user_id].add(r.event_type)
    for types in by_user.values():
        ts = sorted(types)
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                co[(ts[i], ts[j])] += 1
    pairs = (
        ut.alias("x").join(ut.alias("y"), "user_id")
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(F.col("x.event_type").alias("ta"),
                 F.col("y.event_type").alias("tb"))
        .count()
        .collect()
    )
    got = {(r.ta, r.tb): r["count"] for r in pairs}
    assert got == dict(co)
    # PMI sign sanity: (a,b) co-occur in 2 of 4 users with P(a)=P(b)=3/4
    pmi_ab = math.log2((co[("a", "b")] * tot) / (marg["a"] * marg["b"]))
    assert pmi_ab < 0  # less than independence under these marginals


# ---------------------------------------------------------------------------
# minhash merge law, interval overlap
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(  # each doc: 1-3 parts of 0-10 tokens
            st.lists(st.sampled_from(VOCAB), min_size=0, max_size=10)
            .map(" ".join),
            min_size=1, max_size=3,
        ),
        min_size=1, max_size=4,
    ),
)
def test_minhash_merge_law(spark, docs):
    """merge(sigs(parts)) must equal the brute-force signature of the
    UNION of the parts' shingle sets — the mergeability law."""
    rows = [
        (i, part) for i, parts in enumerate(docs) for part in parts
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merged = {
        r.id: tuple(r[f"h{i}"] for i in range(16))
        for r in dd.merge_minhash_signatures(
            dd.minhash_signatures(df, "doc_id", "text")
        ).collect()
    }
    P = dd.MINHASH_PRIME
    params = dd.perm_params(16)
    want = {}
    for i, parts in enumerate(docs):
        shingles = set()
        for part in parts:
            shingles |= _shingles(part)
        if not shingles:
            continue
        xs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % P
            for s in shingles
        ]
        want[i] = tuple(
            min((a * x + b) % P for x in xs) for a, b in params
        )
    assert merged == want


def test_interval_overlap_bruteforce(spark):
    from pyspark.sql import functions as F

    rows = [
        (1, datetime(2024, 1, 1, 0), datetime(2024, 1, 1, 10), "a"),
        (1, datetime(2024, 1, 1, 5), datetime(2024, 1, 1, 20), "b"),
        (1, datetime(2024, 1, 1, 21), datetime(2024, 1, 1, 22), "c"),
        (2, datetime(2024, 1, 1, 0), datetime(2024, 1, 1, 1), "a"),
    ]
    iv = spark.createDataFrame(rows, "user_id long, s timestamp, e timestamp, t string")
    a, b = iv.alias("a"), iv.alias("b")
    got = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.t") < F.col("b.t"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            "a.user_id", F.col("a.t").alias("ta"), F.col("b.t").alias("tb"),
            (F.unix_micros(F.least(F.col("a.e"), F.col("b.e")))
             - F.unix_micros(F.greatest(F.col("a.s"), F.col("b.s"))))
            .alias("ov"),
        )
        .collect()
    )
    assert {(r.user_id, r.ta, r.tb, r.ov) for r in got} == {
        (1, "a", "b", 5 * 3600 * 1_000_000)  # 05:00..10:00 overlap
    }


# ---------------------------------------------------------------------------
# weighted k-per-group, centroid drift, zipf fit
# ---------------------------------------------------------------------------


def test_weighted_k_per_group_matches_global_law(spark):
    """Per-group selection must equal running the GLOBAL E-S draw
    within each group independently (same scores, same hash), and be
    repartition-stable."""
    rows = [(i, "g" + str(i % 3), (i % 7) + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "k long, g string, w long")
    out = smp.weighted_sample_k_per_group(df, ["g"], "k", "w", k=5)
    got = {(r.g, r.k) for r in out.collect()}
    want = set()
    for g in ("g0", "g1", "g2"):
        sub = df.filter(df.g == g)
        for r in smp.weighted_sample_topk(sub, "k", "w", k=5).collect():
            want.add((g, r.k))
    assert got == want
    got2 = {
        (r.g, r.k)
        for r in smp.weighted_sample_k_per_group(
            df.repartition(5), ["g"], "k", "w", k=5
        ).collect()
    }
    assert got2 == got


def test_centroid_drift_zero_on_identical_halves(spark):
    """If even and odd ids carry identical vectors, drift must be
    exactly 0.0 for every label."""
    rows = [(i, [0.5, -1.25, 2.0], i // 4) for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from hypertension_dashboard_pipeline_spark.registry import QUERIES  # noqa: F401
    from pyspark.sql import functions as F
    from hypertension_dashboard_pipeline_spark.functions.expressions import (
        round_fixed,
    )

    ex = df.select(
        "label", (F.col("vec_id") % 2).alias("split"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"),
    )
    cent = ex.groupBy("label", (F.col("p") + 1).alias("pos")).agg(
        round_fixed(F.avg(F.when(F.col("split") == 0, F.col("v"))), 6)
        .alias("c0"),
        round_fixed(F.avg(F.when(F.col("split") == 1, F.col("v"))), 6)
        .alias("c1"),
    )
    d = F.col("c0") - F.col("c1")
    got = {
        r.label: r.drift
        for r in cent.groupBy("label")
        .agg(round_fixed(F.sqrt(F.sum(d * d)), 4).alias("drift"))
        .collect()
    }
    assert got == {0: 0.0, 1: 0.0}


def test_zipf_fit_recovers_planted_slope(spark):
    """A corpus whose token frequencies are EXACTLY c_r = round(1000 /
    r^0.7) must fit a slope near -0.7."""
    corpus_tokens = []
    for r, tok in enumerate(
        [f"w{i}" for i in range(30)], start=1
    ):
        corpus_tokens += [tok] * max(1, round(1000 / r**0.7))
    df = spark.createDataFrame(
        [(0, " ".join(corpus_tokens))], "doc_id long, text string"
    )
    from hypertension_dashboard_pipeline_spark import registry

    registry.load_all()
    import os
    # reuse the registered query body by pointing it at a temp dir is
    # overkill — recompute inline with the same operators instead
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from hypertension_dashboard_pipeline_spark.functions.text import tokens

    tf = (
        df.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = tf.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy().orderBy(F.col("c").desc(), F.col("token"))
        ),
    )
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(lx).alias("sx"), F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"), F.sum(lx * lx).alias("sxx"),
    ).collect()[0]
    slope = (m.n * m.sxy - m.sx * m.sy) / (m.n * m.sxx - m.sx * m.sx)
    assert abs(slope - (-0.7)) < 0.02


# ---------------------------------------------------------------------------
# forward as-of, KS drift
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    lefts=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                   min_size=1, max_size=15),
    rights=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                    min_size=0, max_size=15,
                    unique_by=lambda t: (t[0], t[1])),
)
def test_asof_forward_matches_bruteforce(spark, lefts, rights):
    from hypertension_dashboard_pipeline_spark.operators.joins import (
        asof_join_forward,
    )

    l = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid long, k long, ts long",
    )
    r = spark.createDataFrame(
        rights or [(99, -1)], "k long, ts long"
    ).withColumn("pay", (F_col("ts") * 10).cast("long"))
    got = {
        row.lid: row.pay
        for row in asof_join_forward(l, r, on=["k"], payload=["pay"]).collect()
    }
    want = {}
    for i, (k, t) in enumerate(lefts):
        cand = [rt for rk, rt in (rights or [(99, -1)]) if rk == k and rt >= t]
        want[i] = (min(cand) * 10) if cand else None
    assert got == want


def F_col(name):
    from pyspark.sql import functions as F

    return F.col(name)


def test_ks_drift_bruteforce(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    import bisect

    rows = [(i, float(v)) for i, v in enumerate(
        [1, 1, 2, 3, 5, 5, 5, 8, 9, 2, 2, 4, 6, 7, 9, 9]
    )]
    df = spark.createDataFrame(rows, "event_id long, value double")
    vals = df.groupBy("value").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0)).alias("cb"),
    )
    wo = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = vals.select(
        "value",
        F.sum("ca").over(wo).alias("ca"), F.sum("cb").over(wo).alias("cb"),
        F.sum("ca").over(wall).alias("na"), F.sum("cb").over(wall).alias("nb"),
    ).collect()
    d_spark = max(abs(r.ca / r.na - r.cb / r.nb) for r in cum)
    a = sorted(v for i, v in rows if i % 2 == 0)
    b = sorted(v for i, v in rows if i % 2 == 1)
    support = sorted(set(a) | set(b))
    d_brute = max(
        abs(bisect.bisect_right(a, x) / len(a)
            - bisect.bisect_right(b, x) / len(b))
        for x in support
    )
    assert abs(d_spark - d_brute) < 1e-12


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=15).map(" ".join),
    min_size=2, max_size=5,
))
def test_winnow_pairs_match_bruteforce(spark, corpus):
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in dd.winnow_pairs(
            _corpus_df(spark, corpus), min_shared=1
        ).collect()
    }
    fps = _winnow_brute(corpus)
    want = {}
    for a in sorted(fps):
        for b in sorted(fps):
            if a < b and fps[a] & fps[b]:
                want[(a, b)] = len(fps[a] & fps[b])
    assert got == want
