"""Unit + property tests for the round-7 wave-3 operators: the
TPC-H Q10/Q13/Q22 shapes and the bounded-tail EWMA fold — each
cross-checked against an independent brute-force Python
implementation (the recompute-by-hand QC idiom,
3_blood_pressure.R:177-182, SURVEY.md §5.4)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hypertension_dashboard_pipeline_spark import registry
from hypertension_dashboard_pipeline_spark.operators.timeseries import ewma_last

registry.load_all()


@pytest.fixture(scope="module")
def plan(spark, sf_dir):
    def get(name: str) -> str:
        df = registry.QUERIES[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return get


def _brute_ewma(vals: list[float], decay: float = 0.9,
                tail: int = 8) -> float:
    t = vals[-tail:]
    acc, w = float(t[0]), 1.0
    for x in t[1:]:
        acc = acc * decay + x
        w = w * decay + 1.0
    return acc / w


# ---------------------------------------------------------------------------
# EWMA fold
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(series=st.lists(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=20,
    ),
    min_size=1, max_size=4,
))
def test_ewma_last_matches_bruteforce(spark, series):
    rows = [
        (uid, seq, float(seq), v)
        for uid, vals in enumerate(series)
        for seq, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts double, value double"
    )
    got = {
        r.user_id: (r.n_events, r.ewma_last)
        for r in ewma_last(
            df, "user_id", ["ts", "event_id"], "value"
        ).collect()
    }
    want = {
        uid: (len(vals), _brute_ewma(vals))
        for uid, vals in enumerate(series)
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert math.isclose(got[uid][1], want[uid][1],
                            rel_tol=0, abs_tol=0), uid


def test_ewma_last_single_event_is_identity(spark):
    df = spark.createDataFrame(
        [(1, 0, 0.0, 42.5)],
        "user_id long, event_id long, ts double, value double",
    )
    r = ewma_last(df, "user_id", ["ts", "event_id"], "value").collect()[0]
    assert (r.n_events, r.ewma_last) == (1, 42.5)


def test_ewma_last_ts_ties_break_on_event_id(spark):
    """Two events at the SAME timestamp: event_id must decide fold
    order, or the result is nondeterministic across shuffles."""
    df = spark.createDataFrame(
        [(1, 1, 5.0, 10.0), (1, 2, 5.0, 20.0), (1, 0, 1.0, 0.0)],
        "user_id long, event_id long, ts double, value double",
    )
    r = ewma_last(df, "user_id", ["ts", "event_id"], "value").collect()[0]
    assert math.isclose(r.ewma_last, _brute_ewma([0.0, 10.0, 20.0]),
                        abs_tol=0)


def test_ewma_tail_bounds_lookback(spark):
    """History beyond the tail must not influence the result: a huge
    early value disappears once >tail later events exist."""
    vals = [1e9] + [1.0] * 8
    df = spark.createDataFrame(
        [(1, i, float(i), v) for i, v in enumerate(vals)],
        "user_id long, event_id long, ts double, value double",
    )
    r = ewma_last(df, "user_id", ["ts", "event_id"], "value").collect()[0]
    assert r.ewma_last == 1.0


# ---------------------------------------------------------------------------
# Q10 / Q13 / Q22 registered-query plan + value invariants
# ---------------------------------------------------------------------------


def test_custdist_left_join_not_demoted(plan):
    """a32: the urgent-priority predicate lives in the LEFT JOIN's ON
    clause — if it ever migrates to a WHERE, Catalyst demotes the
    join to inner and the zero-order bucket silently vanishes."""
    p = plan("a32_custdist")
    assert "LeftOuter" in p, p


def test_custdist_has_zero_bucket(spark, sf_dir):
    """The sf0.01 corpus has customers with no urgent orders; the
    distribution must include c_count = 0 (the row a demoted join
    would drop)."""
    from hypertension_dashboard_pipeline_spark import registry

    rows = {
        r.c_count: r.custdist
        for r in registry.QUERIES["a32_custdist"](spark, sf_dir).collect()
    }
    assert 0 in rows and rows[0] > 0


def test_returned_item_dims_join_after_truncation(plan):
    """j22: customer/nation attach AFTER the top-20 truncation — both
    dimension joins must be broadcast, and the limit operator must
    sit below them (TakeOrderedAndProject feeding the broadcast
    probes, never the other way around)."""
    p = plan("j22_returned_item_revenue")
    # >= 2: the two dimension joins; at small SF the date-filtered
    # orders side of the fact join may legitimately broadcast too
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "TakeOrderedAndProject" in p
    # the truncation feeds the customer join's probe side, not after it
    assert p.index("TakeOrderedAndProject") > p.index("BroadcastHashJoin")
    # the returnflag filter reaches the lineitem scan
    scans = [l for l in p.splitlines() if "FileScan" in l and "lineitem" in l]
    assert scans and any("R" in s for s in scans), scans


def test_sales_opportunity_anti_join_prefiltered(plan):
    """j23: the no-urgent-orders check compiles to a LEFT ANTI join
    whose build side scans only urgent orders (pushed filter), and
    the global cutoff is a 1-row broadcast product."""
    p = plan("j23_sales_opportunity")
    assert "LeftAnti" in p, p
    assert "BroadcastNestedLoopJoin" in p  # the declared scalar product
    scans = [l for l in p.splitlines() if "FileScan" in l and "orders" in l]
    assert scans and any("1-URGENT" in s for s in scans), scans


def test_ewma_query_bounded_exchanges(plan):
    """ts_ewma_last8 (r9 bounded form): exactly TWO hash exchanges on
    user_id — the WindowGroupLimit-truncated tail residue (≤ tail rows
    per key per partition) and the map-side-combined full count
    (partial counts, one row per key per partition) — and no global
    sort.  The fold is array-local; the collect rides the window's
    key partitioning with no further exchange.  A third exchange or a
    full-history shuffle means the bounded formulation regressed
    (the r8 form's single exchange carried EVERY row of the history —
    one exchange fewer, but unbounded per-key aggregation state)."""
    p = plan("ts_ewma_last8")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "WindowGroupLimit" in p, p
    assert "SinglePartition" not in p


# ---------------------------------------------------------------------------
# CUSUM fold
# ---------------------------------------------------------------------------

from hypertension_dashboard_pipeline_spark.operators.timeseries import (  # noqa: E402
    cusum_alarms,
)


def _brute_cusum(vals, level, threshold):
    s, a = 0.0, 0
    for x in vals:
        t = max(0.0, s + x - level)
        if t > threshold:
            a += 1
            s = 0.0
        else:
            s = t
    return a, s


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(series=st.lists(
    st.lists(
        st.floats(min_value=0.0, max_value=100.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=25,
    ),
    min_size=1, max_size=4,
))
def test_cusum_matches_bruteforce(spark, series):
    rows = [
        (uid, seq, float(seq), v)
        for uid, vals in enumerate(series)
        for seq, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts double, value double"
    )
    got = {
        r.user_id: (r.n_events, r.n_alarms, r.final_s)
        for r in cusum_alarms(
            df, "user_id", ["ts", "event_id"], "value",
            level=30.0, threshold=40.0,
        ).collect()
    }
    for uid, vals in enumerate(series):
        a, s = _brute_cusum(vals, 30.0, 40.0)
        assert got[uid][0] == len(vals)
        assert got[uid][1] == a, uid
        assert math.isclose(got[uid][2], s, rel_tol=0, abs_tol=0), uid


def test_cusum_exact_threshold_does_not_fire(spark):
    """S == threshold exactly must NOT alarm (strict inequality) —
    the boundary where the in-place list_reduce aliasing corrupted
    the DuckDB formulation this operator's oracle deliberately
    avoids."""
    # level 10, threshold 30: x=40 -> t=30 exactly -> no alarm
    df = spark.createDataFrame(
        [(1, 0, 0.0, 40.0)],
        "user_id long, event_id long, ts double, value double",
    )
    r = cusum_alarms(df, "user_id", ["ts", "event_id"], "value",
                     level=10.0, threshold=30.0).collect()[0]
    assert (r.n_alarms, r.final_s) == (0, 30.0)
    # one epsilon above fires and resets
    df2 = spark.createDataFrame(
        [(1, 0, 0.0, 40.000001)],
        "user_id long, event_id long, ts double, value double",
    )
    r2 = cusum_alarms(df2, "user_id", ["ts", "event_id"], "value",
                      level=10.0, threshold=30.0).collect()[0]
    assert (r2.n_alarms, r2.final_s) == (1, 0.0)


def test_cusum_reset_isolates_bursts(spark):
    """Two separated bursts must alarm twice — the reset makes the
    detector re-arm instead of saturating."""
    vals = [100.0, 0.0, 0.0, 100.0]
    df = spark.createDataFrame(
        [(1, i, float(i), v) for i, v in enumerate(vals)],
        "user_id long, event_id long, ts double, value double",
    )
    r = cusum_alarms(df, "user_id", ["ts", "event_id"], "value",
                     level=30.0, threshold=40.0).collect()[0]
    assert r.n_alarms == 2


def test_cusum_query_single_exchange(plan):
    """ts_cusum_alarm: one hash exchange on user_id, array-local
    fold, no global sort."""
    p = plan("ts_cusum_alarm")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "SinglePartition" not in p


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


def test_dsir_target_scores_above_raw_on_separable_corpus(spark, sf_dir):
    """On the real corpus the target source's own documents must
    score a higher MEAN log-weight than the raw pool — the defining
    property of an importance weight (the target model assigns its
    own data more mass).  Catches sign flips, swapped numerators,
    and smoothing applied to the wrong side."""
    from pyspark.sql import functions as F

    from hypertension_dashboard_pipeline_spark.io import load_table

    w = registry.QUERIES["curation_dsir_weights"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    per_side = (
        w.join(docs, "doc_id")
        .groupBy(F.col("source") == "src0")
        .agg(F.avg("dsir_logweight").alias("mean_w"))
        .collect()
    )
    means = {r[0]: r.mean_w for r in per_side}
    assert means[True] > means[False]


def test_dsir_corpus_never_in_a_shuffle_join(spark, sf_dir):
    """The corpus-sized (doc, bucket) frame reaches the bucket model
    through a BROADCAST join only (never a shuffled join), and the
    three consumers (model stats, totals, final sum) read it from the
    persisted copy — the corpus is tokenized and shuffled ONCE."""
    df = registry.QUERIES["curation_dsir_weights"](
        spark, sf_dir
    )
    df.collect()  # executed plan: the broadcast subtrees are eager
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # every consumer reads the cached docb, not a fresh scan chain
    assert "InMemoryTableScan" in p


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------

from collections import Counter  # noqa: E402

from hypertension_dashboard_pipeline_spark.operators.bpe import bpe_train  # noqa: E402


def _brute_bpe(corpus: list[str], n_merges: int):
    freqs = Counter(w for doc in corpus for w in doc.split())
    words = {w: list(w) for w in freqs}
    merges = []
    for k in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freqs[w]
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((k, a, b, a + b, cnt))
        for w, syms in words.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[w] = out
    return merges


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=st.lists(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1, max_size=8,
    ).map(" ".join),
    min_size=1, max_size=4,
))
def test_bpe_train_matches_bruteforce(spark, corpus):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(spark, df, "text", n_merges=4)
           .collect()]
    assert got == _brute_bpe(corpus, 4)


def test_bpe_single_char_words_learn_nothing(spark):
    """A corpus with only 1-char words has no adjacent pairs: the
    trainer must stop immediately with an empty merge table (the
    early-exit branch), not crash or emit rows."""
    df = spark.createDataFrame(
        [(0, "a b c a b")], "doc_id long, text string"
    )
    assert bpe_train(spark, df, "text", n_merges=4).count() == 0


def test_bpe_overlapping_runs_merge_left_to_right(spark):
    """'aaaa' under merge (a,a): left-to-right non-overlap yields
    [aa, aa] — the fold must not double-merge the shared middle."""
    df = spark.createDataFrame(
        [(0, "aaaa")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(spark, df, "text", n_merges=2)
           .collect()]
    # merge 1: (a,a) support 3 (three adjacent pairs in 'aaaa');
    # merge 2: the rewritten word is [aa, aa] -> pair (aa, aa)
    assert got[0] == (1, "a", "a", "aa", 3)
    assert got[1] == (2, "aa", "aa", "aaaa", 1)


def test_bpe_encode_counts_match_bruteforce(spark):
    """Encoded symbol counts per word equal the brute-force trainer's
    final segmentation."""
    corpus = ["abab abab cd", "abab cd cd ab"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    from hypertension_dashboard_pipeline_spark.operators.bpe import (
        bpe_train_encode,
    )

    _, encoded = bpe_train_encode(spark, df, "text", n_merges=3)
    got = {r.word: list(r.s) for r in encoded.collect()}
    # replicate with the brute trainer's word rewrite
    freqs = Counter(w for doc in corpus for w in doc.split())
    words = {w: list(w) for w in freqs}
    for _, a, b, _, _ in _brute_bpe(corpus, 3):
        for w, syms in words.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[w] = out
    assert got == words


# ---------------------------------------------------------------------------
# sparse TF-IDF cosine join
# ---------------------------------------------------------------------------


def test_tfidf_cosine_pairs_nonempty_and_bounded(spark, sf_dir):
    """The registered query must produce pairs on the real corpus and
    every cosine must lie in (0, 1] — a pair above 1+eps means the
    norms came from a different pruned space than the dots."""
    rows = registry.QUERIES["text_tfidf_cosine_pairs"](
        spark, sf_dir
    ).collect()
    assert rows
    assert all(0.0 < r.cos_sim <= 1.000001 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_tfidf_cosine_identical_docs_score_one(spark, tmp_path):
    """Two byte-identical documents must score cosine 1.0 (rounded)
    through the REAL registered pipeline, and a doc sharing no
    sub-max_df term with them must pair with neither."""
    corpus = [
        (0, "alpha beta gamma", "en", "src0", 16),
        (1, "alpha beta gamma", "en", "src0", 16),
        (2, "delta eps zeta", "en", "src1", 14),
    ]
    df = spark.createDataFrame(
        corpus, "doc_id long, text string, lang string, source string, "
                "n_chars long"
    )
    d = str(tmp_path / "toy_sf")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    rows = {
        (r.id_a, r.id_b): r.cos_sim
        for r in registry.QUERIES["text_tfidf_cosine_pairs"](
            spark, d
        ).collect()
    }
    assert rows == {(0, 1): 1.0}


def test_standardize_post_moments_are_identity(spark, sf_dir):
    """The transform's contract: every dimension's post-scaling mean
    is 0 and second moment is 1, to the model's 6dp rounding
    amplified by 1/sigma (~8 here): |post_mean| <= 1e-5,
    |post_m2 - 1| <= 2e-4."""
    rows = registry.QUERIES["emb_standardize"](spark, sf_dir).collect()
    assert len(rows) == 64
    assert all(abs(r.post_mean) <= 1e-5 for r in rows)
    assert all(abs(r.post_m2 - 1.0) <= 2e-4 for r in rows)


# ---------------------------------------------------------------------------
# hard-negative mining
# ---------------------------------------------------------------------------


def test_hard_negatives_never_same_label_and_ranked(spark, sf_dir):
    rows = registry.QUERIES["sim_hard_negatives"](spark, sf_dir).collect()
    assert rows
    assert all(r.label_a != r.label_b for r in rows)
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r.anchor_id, []).append(r)
    for anchor, rs in per_anchor.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True), anchor


def test_hard_negatives_finds_planted_boundary_pair(spark):
    """A planted near-identical cross-label pair must surface as each
    other's rank-1 negative; a far-away vector must not outrank it."""
    import math as m

    base = [1.0] + [0.0] * 63
    near = [0.999] + [0.0447] + [0.0] * 62  # cos ~ 0.9990 with base
    far = [0.0] * 62 + [1.0, 0.0]
    df = spark.createDataFrame(
        [(0, base, 0), (1, near, 1), (2, far, 1)],
        "vec_id long, embedding array<double>, label int",
    )
    from hypertension_dashboard_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    rows = hard_negatives(df, k=2, dim=64).collect()
    r1 = {r.anchor_id: r.neg_id for r in rows if r.rank == 1}
    assert r1[0] == 1 and r1[1] == 0


def test_knn_accuracy_perfect_on_separable_clusters(spark):
    """Two tight clusters, labels = clusters: leave-one-out 5-NN must
    score accuracy 1.0."""
    from hypertension_dashboard_pipeline_spark.operators.similarity import (
        knn_label_accuracy,
    )

    rows = []
    for i in range(6):
        v = [0.0] * 64
        v[0] = 1.0
        v[1] = 0.01 * i
        rows.append((i, v, 0))
    for i in range(6, 12):
        v = [0.0] * 64
        v[32] = 1.0
        v[33] = 0.01 * i
        rows.append((i, v, 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    r = knn_label_accuracy(df, k=5, dim=64).collect()[0]
    assert r.n_anchors == 12 and r.accuracy == 1.0
