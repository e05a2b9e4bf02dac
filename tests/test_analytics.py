"""Semantics tests for the product-analytics operators (funnel, retention,
winsorize) on tiny hand-built event fixtures — the oracle gate covers the
happy path at sf0.01; these pin the ordering/edge semantics the synthetic
corpus can't distinguish."""

from __future__ import annotations

from datetime import datetime

import pytest

from bridgedownstream_spark.queries import advanced


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


@pytest.fixture(scope="module")
def funnel_dir(spark, tmp_path_factory):
    """Users covering every funnel shape:
    u1 view→click→purchase in order (full funnel);
    u2 click BEFORE its first view — click must NOT count;
    u3 view then purchase with no click — stops at stage 1;
    u4 purchase only — never enters the funnel."""
    path = str(tmp_path_factory.mktemp("funnel") / "lake")
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(1), 1, "click", 1.0, "{}"),
        (3, t(2), 1, "purchase", 1.0, "{}"),
        (4, t(0), 2, "click", 1.0, "{}"),   # precedes the view
        (5, t(1), 2, "view", 1.0, "{}"),
        (6, t(0), 3, "view", 1.0, "{}"),
        (7, t(1), 3, "purchase", 1.0, "{}"),  # no click: purchase can't count
        (8, t(0), 4, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    return path


def test_funnel_requires_strict_order(spark, funnel_dir):
    out = {r.stage: r for r in advanced.funnel_conversion(spark, funnel_dir).collect()}
    assert out[1].n_users == 3          # u1, u2, u3 viewed
    assert out[2].n_users == 1          # only u1 clicked after viewing
    assert out[3].n_users == 1          # only u1 purchased after clicking
    assert out[1].pct_of_top == 100.0
    assert out[2].pct_of_top == pytest.approx(33.33)
    assert out[2].step == "click" and out[3].step == "purchase"


def test_retention_counts_distinct_user_weeks(spark, tmp_path_factory):
    """A user active twice in the same week counts once; offsets are whole
    Monday-anchored weeks from the user's first event."""
    path = str(tmp_path_factory.mktemp("retention") / "lake")
    rows = [
        # u1 first event Mon 2024-01-01 (week anchor), active again same
        # week (dedup) and in week +2
        (1, datetime(2024, 1, 1, 9), 1, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 3, 9), 1, "click", 1.0, "{}"),
        (3, datetime(2024, 1, 15, 9), 1, "view", 1.0, "{}"),
        # u2 first event Sun 2024-01-07: SAME Monday week as u1
        (4, datetime(2024, 1, 7, 9), 2, "view", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    out = {
        (r.cohort_week, r.week_offset): r.n_active
        for r in advanced.retention_cohorts(spark, path).collect()
    }
    wk = (datetime(2024, 1, 1) - datetime(1970, 1, 5)).days // 7
    assert out[(wk, 0)] == 2      # u1 + u2, u1's two week-0 events dedup'd
    assert out[(wk, 2)] == 1      # u1 returns two weeks later
    assert len(out) == 2


def test_winsorize_clips_only_outliers(spark, tmp_path_factory):
    """With 21 values 0..20, exact p05/p95 = 1.0/19.0: the two tail values
    clip to the bounds, everything else is untouched."""
    path = str(tmp_path_factory.mktemp("winsor") / "lake")
    rows = [
        (i, datetime(2024, 1, 1, 0, i), 1, "view", float(i), "{}")
        for i in range(21)
    ]
    _write_events(spark, path, rows)
    r = advanced.winsorized_stats(spark, path).collect()[0]
    assert r.n == 21 and r.n_clipped == 2
    # sum 0..20 = 210; clipping 0→1 and 20→19 gives 210 + 1 - 1 = 210
    assert r.sum_winsorized == 210.0


def test_scd2_collapses_runs_and_chains_intervals(spark, tmp_path_factory):
    """Consecutive identical states merge into one interval; each interval's
    exclusive end is the next interval's start; the last is open/current."""
    path = str(tmp_path_factory.mktemp("scd2") / "lake")
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(1), 1, "view", 1.0, "{}"),    # same state: merges
        (3, t(2), 1, "click", 1.0, "{}"),
        (4, t(3), 1, "view", 1.0, "{}"),    # state recurs: NEW interval
        (5, t(0), 2, "signup", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    out = sorted(
        advanced.scd2_intervals(spark, path).collect(),
        key=lambda r: (r.user_id, r.valid_from),
    )
    u1 = [r for r in out if r.user_id == 1]
    assert [r.state for r in u1] == ["view", "click", "view"]
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert [r.is_current for r in u1] == [False, False, True]
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current and u2[0].valid_to is None


def test_dq_report_flags_planted_violations(spark, tmp_path_factory):
    """Duplicate order key, NULL custkey, orphan custkey, negative total,
    and an out-of-set status each fail exactly their own constraint."""
    from bridgedownstream_spark.queries import ops

    path = str(tmp_path_factory.mktemp("dq") / "lake")
    spark.createDataFrame(
        [(1,), (2,)], "c_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/customer.parquet")
    orders = [
        (10, 1, "O", 5.0),
        (10, 2, "F", 6.0),      # duplicate o_orderkey
        (11, None, "P", -1.0),  # NULL custkey + negative total
        (12, 99, "X", 2.0),     # orphan custkey + bad status
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    out = {r.constraint_id: r for r in ops.dq_constraint_report(spark, path).collect()}
    assert not out["uniqueness:o_orderkey"].passed
    assert out["uniqueness:o_orderkey"].metric == 0.75
    assert not out["completeness:o_custkey"].passed
    assert not out["min_range:o_totalprice>0"].passed
    assert out["min_range:o_totalprice>0"].metric == -1.0
    assert not out["membership:o_orderstatus"].passed
    assert not out["referential:o_custkey->customer"].passed
    assert out["referential:o_custkey->customer"].metric == 1.0  # one orphan


def test_fuzzy_match_blocks_and_ties(spark, tmp_path_factory):
    """Matching stays inside the composed blocking key (attributes × 4-char
    name prefix); a distance tie resolves to the lowest candidate key;
    corrupted rows still self-match at lev 1. Names are >= 5 chars — the
    r4 prefix bucket is recall-safe only when truncating the last char
    leaves the 4-char prefix intact, which holds for the real corpus's
    long names (short-name corpora need a complementary blocking pass,
    per the operator docstring)."""
    path = str(tmp_path_factory.mktemp("fuzzy") / "lake")
    parts = [
        # block A: key 3 corrupts 'gizmo'->'gizm', equidistant (lev 1) to
        # both 'gizmo' (key 3) and 'gizma' (key 4): tie -> lowest key 3
        (3, "gizmo", "B1", "T1", 1),
        (4, "gizma", "B1", "T1", 1),
        # block B: identical NAME as block A's winner but different brand —
        # must never be a candidate for block A's rows
        (5, "gizmo", "B2", "T1", 1),
        # lone block: uncorrupted, exact self-match
        (7, "widget", "B3", "T1", 2),
    ]
    spark.createDataFrame(
        parts, "p_partkey long, p_name string, p_brand string, p_type string, p_size int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/part.parquet")
    out = {r.d_key: r for r in advanced.fuzzy_match_parts(spark, path).collect()}
    assert out[3].m_key == 3 and out[3].lev == 1 and out[3].self_match
    assert out[4].m_key == 4 and out[4].lev == 0
    assert out[5].m_key == 5          # same name, other block: no cross-talk
    assert out[7].m_key == 7 and out[7].lev == 0
    assert len(out) == 4


def test_snapshot_diff_classifies_keys(spark, tmp_path_factory):
    """Keys only in new are added, only in old removed, drifted digests
    changed, identical digests unchanged."""
    from collections import Counter

    path = str(tmp_path_factory.mktemp("snapdiff") / "lake")
    rows = [
        # event_id 77 -> %11==0: added (absent from old); %7==0 too... 77%7=0
        # pick ids carefully: added needs %11==0 and %7!=0 -> 22
        (22, datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
        # removed: %7==0 and %11!=0 -> 14
        (14, datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
        # changed: %5==0, %7!=0, %11!=0 -> 15 (value drifts +1 in new)
        (15, datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
        # unchanged: 1
        (1, datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
        # in NEITHER snapshot: %7==0 and %11==0 -> 0: must not appear at all
        (0, datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    out = Counter(
        (r.status, r.n) for r in advanced.snapshot_diff(spark, path).collect()
    )
    assert out == Counter(
        [("added", 1), ("removed", 1), ("changed", 1), ("unchanged", 1)]
    )


def test_event_transitions_probabilities_row_normalize(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("markov") / "lake")
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    # u1: view->click->view->click ; u2: view->purchase
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(1), 1, "click", 1.0, "{}"),
        (3, t(2), 1, "view", 1.0, "{}"),
        (4, t(3), 1, "click", 1.0, "{}"),
        (5, t(0), 2, "view", 1.0, "{}"),
        (6, t(1), 2, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    out = {(r.prev, r.next): r for r in advanced.event_transitions(spark, path).collect()}
    assert out[("view", "click")].n == 2
    assert out[("view", "purchase")].n == 1
    assert out[("click", "view")].n == 1
    # rows from 'view' normalize: 2/3 and 1/3
    assert out[("view", "click")].p == pytest.approx(0.6667)
    assert out[("view", "purchase")].p == pytest.approx(0.3333)
    assert out[("click", "view")].p == 1.0
    # first event of each user contributes no transition
    assert sum(r.n for r in out.values()) == 4


def test_conversion_latency_floors_to_seconds(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("latency") / "lake")
    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 1, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 0, 0, 10, 900000), 1, "purchase", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 0, 0, 0), 2, "view", 1.0, "{}"),
        (4, datetime(2024, 1, 1, 0, 0, 30), 2, "purchase", 1.0, "{}"),
        (5, datetime(2024, 1, 1, 0, 0, 0), 3, "purchase", 1.0, "{}"),  # no view
    ]
    _write_events(spark, path, rows)
    r = advanced.conversion_latency(spark, path).collect()[0]
    assert r.n_converted == 2              # user 3 never viewed
    assert r.max_sec == 30
    # latencies {10 (floored from 10.9), 30}: p50 interpolates to 20
    assert r.p50_sec == 20.0


def test_groupwise_regression_recovers_exact_line(spark, tmp_path_factory):
    """Events lying exactly on value = 2·day + 1 recover slope 2 and
    intercept 1; a flat series gets slope 0."""
    path = str(tmp_path_factory.mktemp("reg") / "lake")
    rows = []
    for i, d in enumerate(range(5)):
        day = datetime(2024, 1, 1 + d)
        epoch_day = (day - datetime(1970, 1, 1)).days
        rows.append((i, day, 1, "view", float(2 * epoch_day + 1), "{}"))
        rows.append((100 + i, day, 1, "click", 7.0, "{}"))
    _write_events(spark, path, rows)
    out = {r.event_type: r for r in advanced.groupwise_regression(spark, path).collect()}
    assert out["view"].slope_per_day == 2.0
    assert out["view"].intercept == 1.0
    assert out["click"].slope_per_day == 0.0
    assert out["click"].intercept == 7.0


def test_correlation_and_zscore_known_answers(spark, tmp_path_factory):
    from bridgedownstream_spark.queries import advanced as adv

    path = str(tmp_path_factory.mktemp("stats") / "lake")
    # 20 inliers at value 10, one wild outlier at 1000: sd ≈ 215.8, so only
    # the outlier exceeds 3σ... actually z of outlier = (1000-57.1)/215.8
    # ≈ 4.4 > 3; inliers z ≈ 0.22 < 3.
    rows = [
        (i, datetime(2024, 1, 1, 0, i), 1, "view", 10.0, "{}") for i in range(20)
    ] + [(99, datetime(2024, 1, 1, 1), 1, "view", 1000.0, "{}")]
    _write_events(spark, path, rows)
    z = adv.zscore_anomalies(spark, path).collect()[0]
    assert z.n == 21 and z.n_anomalies == 1

    # histogram: 10.0 → bucket 0, 1000.0 clamps to bucket 19
    h = {(r.bucket): r.n for r in adv.value_histogram(spark, path).collect()}
    assert h == {0: 20, 19: 1}


def test_metric_correlations_perfect_line(spark, tmp_path_factory):
    """lineitem rows with price exactly 3x quantity correlate at 1.0."""
    from bridgedownstream_spark.queries import advanced as adv

    path = str(tmp_path_factory.mktemp("corr") / "lake")
    rows = [
        (i, 1, 1, 1, float(i + 1), float(3 * (i + 1)), 0.0, 0.0, "R", "O",
         datetime(2024, 1, 1))
        for i in range(10)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    r = adv.metric_correlations(spark, path).collect()[0]
    assert r.n == 10 and r.qty_price_corr == 1.0


def test_time_weighted_avg_known_answer(spark, tmp_path_factory):
    """LOCF weighting: value 10 held 10s then 20 held 30s -> twa 17.5;
    the series-final observation has no successor and contributes no
    interval."""
    path = str(tmp_path_factory.mktemp("twa") / "lake")
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        (1, t(0), 1, "gauge", 10.0, "{}"),
        (2, t(10), 1, "gauge", 20.0, "{}"),
        (3, t(40), 2, "gauge", 99.0, "{}"),  # last: excluded
    ]
    _write_events(spark, path, rows)
    out = {r.event_type: r for r in
           advanced.time_weighted_avg(spark, path).collect()}
    g = out["gauge"]
    assert g.n_intervals == 2
    assert g.total_us == 40_000_000
    assert g.twa == pytest.approx((10 * 10 + 20 * 30) / 40)


def test_cms_estimates_upper_bound_true_counts(spark):
    """Count-min guarantees est >= true per item; with d=3 rows the
    expected overcount collapses far below the single-row N/w mean —
    assert the one-sided bound exactly and the error loosely."""
    sf = "/root/testdata/sf0.001"
    rows = advanced.portable_cms_heavy_hitters(spark, sf).collect()
    assert len(rows) == 10
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    for r in rows:
        assert r.cm_est >= r.true_cnt          # never undercounts
        assert r.overcount == r.cm_est - r.true_cnt
        assert r.overcount <= n_events // 10   # loose 10x-the-mean bound


def test_cdc_apply_orders_by_sequence_not_arrival(spark, tmp_path_factory):
    """Last-writer-wins by SEQUENCE: a key whose highest-seq op is D
    vanishes even if the delete arrived first in the file; a later I
    after a D resurrects the key."""
    path = str(tmp_path_factory.mktemp("cdc") / "lake")
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    # event_id is the sequence; op derives from id: %13==0 -> D,
    # %3==0 -> U, else I (the operator's deterministic synthetic log)
    rows = [
        (13, t(0), 1, "view", 1.0, "{}"),   # seq 13: D (tombstone)
        (14, t(1), 1, "view", 2.0, "{}"),   # seq 14: I  -> resurrected
        (26, t(2), 2, "click", 3.0, "{}"),  # seq 26: D
        (7,  t(3), 2, "click", 4.0, "{}"),  # seq 7:  I (older than the D)
        (9,  t(4), 3, "view", 5.0, "{}"),   # seq 9:  U -> live
    ]
    _write_events(spark, path, rows)
    out = {r.key: r for r in advanced.cdc_apply(spark, path).collect()}
    assert out[1].last_seq == 14 and out[1].value == 2.0  # I after D wins
    assert 2 not in out                                   # D is terminal
    assert out[3].last_seq == 9


def test_attribution_last_touch_window_and_ties(spark, tmp_path_factory):
    """The credited touch is the LATEST inside the 7-day lookback; touches
    after the purchase or older than 7 days never count."""
    path = str(tmp_path_factory.mktemp("attr") / "lake")
    d = lambda day, h=0: datetime(2024, 1, day, h)  # noqa: E731
    rows = [
        # u1: click day2, view day5 -> purchase day6 credits the VIEW
        (1, d(2), 1, "click", 1.0, "{}"),
        (2, d(5), 1, "view", 1.0, "{}"),
        (3, d(6), 1, "purchase", 1.0, "{}"),
        # u2: only touch is 8 days before purchase -> no attribution row
        (4, d(1), 2, "view", 1.0, "{}"),
        (5, d(9, 1), 2, "purchase", 1.0, "{}"),
        # u3: touch AFTER the purchase never counts; earlier click wins
        (6, d(3), 3, "click", 1.0, "{}"),
        (7, d(4), 3, "purchase", 1.0, "{}"),
        (8, d(5), 3, "view", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    out = {r.channel: r.conversions for r in
           advanced.attribution_last_touch(spark, path).collect()}
    assert out == {"view": 1, "click": 1}  # u1 -> view, u3 -> click, u2 none


def test_bloom_prefilter_prunes_without_changing_results(spark):
    """The Bloom pre-filter must (a) change NOTHING about the semi-join
    result (false positives die in the exact join) and (b) actually
    prune: with ~5% of suppliers selected, the candidate set is far
    smaller than the fact table."""
    from pyspark.sql import functions as F

    from bridgedownstream_spark.queries.advanced import _BLOOM_K, _bloom_pos
    from bridgedownstream_spark.queries.util import tbl

    sf = "/root/testdata/sf0.001"
    li = tbl(spark, sf, "lineitem")
    dim = tbl(spark, sf, "supplier").where(F.col("s_acctbal") > 4500)
    plain = (
        li.join(F.broadcast(dim.select("s_suppkey")),
                li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_suppkey").count()
    )
    got = advanced.bloom_semi_join(spark, sf)
    assert sorted((r.l_suppkey, r.n_lines) for r in got.collect()) == sorted(
        (r.l_suppkey, r["count"]) for r in plain.collect()
    )
    # pruning power: rebuild the candidate pre-filter and count survivors
    posdf = dim.select(F.explode(F.array(*[
        _bloom_pos(i, "s_suppkey") for i in range(_BLOOM_K)
    ])).alias("pos")).distinct()
    cand = li.select(
        "l_suppkey",
        *[_bloom_pos(i, "l_suppkey").alias(f"__p{i}") for i in range(_BLOOM_K)],
    )
    for i in range(_BLOOM_K):
        cand = cand.join(
            F.broadcast(posdf), cand[f"__p{i}"] == posdf.pos, "left_semi"
        )
    n_fact = li.count()
    n_cand = cand.count()
    n_true = li.join(F.broadcast(dim.select("s_suppkey")),
                     li.l_suppkey == F.col("s_suppkey"), "left_semi").count()
    assert n_true <= n_cand <= n_fact
    assert n_cand < n_fact / 2  # the filter genuinely prunes the scan


def test_pagerank_matches_hand_iterated_integers(spark, tmp_path_factory):
    """Known-answer on a 4-node graph (path 1-2-3 plus isolated 4): the
    query's 5 damped rounds of parts-per-10^12 integer arithmetic must
    equal the same recurrence hand-run in Python ints — pinning the div
    semantics (truncation), the damping order, and the isolated-node
    short-circuit (rank exactly `base`)."""
    path = str(tmp_path_factory.mktemp("pr") / "lake")
    rows = [(1, 1), (1, 2), (2, 2), (2, 3), (3, 4)]  # (orderkey, partkey)
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")

    edges = {(1, 2), (2, 1), (2, 3), (3, 2)}
    outdeg = {1: 1, 2: 2, 3: 1}
    total, n = 10**12, 4
    init = total // n
    base = (15 * init) // 100
    pr = {v: init for v in (1, 2, 3)}
    for _ in range(5):
        contrib = {v: 0 for v in (1, 2, 3)}
        for s, d in edges:
            contrib[d] += pr[s] // outdeg[s]
        pr = {v: base + (85 * contrib[v]) // 100 for v in (1, 2, 3)}
    expected = dict(pr)
    expected[4] = base  # isolated: no in-edges after round 1

    got = {
        r.p_partkey: r.pr_scaled
        for r in advanced.pagerank_copurchase(spark, path).collect()
    }
    assert got == expected
    # symmetric path graph: the middle node must rank strictly highest
    assert max(got, key=got.get) == 2


def test_kmv_jaccard_is_exact_below_sketch_capacity(spark, tmp_path_factory):
    """With every source's shingle set under k=64, the KMV estimate
    degrades to the EXACT Jaccard (sketch = full set, k_u = |A∪B|):
    pin it against set arithmetic on hand-built texts, including the
    ppm floor-division and the >0 pair filter."""
    path = str(tmp_path_factory.mktemp("kmv") / "lake")
    texts = {
        "sA": "the quick brown fox jumps over the lazy dog",
        "sB": "the quick brown fox sleeps all day long here",
        "sC": "completely different words with zero shared trigrams at all",
    }
    rows = [
        (i, t, "en", s, len(t))
        for i, (s, t) in enumerate(sorted(texts.items()))
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expected = {}
    names = sorted(texts)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            ppm = (len(sa & sb) * 1_000_000) // len(sa | sb)
            if ppm > 0:
                expected[(a, b)] = (len(sa | sb), len(sa & sb), ppm)

    got = {
        (r.source_a, r.source_b): (r.k_u, r.n_overlap, r.jaccard_ppm)
        for r in advanced.portable_kmv_jaccard(spark, path).collect()
    }
    assert got == expected  # sA-sB share "the quick brown"+"quick brown fox"; sC pairs filtered


def test_merkle_diff_finds_exactly_the_planted_churn(spark, tmp_path_factory):
    """Concentrated churn: build events where the only differences the
    simulated snapshots see fall on known keys, and assert the two-phase
    bucket-pruned diff reports exactly those keys with the right status —
    added (%11 keys absent from old), removed (%7 keys absent from new),
    changed (%5 value drift) — and nothing else."""
    path = str(tmp_path_factory.mktemp("merkle") / "lake")
    rows = [
        (i, datetime(2024, 1, 1), i % 10, "view", float(i), "{}")
        for i in range(1, 100)
    ]
    _write_events(spark, path, rows)

    got = {
        r.event_id: r.status
        for r in advanced.merkle_snapshot_diff(spark, path).collect()
    }
    expected = {}
    for i in range(1, 100):
        in_old, in_new = i % 11 != 0, i % 7 != 0
        if in_old and not in_new:
            expected[i] = "removed"
        elif in_new and not in_old:
            expected[i] = "added"
        elif in_old and in_new and i % 5 == 0:
            expected[i] = "changed"
    assert got == expected


def test_bfs_hops_matches_hand_graph(spark, tmp_path_factory):
    """Known-answer on a chain 507-10-11-12-13 plus an isolated seed
    1007: seeds (p_partkey % 500 == 7) get hop 0 even with no edges, the
    chain is labeled by true distance, and node 13 at distance 4 stays
    OUTSIDE the result — pinning the depth cap, the visited-set anti-join
    (no relabeling), and the min-hop semantics."""
    path = str(tmp_path_factory.mktemp("bfs") / "lake")
    li = [(1, 507), (1, 10), (2, 10), (2, 11), (3, 11), (3, 12), (4, 12), (4, 13)]
    spark.createDataFrame(
        li, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    spark.createDataFrame(
        [(k,) for k in (507, 10, 11, 12, 13, 1007)], "p_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/part.parquet")

    got = {r.node: r.hop for r in advanced.bfs_hops(spark, path).collect()}
    assert got == {507: 0, 1007: 0, 10: 1, 11: 2, 12: 3}


def test_event_paths_window_and_tiebreak(spark, tmp_path_factory):
    """Paths never cross users, trailing events shorter than 3 drop, and
    equal-count trigrams order lexicographically inside the top-20 cut."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("paths") / "lake")
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: a b c d  -> (a,b,c), (b,c,d); user 2: a b  -> nothing
    for i, et in enumerate(["a", "b", "c", "d"]):
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, et, 0.0, "{}"))
    for i, et in enumerate(["a", "b"]):
        rows.append((10 + i, t0 + dt.timedelta(minutes=i), 2, et, 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")

    got = [
        (r.e1, r.e2, r.e3, r.cnt)
        for r in advanced.event_paths_topk(spark, path).collect()
    ]
    assert got == [("a", "b", "c", 1), ("b", "c", "d", 1)]


def test_linear_interpolate_known_line(spark, tmp_path_factory):
    """User with observations on days 0 and 3 (values 10.0 and 40.0):
    days 1-2 interpolate to exactly 20.0/30.0 micro-units on the line;
    observed days pass through untouched; a dense user adds no rows."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("lerp") / "lake")
    day = dt.datetime(2024, 1, 1)

    def ev(eid, uid, day_off, value):
        return (eid, day + dt.timedelta(days=day_off), uid, "x", value, "{}")

    rows = [ev(1, 1, 0, 10.0), ev(2, 1, 3, 40.0), ev(3, 2, 0, 5.5), ev(4, 2, 1, 6.5)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")

    got = {
        (r.user_id, r.day_idx - 19723): (r.val_mu, r.src)
        for r in advanced.linear_interpolate(spark, path).collect()
    }
    assert got[(1, 0)] == (10_000_000, "obs")
    assert got[(1, 1)] == (20_000_000, "interp")
    assert got[(1, 2)] == (30_000_000, "interp")
    assert got[(1, 3)] == (40_000_000, "obs")
    assert got[(2, 0)] == (5_500_000, "obs")
    assert got[(2, 1)] == (6_500_000, "obs")
    assert len(got) == 6


def test_hll_rollup_merge_equals_recompute_and_is_accurate(spark):
    """The region/global sketches produced by MERGING nation registers
    must match sketches recomputed from raw rows (algebraic mergeability
    inside one engine, complementing the cross-engine oracle), and every
    level's estimate lands within 3 sigma (1.04/sqrt(64) ~ 13%) of the
    exact distinct count."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    out = advanced.hll_rollup_hierarchy(spark, sf).collect()
    by_level = {}
    for r in out:
        by_level.setdefault(r.level, {})[r.key] = r

    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    rg = spark.read.parquet(f"{sf}/region.parquet")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(rg, n.n_regionkey == rg.r_regionkey)
    )
    exact_global = joined.select("o_custkey").distinct().count()
    est_global = by_level["global"]["all"].est_customers
    assert abs(est_global - exact_global) <= 0.39 * exact_global

    # recompute ONE region's registers straight from rows; int_sum of the
    # merged path must be identical (not merely close)
    some_region = sorted(by_level["region"])[0]
    h = ("CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15), 16, 10)"
         " AS BIGINT)")
    reg = (
        joined.where(F.col("r_name") == some_region)
        .selectExpr(
            f"{h} % 64 AS r",
            f"CASE WHEN {h} div 64 = 0 THEN 55"
            f" ELSE 55 - length(bin({h} div 64)) END AS rho",
        )
        .groupBy("r")
        .agg(F.max("rho").alias("mj"))
    )
    int_sum = reg.selectExpr(
        "CAST(sum(shiftleft(CAST(1 AS BIGINT), 56 - mj))"
        " + (64 - count(*)) * shiftleft(CAST(1 AS BIGINT), 56) AS BIGINT)"
        " AS s"
    ).collect()[0].s
    assert int_sum == by_level["region"][some_region].int_sum


def test_rolling_active_users_window_edges(spark, tmp_path_factory):
    """Hand-checkable: user 1 active on days 0 and 10 (outside any shared
    7-day window), user 2 active on days 0 and 3 (re-activity must not
    double-count inside one window). Output days = observed days only."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("rau") / "lake")
    day = dt.datetime(2024, 1, 1)

    def ev(eid, uid, off):
        return (eid, day + dt.timedelta(days=off), uid, "x", 1.0, "{}")

    rows = [ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 0), ev(4, 2, 3)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")

    base = 19723  # 2024-01-01 as a day index
    got = {
        r.day_idx - base: r.active_7d
        for r in advanced.rolling_active_users(spark, path).collect()
    }
    # observed days: 0, 3, 10. Window [d-6, d]:
    #  d=0 -> users {1, 2}; d=3 -> {1 (day0), 2}; d=10 -> {1 (day10)}
    assert got == {0: 2, 3: 2, 10: 1}


def test_ewma_weights_and_short_head_renormalize(spark, tmp_path_factory):
    """Values 1.0, 2.0, 4.0: row1 = 1.0 (self-average), row2 =
    (2*2^19 + 1*2^18)/(2^19 + 2^18) = 5/3 -> 1666666 truncated,
    row3 = (4*4 + 2*2 + 1)/(4 + 2 + 1) = 3.0 exactly — the short head
    renormalizes over present terms only."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("ewma") / "lake")
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, t0 + dt.timedelta(hours=k), 1, "x", v, "{}")
        for k, v in [(1, 1.0), (2, 2.0), (3, 4.0)]
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")
    got = {
        r.event_id: r.ewma_mu
        for r in advanced.ewma_smoothing(spark, path).collect()
    }
    assert got == {1: 1_000_000, 2: 1_666_666, 3: 3_000_000}


def test_ntile_quartiles_equal_depth_and_remainder(spark, tmp_path_factory):
    """8 rows split 2-2-2-2 with exact [lo, hi] bounds; 5 rows split
    2-1-1-1 (NTILE's remainder-to-earlier-tiles rule)."""
    path = str(tmp_path_factory.mktemp("ntile") / "lake")
    rows = [(k, "A", float(k)) for k in range(1, 9)]
    rows += [(100 + k, "B", float(k)) for k in range(1, 6)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    got = {
        (r.o_orderpriority, r.quartile): (r.n, r.lo, r.hi)
        for r in advanced.ntile_quartiles(spark, path).collect()
    }
    assert got[("A", 1)] == (2, 1.0, 2.0)
    assert got[("A", 4)] == (2, 7.0, 8.0)
    assert got[("B", 1)] == (2, 1.0, 2.0)
    assert got[("B", 2)] == (1, 3.0, 3.0)
    assert got[("B", 4)] == (1, 5.0, 5.0)


def test_pivot_zero_fills_absent_cells(spark, tmp_path_factory):
    """A nation with no 'P' orders reports n_p=0 / rev_p=0.0 — declared
    pivot values surface absent cells as zeros, not missing columns."""
    from bridgedownstream_spark.queries import core as core_q

    path = str(tmp_path_factory.mktemp("pivot") / "lake")
    spark.createDataFrame(
        [(1, 10, "F", 100.0), (2, 10, "O", 50.0), (3, 20, "P", 70.0)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    spark.createDataFrame(
        [(10, 0), (20, 1)], "c_custkey long, c_nationkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/customer.parquet")
    spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], "n_nationkey long, n_name string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/nation.parquet")
    got = {
        r.nation: (r.n_f, r.n_o, r.n_p, r.rev_f, r.rev_o, r.rev_p)
        for r in core_q.pivot_order_status(spark, path).collect()
    }
    assert got["ALPHA"] == (1, 1, 0, 100.0, 50.0, 0.0)
    assert got["BETA"] == (0, 0, 1, 0.0, 0.0, 70.0)


def test_rolling_hll_tracks_exact_rolling_distinct(spark):
    """At sf0.01 the 7-day sliding register merge lands within the HLL
    error envelope of the EXACT rolling count on every day (m=64 ->
    ~13% standard error; assert a generous 35% ceiling), certifying the
    densified-grid window merge against ground truth."""
    sf = "/root/testdata/sf0.01"
    exact = {
        r.day_idx: r.active_7d
        for r in advanced.rolling_active_users(spark, sf).collect()
    }
    est = {
        r.day_idx: r.est_users_7d
        for r in advanced.rolling_hll_users(spark, sf).collect()
    }
    assert set(est) == set(exact)
    for d, e in exact.items():
        assert abs(est[d] - e) / e < 0.35, (d, est[d], e)


def test_weighted_median_follows_weight_not_rows(spark, tmp_path_factory):
    """Prices 10 (w=1), 20 (w=1), 30 (w=8): the row median is 20 but 8 of
    10 quantity units sit at 30 — the weighted median must report 30."""
    path = str(tmp_path_factory.mktemp("wmed") / "lake")
    rows = [
        (1, 1, "A", 10.0, 1.0),
        (2, 1, "A", 20.0, 1.0),
        (3, 1, "A", 30.0, 8.0),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_extendedprice double, l_quantity double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    [r] = advanced.weighted_median(spark, path).collect()
    assert (r.l_returnflag, r.total_weight, r.w_median) == ("A", 10, 30.0)


def test_containment_join_is_directed(spark, tmp_path_factory):
    """B = A's text plus a long unique tail: A's shingles are a subset of
    B's, so (A contained-in B) fires at 10000 bp while the reverse
    direction (and the Jaccard-symmetric view) must NOT appear."""
    from bridgedownstream_spark.queries import similarity as sim

    path = str(tmp_path_factory.mktemp("cont") / "lake")
    base = " ".join(f"tok{i}" for i in range(30))
    tail = " ".join(f"extra{i}" for i in range(90))
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " " + tail, "en", "s", 10),
        (3, "completely different words " + " ".join(
            f"zz{i}" for i in range(40)), "en", "s", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r.cont_bp
        for r in sim.containment_prefix_join(spark, path).collect()
    }
    assert got == {(1, 2): 10000}


def test_quantile_band_rollup_levels_are_consistent(spark):
    """The global row's count equals the sum of nation counts, and each
    level's p50 estimate lands within one band width of DuckDB's exact
    median — the additive merge neither loses nor double-counts."""
    import duckdb

    sf = "/root/testdata/sf0.01"
    rows = advanced.quantile_band_rollup(spark, sf).collect()
    by_level = {r.level_key: r for r in rows}
    nations = [r for r in rows if r.level_key.startswith("nation:")]
    assert by_level["global"].n_orders == sum(r.n_orders for r in nations)
    con = duckdb.connect()
    lo, hi, exact_p50 = con.execute(
        f"SELECT min(o_totalprice), max(o_totalprice),"
        f" quantile_cont(o_totalprice, 0.5)"
        f" FROM '{sf}/orders.parquet'"
    ).fetchone()
    width = (hi - lo) / 256
    assert abs(by_level["global"].p50_est - exact_p50) <= width


def test_event_pattern_match_counts_nonoverlapping(spark, tmp_path_factory):
    """Journey v,c,p,v,c,p,e,p: two 'vcp' trigrams and one 'ep' recovery;
    ordering comes from (ts, event_id), not insertion order."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("patm") / "lake")
    t0 = dt.datetime(2024, 1, 1)
    seq = ["view", "click", "purchase", "view", "click", "purchase",
           "error", "purchase"]
    rows = [
        (k, t0 + dt.timedelta(minutes=k), 7, et, 1.0, "{}")
        for k, et in enumerate(reversed(seq))
    ]
    # reversed insert order + reversed timestamps => same journey
    rows = [
        (k, t0 + dt.timedelta(minutes=len(seq) - k), uid, et, v, p)
        for (k, _, uid, et, v, p) in rows
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")
    [r] = advanced.event_pattern_match(spark, path).collect()
    assert (r.n_events, r.n_vcp, r.n_err_recovery) == (8, 2, 1)


def test_window_rank_suite_full_frame_nth_value(spark, tmp_path_factory):
    """nth_value(3) with the full-partition frame is defined for EVERY
    row (including the first two), and percent_rank of the lowest /
    highest rows is exactly 0 / 1."""
    path = str(tmp_path_factory.mktemp("ranks") / "lake")
    rows = [(997 * k, "A", float(10 * k)) for k in range(1, 6)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    got = {r.o_orderkey: r for r in
           advanced.window_rank_suite(spark, path).collect()}
    assert all(r.third_lowest == 30.0 for r in got.values())
    assert got[997].pct_rank == 0.0
    assert got[997 * 5].pct_rank == 1.0
    assert got[997 * 5].cume_dist == 1.0


def test_groupingsets_flags_disambiguate_levels(spark, tmp_path_factory):
    """Three levels exactly (no grand total); grouping flags — not the
    NULLed keys — identify each level."""
    path = str(tmp_path_factory.mktemp("gsets") / "lake")
    rows = [(1, "HI", "F", 10.0), (2, "HI", "O", 20.0), (3, "LO", "F", 40.0)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderstatus string,"
        " o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    rows = advanced.groupingsets_revenue(spark, path).collect()
    levels = {(r.g_priority, r.g_status) for r in rows}
    assert levels == {(0, 0), (0, 1), (1, 0)}  # detail, by-prio, by-status
    by_status = {r.o_orderstatus: r.revenue
                 for r in rows if (r.g_priority, r.g_status) == (1, 0)}
    assert by_status == {"F": 50.0, "O": 20.0}


def test_ivm_retraction_equals_recompute_over_survivors(spark, tmp_path_factory):
    """The maintained (count, sum) from the signed change log equals a
    recompute over the rows that survive the deletes."""
    path = str(tmp_path_factory.mktemp("ivm") / "lake")
    rows = [(k, "P" if k % 2 else "Q", float(10 * k)) for k in range(1, 15)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    got = {r.o_orderpriority: (r.n_live, r.sum_live)
           for r in advanced.ivm_agg_retract(spark, path).collect()}
    survivors = [(p, v) for k, p, v in rows if k % 7 != 0]
    for prio in ("P", "Q"):
        vs = [v for p, v in survivors if p == prio]
        assert got[prio] == (len(vs), round(sum(vs), 2))


def test_sssp_prefers_cheap_two_hop_over_direct(spark, tmp_path_factory):
    """Hand graph: seed 7 connects to part 100 directly through ONE shared
    order (w=1000000) and via part 50 through two legs that share 4 and 5
    orders (w=250000+200000=450000): the two-hop path must win. Part 200
    is reachable only from 100 (third hop)."""
    path = str(tmp_path_factory.mktemp("sssp") / "lake")
    rows = []
    oid = [0]

    def orders_with(x, y, n):
        for _ in range(n):
            oid[0] += 1
            rows.append((oid[0], x))
            rows.append((oid[0], y))

    orders_with(7, 100, 1)   # direct: w = 1000000
    orders_with(7, 50, 4)    # leg 1:  w = 250000
    orders_with(50, 100, 5)  # leg 2:  w = 200000
    orders_with(100, 200, 2) # hop 3:  w = 500000
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    spark.createDataFrame(
        [(7,), (50,), (100,), (200,)], "p_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/part.parquet")
    got = {r.node: r.dist for r in advanced.sssp_weighted(spark, path).collect()}
    assert got == {7: 0, 50: 250000, 100: 450000, 200: 950000}


def test_kcore_peels_pendant_and_keeps_clique(spark, tmp_path_factory):
    """Hand graph: orders 1+2 both hold parts {10,20,30,40} (a
    2-order-confirmed 4-clique — every member keeps 3 surviving
    neighbors, comfortably inside the k=2 core) and orders 3+4 both
    hold {40, 99} (a confirmed pendant: 99 has degree 1 < k, and it
    inflates 40's raw degree to 4). Round 1 peels 99; the induced
    subgraph must then report 40 at its RESIDUAL degree 3, not its raw
    4 — the defining property peeling has and a one-shot degree filter
    lacks."""
    path = str(tmp_path_factory.mktemp("kcore") / "lake")
    rows = [(o, p) for o in (1, 2) for p in (10, 20, 30, 40)] + [
        (3, 40), (3, 99), (4, 40), (4, 99)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    got = {r.p_partkey: r.core_degree
           for r in advanced.kcore_peeling(spark, path).collect()}
    assert got == {10: 3, 20: 3, 30: 3, 40: 3}


def test_debounce_measures_gap_from_kept_not_previous(spark, tmp_path_factory):
    """Events at minutes 0, 4, 8: a lag-based rewrite (gap from previous
    EVENT) would drop both 4 and 8; the greedy throttle must keep 0 and
    8 (8 >= 0+5min even though it is only 4min after the dropped 4)."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("deb") / "lake")
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, t0 + dt.timedelta(minutes=m), 1, "x", 1.0, "{}")
        for k, m in [(1, 0), (2, 4), (3, 8)]
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")
    kept = [r.event_id for r in advanced.debounce_events(spark, path).collect()]
    assert kept == [1, 3]


def test_bag_set_ops_keep_multiplicity(spark, tmp_path_factory):
    """User 1 clicks 3x in h1 and 1x in h2: lost=2, common=1 — a
    distinct-set diff would report lost=0."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("bag") / "lake")
    t0 = dt.datetime(2024, 1, 1)
    rows = [(k, t0 + dt.timedelta(hours=h), 1, "click", 1.0, "{}")
            for k, h in [(1, 0), (2, 1), (3, 2), (4, 40)]]
    # span 0..40h, mid=20h: three clicks in h1, one in h2
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")
    got = {(r.op, r.event_type): r.n
           for r in advanced.bag_set_ops(spark, path).collect()}
    assert got == {("lost", "click"): 2, ("common", "click"): 1}


def test_kmv_cardinality_exact_below_sketch_capacity(spark, tmp_path_factory):
    """Sets smaller than k=64 ARE their sketches, so every estimate
    degrades to the exact value: |A|=10, |B|=18, A ⊂ B → union 18,
    intersection 10."""
    path = str(tmp_path_factory.mktemp("kmvc") / "lake")
    words_a = " ".join(f"w{i}" for i in range(12))   # 10 3-gram shingles
    words_b = " ".join(f"w{i}" for i in range(20))   # 18, superset of A's
    rows = [(1, words_a, "en", "srcA", 1), (2, words_b, "en", "srcB", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    [r] = advanced.kmv_set_cardinality(spark, path).collect()
    assert (r.source_a, r.source_b) == ("srcA", "srcB")
    assert (r.est_distinct_a, r.est_distinct_b) == (10, 18)
    assert (r.est_union, r.est_intersection) == (18, 10)


def test_pareto_frontier_dominance_and_ties(spark, tmp_path_factory):
    """Hand set: (10,d1) dominates (10,d2) and (20,d3>d1); (20,d0) survives
    (cheapest-date); exact duplicates of a frontier point BOTH survive
    (neither dominates the other)."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("pareto") / "lake")
    d = lambda k: dt.datetime(2024, 1, k)
    rows = [
        (1, 1, "A", 10.0, d(5)),   # frontier
        (2, 1, "A", 10.0, d(5)),   # exact duplicate -> also frontier
        (3, 1, "A", 10.0, d(9)),   # same price, later date -> dominated
        (4, 1, "A", 20.0, d(9)),   # pricier AND later -> dominated
        (5, 1, "A", 20.0, d(2)),   # pricier but earlier -> frontier
        (6, 1, "A", 30.0, d(2)),   # pricier, ties date 2 -> dominated by 5
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_extendedprice double, l_shipdate timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    got = sorted(r.l_orderkey for r in
                 advanced.pareto_frontier(spark, path).collect())
    assert got == [1, 2, 5]


def test_pareto_oracle_formulations_agree():
    """The bench-scale O(n log n) window oracle (_PARETO_SQL_FAST) must be
    bit-identical to the registered quadratic NOT-EXISTS spec oracle —
    both run DuckDB-side on the sf0.01 corpus (the scale the spec form
    affords). tools/verify_local.py swaps the fast form in at larger
    scale factors on the strength of this pin."""
    import duckdb

    from bridgedownstream_spark.queries.advanced import (
        _PARETO_SQL,
        _PARETO_SQL_FAST,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/lineitem.parquet')"
    )
    spec = con.execute(_PARETO_SQL).fetchall()
    fast = con.execute(_PARETO_SQL_FAST).fetchall()
    assert len(spec) > 0
    assert spec == fast


def test_edge_parts_rejects_shuffle_derived_frames(spark):
    """_edge_parts sizes graph edge state from the RAW SCAN's split
    count; a shuffle-derived frame would silently report
    spark.sql.shuffle.partitions instead. The guard must be structural:
    raw scans pass, anything whose physical plan contains an Exchange
    raises."""
    import pytest

    from bridgedownstream_spark.queries.advanced import _edge_parts
    from bridgedownstream_spark.queries.util import tbl

    raw = tbl(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    assert _edge_parts(raw) >= 8  # scan + narrow project: accepted
    with pytest.raises(ValueError, match="pre-shuffle SCAN frame"):
        _edge_parts(raw.distinct())


def _inline_edges(raw, variant):
    """The edge list as each graph query used to build it by hand:
    "distinct" (pagerank, bfs), "weighted" (sssp: 1000000 div the
    shared-order count) and "confirmed" (kcore, clustering: >= 2 orders)."""
    from pyspark.sql import functions as F

    from bridgedownstream_spark.queries.advanced import _edge_parts

    li = raw if variant == "distinct" else raw.distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .repartition(_edge_parts(raw), "dst")
    )
    if variant == "distinct":
        return pairs.distinct()
    if variant == "weighted":
        return pairs.groupBy("src", "dst").agg(
            F.expr("1000000 div count(*)").alias("w")
        )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .select("src", "dst")
    )


def _copurchase_variants(raw):
    from pyspark.sql import functions as F

    from bridgedownstream_spark.queries.advanced import _copurchase_edges

    return {
        "distinct": _copurchase_edges(raw),
        "weighted": _copurchase_edges(raw, min_orders=1).select(
            "src", "dst", F.expr("1000000 div n_orders").alias("w")
        ),
        "confirmed": _copurchase_edges(raw, min_orders=2).select("src", "dst"),
    }


def test_copurchase_edges_hand_graph(spark, tmp_path_factory):
    """Order 1 holds parts 10, 20 (twice) and 30; order 2 holds 10 and
    20; order 3 holds 20 and 30; order 4 holds 40 alone. Edges run both
    ways and never to self (20's repeat in order 1 is no 20-20 edge),
    the repeat counts as ONE shared order, min_orders drops the 10-30
    edge (one order), and None lists each edge once."""
    from bridgedownstream_spark.queries.advanced import _copurchase_edges
    from bridgedownstream_spark.queries.util import tbl

    path = str(tmp_path_factory.mktemp("edges") / "lake")
    rows = [(1, 10), (1, 20), (1, 20), (1, 30), (2, 10), (2, 20),
            (3, 20), (3, 30), (4, 40)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    raw = tbl(spark, path, "lineitem").select("l_orderkey", "l_partkey")

    pairs = sorted(tuple(r) for r in _copurchase_edges(raw).collect())
    assert pairs == [(10, 20), (10, 30), (20, 10), (20, 30), (30, 10), (30, 20)]
    counted = {
        (r.src, r.dst): r.n_orders
        for r in _copurchase_edges(raw, min_orders=1).collect()
    }
    assert counted == {(10, 20): 2, (20, 10): 2, (10, 30): 1, (30, 10): 1,
                       (20, 30): 2, (30, 20): 2}
    confirmed = {
        (r.src, r.dst): r.n_orders
        for r in _copurchase_edges(raw, min_orders=2).collect()
    }
    assert confirmed == {k: n for k, n in counted.items() if n >= 2}
    for variant, df in _copurchase_variants(raw).items():
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, _inline_edges(raw, variant).collect())
        ), variant


def test_copurchase_edges_match_inline_builds(spark, tmp_path_factory):
    """On a seeded random lineitem (400 orders of 1-8 lines over 60
    parts, so parts repeat within orders and many pairs share several
    orders), every variant the graph queries take from _copurchase_edges
    equals the edge list they used to build inline, schema included."""
    import random

    from bridgedownstream_spark.queries.util import tbl

    rng = random.Random(7)
    rows = [(o, rng.randrange(60)) for o in range(400)
            for _ in range(rng.randint(1, 8))]
    path = str(tmp_path_factory.mktemp("edges_rand") / "lake")
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    raw = tbl(spark, path, "lineitem").select("l_orderkey", "l_partkey")
    for variant, df in _copurchase_variants(raw).items():
        ref = _inline_edges(raw, variant)
        assert df.schema == ref.schema, variant
        got = sorted(map(tuple, df.collect()))
        assert got and got == sorted(map(tuple, ref.collect())), variant


def test_graph_loop_degrades_to_shuffle_hash_above_broadcast_ceiling(spark, monkeypatch):
    """_pin_node_side: when the node frame cannot broadcast (the ceiling
    forced to 0, the node-table-outgrew-the-ceiling stand-in), every loop
    join must degrade to an explicit SHUFFLE_HASH build — visible in the
    final round's physical plan — and the result must be IDENTICAL to the
    broadcast path."""
    sf = "/root/testdata/sf0.001"
    base = sorted(
        tuple(r) for r in advanced.bfs_hops(spark, sf).collect()
    )
    monkeypatch.setattr(advanced, "_BROADCAST_CEILING_BYTES", 0)
    df = advanced.bfs_hops(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan  # the pinned fallback build
    assert "BroadcastHashJoin" not in plan
    assert sorted(tuple(r) for r in df.collect()) == base


def test_pin_node_side_threshold_logic(spark, monkeypatch):
    """Broadcast under the sized ceiling, shuffle-hash above it. The
    ceiling is the package's own, NOT autoBroadcastJoinThreshold —
    explicit broadcast hints are honored far beyond the 10 MB auto
    threshold, and demoting a ~100 MB frontier to per-round edge
    re-shuffles measured 247 s vs 141 s at 100x."""
    from bridgedownstream_spark.queries.advanced import _NODE_ROW_BYTES, _pin_node_side

    df = spark.range(4).withColumnRenamed("id", "node")
    # a 2M-node frontier (the 100x corpus) must broadcast under the
    # default ceiling
    frontier_100x = _pin_node_side(df, 2_000_000)
    monkeypatch.setattr(advanced, "_BROADCAST_CEILING_BYTES", 10 << 20)
    small = _pin_node_side(df, 1000)
    big = _pin_node_side(df, (10 << 20) // _NODE_ROW_BYTES + 1)
    monkeypatch.setattr(advanced, "_BROADCAST_CEILING_BYTES", 0)
    disabled = _pin_node_side(df, 1)
    probe = spark.range(4).withColumnRenamed("id", "node")
    for bcast in (small, frontier_100x):
        p = probe.join(bcast, "node")._jdf.queryExecution()
        assert "BroadcastHashJoin" in p.executedPlan().toString()
    for fallback in (big, disabled):
        p = probe.join(fallback, "node")._jdf.queryExecution()
        assert "ShuffledHashJoin" in p.executedPlan().toString()


def test_attribution_position_credits_sum_to_one_million(spark, tmp_path_factory):
    """Position-based credit: 100% single-touch, 50/50 two-touch, 40/20/40
    with the middle remainder going to the EARLIEST middles — every
    conversion's ppm sums to exactly 1,000,000."""
    path = str(tmp_path_factory.mktemp("attr_pos") / "lake")
    d = lambda day, h=0: datetime(2024, 1, day, h)  # noqa: E731
    rows = [
        # u1: single view -> 1,000,000 to view
        (1, d(2), 1, "view", 1.0, "{}"),
        (2, d(3), 1, "purchase", 1.0, "{}"),
        # u2: view then click -> 500,000 each
        (3, d(2), 2, "view", 1.0, "{}"),
        (4, d(3), 2, "click", 1.0, "{}"),
        (5, d(4), 2, "purchase", 1.0, "{}"),
        # u3: view,click,view,click,view -> n=5: first/last view 400k each;
        # middles click,view,click share 200k as 66667,66667,66666
        (6, d(1), 3, "view", 1.0, "{}"),
        (7, d(2), 3, "click", 1.0, "{}"),
        (8, d(3), 3, "view", 1.0, "{}"),
        (9, d(4), 3, "click", 1.0, "{}"),
        (10, d(5), 3, "view", 1.0, "{}"),
        (11, d(6), 3, "purchase", 1.0, "{}"),
        # u4: only touch 8 days out -> no attribution rows at all
        (12, d(1), 4, "click", 1.0, "{}"),
        (13, d(9, 1), 4, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    out = {
        r.channel: (r.touches, r.credit_ppm)
        for r in advanced.attribution_position(spark, path).collect()
    }
    # view: 1000000 (u1) + 500000 (u2) + 400000+400000+66667 (u3) = 2366667
    # click: 500000 (u2) + 66667+66666 (u3) = 633333
    assert out == {"view": (5, 2366667), "click": (3, 633333)}
    assert sum(v[1] for v in out.values()) == 3 * 1000000


def test_bootstrap_ci_brackets_estimate_and_is_deterministic(spark):
    """Poisson-bootstrap invariants on real sf0.001 data: every group's
    CI strictly brackets the point estimate, and the md5-derived draws
    make two runs bit-identical (no RNG anywhere)."""
    a = {r.l_returnflag: r for r in
         advanced.bootstrap_ci_revenue(spark, "/root/testdata/sf0.001").collect()}
    b = {r.l_returnflag: r for r in
         advanced.bootstrap_ci_revenue(spark, "/root/testdata/sf0.001").collect()}
    assert len(a) == 3
    for fl, r in a.items():
        assert r.ci_low < r.ci_high
        assert r.ci_low <= r.est <= r.ci_high
        assert b[fl] == r


def test_k_anonymity_flags_small_and_uniform_classes(spark, tmp_path_factory):
    """A 2-row class violates k=5; a class whose members all share one
    sensitive bucket violates l=2 even when large; a large diverse class
    passes both."""
    path = str(tmp_path_factory.mktemp("kanon") / "lake")
    rows = (
        # class (1, BUILDING): 2 rows, 2 buckets -> k-violation only
        [(i, f"c{i}", 1, 500.0 + 1000 * i, "BUILDING") for i in range(2)]
        # class (2, AUTO): 6 rows, all in bucket 0 -> l-violation only
        + [(10 + i, f"c{10+i}", 2, 100.0 + i, "AUTO") for i in range(6)]
        # class (3, MACH): 6 rows, 3 buckets -> clean
        + [(20 + i, f"c{20+i}", 3, 1000.0 * (i % 3) + 5.0, "MACH") for i in range(6)]
    )
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/customer.parquet")
    out = {
        (r.nationkey, r.segment): r
        for r in advanced.k_anonymity_audit(spark, path).collect()
    }
    b = out[(1, "BUILDING")]
    assert (b.k_size, b.l_diversity, b.k_violation, b.l_violation) == (2, 2, 1, 0)
    a = out[(2, "AUTO")]
    assert (a.k_size, a.l_diversity, a.k_violation, a.l_violation) == (6, 1, 0, 1)
    m = out[(3, "MACH")]
    assert (m.k_size, m.l_diversity, m.k_violation, m.l_violation) == (6, 3, 0, 0)


def test_dow_seasonality_uniform_vs_spiked(spark, tmp_path_factory):
    """An all-Monday type gets index 7,000,000 on dow 1 and no other rows;
    a uniform one-event-per-day type indexes exactly 1,000,000 per day."""
    path = str(tmp_path_factory.mktemp("dow") / "lake")
    rows = []
    eid = 0
    for d in (1, 8, 15):  # 2024-01-01/08/15 are all Mondays
        rows.append((eid, datetime(2024, 1, d, 9), 1, "spike", 1.0, "{}"))
        eid += 1
    for d in range(1, 8):  # Mon..Sun, one each
        rows.append((eid, datetime(2024, 1, d, 9), 2, "flat", 1.0, "{}"))
        eid += 1
    _write_events(spark, path, rows)
    out = advanced.dow_seasonality(spark, path).collect()
    spike = [r for r in out if r.event_type == "spike"]
    assert len(spike) == 1 and spike[0].dow == 1
    assert spike[0].n_events == 3
    assert spike[0].share_ppm == 1000000
    assert spike[0].seasonal_index_ppm == 7000000
    flat = {r.dow: r for r in out if r.event_type == "flat"}
    assert sorted(flat) == [1, 2, 3, 4, 5, 6, 7]
    assert all(r.seasonal_index_ppm == 1000000 for r in flat.values())
    assert all(r.share_ppm == 142857 for r in flat.values())


def test_cms_join_estimate_is_exact_sized_and_one_sided(spark, tmp_path_factory):
    """Known-answer exact join size on a planted key distribution, and the
    CMS inner-product estimator's one-sided (over-)estimation guarantee."""
    path = str(tmp_path_factory.mktemp("cms") / "lake")
    t0 = datetime(2024, 1, 1)
    orders = [(i, k, "O", 1.0, t0, "1-URGENT") for i, k in
              enumerate([1, 1, 2, 3, 3, 3])]
    custs = [(k, f"c{k}", 0, 0.0, "AUTO") for k in [1, 2, 2, 4]]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/customer.parquet")
    row = advanced.cms_join_size_estimate(spark, path).collect()[0]
    # key 1: 2 orders x 1 cust; key 2: 1 x 2; keys 3/4 unmatched -> 4 pairs
    assert row.exact_pairs == 4
    assert row.cms_estimate >= row.exact_pairs
    assert row.over_ppm >= 0


def test_scd2_pit_join_uses_at_time_version(spark, tmp_path_factory):
    """Each purchase must see the dimension version valid AT its time —
    not the current one; a purchase at the exact instant of a state
    change sees the NEW state (valid_from inclusive); purchases before
    any state event drop."""
    path = str(tmp_path_factory.mktemp("pit") / "lake")
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(2), 1, "purchase", 1.0, "{}"),   # state: view
        (3, t(4), 1, "click", 1.0, "{}"),
        (4, t(4), 1, "purchase", 1.0, "{}"),   # AT the change: click
        (5, t(9), 1, "purchase", 1.0, "{}"),   # still click (current)
        (6, t(0), 2, "purchase", 1.0, "{}"),   # user 2: no state yet
        (7, t(1), 2, "error", 1.0, "{}"),
    ]
    _write_events(spark, path, rows)
    out = {
        r.event_id: r
        for r in advanced.scd2_point_in_time_join(spark, path).collect()
    }
    assert set(out) == {2, 4, 5}  # event 6 precedes any dimension row
    assert out[2].dim_state == "view"
    assert out[4].dim_state == "click"
    assert out[5].dim_state == "click"


def test_zipf_slope_exact_inverse_law(spark, tmp_path_factory):
    """A corpus whose counts are exactly 12/rank fits slope -1; ranks are
    dense and ordered by (count desc, word)."""
    path = str(tmp_path_factory.mktemp("zipf") / "lake")
    text = " ".join(["alpha"] * 12 + ["beta"] * 6 + ["gamma"] * 4 + ["delta"] * 3)
    spark.createDataFrame(
        [(1, text, "en", "s0", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    from bridgedownstream_spark.queries import curation

    rows = curation.zipf_slope(spark, path).collect()
    assert [r.rank for r in rows] == [1, 2, 3, 4]
    assert [r.word for r in rows] == ["alpha", "beta", "gamma", "delta"]
    assert [r.cnt for r in rows] == [12, 6, 4, 3]
    assert all(abs(r.zipf_slope + 1.0) < 1e-5 for r in rows)


def test_clustering_coefficient_hand_graph(spark, tmp_path_factory):
    """Triangle {1,2,3} plus pendant 4-1 (all edges 2-order-confirmed):
    node 1 has degree 3 and coefficient 1/3; nodes 2 and 3 are fully
    clustered; the pendant (degree 1) is excluded."""
    path = str(tmp_path_factory.mktemp("cc") / "lake")
    rows = []
    for o in (1, 2):  # two orders confirm the triangle
        rows += [(o, p) for p in (1, 2, 3)]
    for o in (3, 4):  # two orders confirm the pendant edge
        rows += [(o, p) for p in (1, 4)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    out = {r.p_partkey: r for r in
           advanced.clustering_coefficient(spark, path).collect()}
    assert set(out) == {1, 2, 3}  # pendant node 4 has degree 1
    assert (out[1].degree, out[1].triangles, out[1].clustering_ppm) == (3, 1, 333333)
    assert (out[2].degree, out[2].triangles, out[2].clustering_ppm) == (2, 1, 1000000)
    assert (out[3].degree, out[3].triangles, out[3].clustering_ppm) == (2, 1, 1000000)


def test_temporal_split_leakage_known_answer(spark, tmp_path_factory):
    """10 hourly events over [0h, 9h): cutoff at 80% of the range = 7.2h,
    so events 0..7 train, 8..9 test; user A spans both sides (leaked),
    user B is train-only, user C test-only."""
    path = str(tmp_path_factory.mktemp("tsplit") / "lake")
    rows = []
    for h in range(10):
        uid = 1 if h in (0, 8) else (2 if h < 8 else 3)  # A spans, B train, C test
        rows.append((h, datetime(2024, 1, 1, h), uid, "view", 1.0, "{}"))
    _write_events(spark, path, rows)
    from bridgedownstream_spark.queries import curation

    r = curation.temporal_split_leakage(spark, path).collect()[0]
    assert (r.n_train_events, r.n_test_events) == (8, 2)
    assert (r.train_users, r.test_users) == (2, 2)   # {A,B} vs {A,C}
    assert r.leaked_users == 1                        # A
    assert r.leakage_ppm == 500000


def test_burstiness_metronome_vs_bursts(spark, tmp_path_factory):
    """Equal gaps give CV² = 0 exactly; a burst-then-silence user matches
    the integer-exact closed form; single-gap users are excluded."""
    path = str(tmp_path_factory.mktemp("burst") / "lake")
    rows = []
    for i, sec in enumerate((0, 60, 120, 180)):        # u1: metronome
        rows.append((i, datetime(2024, 1, 1, 0, sec // 60, sec % 60),
                     1, "view", 1.0, "{}"))
    for j, sec in enumerate((0, 1, 2, 102)):           # u2: burst + silence
        rows.append((10 + j, datetime(2024, 1, 1, 0, sec // 60, sec % 60),
                     2, "view", 1.0, "{}"))
    rows.append((20, datetime(2024, 1, 1), 3, "view", 1.0, "{}"))  # u3: 1 event
    rows.append((21, datetime(2024, 1, 1, 1), 3, "view", 1.0, "{}"))  # 1 gap
    _write_events(spark, path, rows)
    out = {r.user_id: r for r in
           advanced.interarrival_burstiness(spark, path).collect()}
    assert set(out) == {1, 2}  # u3 has a single gap -> excluded
    assert out[1].burstiness_cv2_ppm == 0
    assert out[1].mean_gap_us == 60_000_000
    g = [1_000_000, 1_000_000, 100_000_000]
    n, S, S2 = len(g), sum(g), sum(x * x for x in g)
    assert out[2].mean_gap_us == S // n
    assert out[2].burstiness_cv2_ppm == (n * S2 - S * S) * 1_000_000 // (S * S)


def test_psi_zero_for_identical_halves_and_positive_for_shift(spark, tmp_path_factory):
    """Identical value multisets in both time halves give exactly 0.0 in
    every bucket; a shifted second half produces a positive PSI sum."""
    path = str(tmp_path_factory.mktemp("psi") / "lake")
    rows, eid = [], 0
    for half_h in (0, 12):  # identical multisets at hours 0.. and 12..
        for v in (0.0, 1.0, 1.0, 5.0, 9.0):
            rows.append((eid, datetime(2024, 1, 1, half_h, eid % 60), 1,
                         "view", v, "{}"))
            eid += 1
    _write_events(spark, path, rows)
    out = advanced.psi_drift(spark, path).collect()
    assert len(out) == 10
    assert all(r.psi_term == 0.0 for r in out)
    assert sum(r.n_ref for r in out) == 5 and sum(r.n_cur for r in out) == 5

    path2 = str(tmp_path_factory.mktemp("psi2") / "lake")
    rows2, eid = [], 0
    for v in (0.0, 0.0, 1.0, 1.0, 2.0):
        rows2.append((eid, datetime(2024, 1, 1, 0, eid), 1, "view", v, "{}"))
        eid += 1
    for v in (7.0, 8.0, 8.0, 9.0, 9.0):
        rows2.append((eid, datetime(2024, 1, 1, 23, eid % 60), 1, "view", v, "{}"))
        eid += 1
    _write_events(spark, path2, rows2)
    out2 = advanced.psi_drift(spark, path2).collect()
    assert sum(r.psi_term for r in out2) > 0.25  # a gross shift alarms


def test_ks_two_sample_hand_answer(spark, tmp_path_factory):
    """A={1,1,2} (first half), B={2,3,3} (second): the max CDF gap is
    2/3 at value 1."""
    path = str(tmp_path_factory.mktemp("ks") / "lake")
    rows = [
        (0, datetime(2024, 1, 1, 0, 0), 1, "view", 1.0, "{}"),
        (1, datetime(2024, 1, 1, 0, 1), 1, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 0, 2), 1, "view", 2.0, "{}"),
        (3, datetime(2024, 1, 1, 23, 0), 1, "view", 2.0, "{}"),
        (4, datetime(2024, 1, 1, 23, 1), 1, "view", 3.0, "{}"),
        (5, datetime(2024, 1, 1, 23, 2), 1, "view", 3.0, "{}"),
    ]
    _write_events(spark, path, rows)
    r = advanced.ks_two_sample(spark, path).collect()[0]
    assert (r.n_first, r.n_second) == (3, 3)
    assert r.ks_value == 1.0
    assert r.d_ppm == 2 * 1_000_000 * 3 // 9  # |2*3 - 0*3| / 9 = 2/3


def test_gini_uniform_zero_and_skewed_hand_answer(spark, tmp_path_factory):
    """Equal activity gives Gini 0; counts [1,1,1,5] give exactly 0.375
    (hand-checked against the sorted-rank definition)."""
    def write_orders(name, counts):
        path = str(tmp_path_factory.mktemp(name) / "lake")
        rows, oid = [], 0
        for ck, k in enumerate(counts, start=1):
            for _ in range(k):
                rows.append((oid, ck, "O", 1.0, datetime(2024, 1, 1),
                             "1-URGENT"))
                oid += 1
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
        return path

    r = advanced.gini_activity_concentration(
        spark, write_orders("gini_u", [2, 2, 2, 2])).collect()[0]
    assert (r.n_customers, r.total_orders, r.gini_ppm) == (4, 8, 0)
    r2 = advanced.gini_activity_concentration(
        spark, write_orders("gini_s", [1, 1, 1, 5])).collect()[0]
    assert (r2.n_customers, r2.total_orders) == (4, 8)
    assert r2.gini_ppm == 375000


def test_cusum_finds_level_shift_day(spark, tmp_path_factory):
    """Daily cents [100,100,300,300]: the cumulative deviation peaks at
    day 2 (the last pre-shift day), S = -800 scaled, share 25%."""
    path = str(tmp_path_factory.mktemp("cusum") / "lake")
    rows, eid = [], 0
    for day, cents in ((1, 100), (2, 100), (3, 300), (4, 300)):
        rows.append((eid, datetime(2024, 1, day, 9), 1, "view",
                     cents / 100.0, "{}"))
        eid += 1
    _write_events(spark, path, rows)
    r = advanced.cusum_changepoint(spark, path).collect()[0]
    assert r.n_days == 4
    assert r.changepoint_day == "2024-01-02"
    assert r.cusum_scaled == -800
    assert r.cusum_share_ppm == 250000


def test_mann_whitney_dominance_and_identity(spark, tmp_path_factory):
    """B entirely above A gives U=0 (cles 0); identical halves give the
    exact midrank tie value cles = 0.5."""
    def write(name, first_vals, second_vals):
        path = str(tmp_path_factory.mktemp(name) / "lake")
        rows, eid = [], 0
        for v in first_vals:
            rows.append((eid, datetime(2024, 1, 1, 0, eid), 1, "view", v, "{}"))
            eid += 1
        for v in second_vals:
            rows.append((eid, datetime(2024, 1, 1, 23, eid % 60), 1, "view", v, "{}"))
            eid += 1
        _write_events(spark, path, rows)
        return path

    r = advanced.mann_whitney_u(
        spark, write("mwu_lo", [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])).collect()[0]
    assert (r.n_first, r.n_second, r.u2_first, r.cles_ppm) == (3, 3, 0, 0)
    r2 = advanced.mann_whitney_u(
        spark, write("mwu_hi", [4.0, 5.0, 6.0], [1.0, 2.0, 3.0])).collect()[0]
    assert (r2.u2_first, r2.cles_ppm) == (18, 1000000)
    r3 = advanced.mann_whitney_u(
        spark, write("mwu_eq", [1.0, 2.0, 3.0], [1.0, 2.0, 3.0])).collect()[0]
    assert (r3.u2_first, r3.cles_ppm) == (9, 500000)


def test_benford_digits_from_cents_and_tvd(spark, tmp_path_factory):
    """Leading digits come from exact cents (no log10); a uniform 1..9
    digit multiset reproduces the hand-computed TVD."""
    path = str(tmp_path_factory.mktemp("benford") / "lake")
    rows = [(d, 1, "O", float(d), datetime(2024, 1, 1), "1-URGENT")
            for d in range(1, 10)]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    out = {r.digit: r for r in advanced.benford_deviation(spark, path).collect()}
    assert sorted(out) == list(range(1, 10))
    assert all(r.n_orders == 1 for r in out.values())
    assert all(r.share_ppm == 1000000 // 9 for r in out.values())
    benford = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
    for d in range(1, 10):
        assert out[d].benford_ppm == benford[d - 1]
        assert out[d].dev_ppm == 1000000 // 9 - benford[d - 1]
    # Σ|n*1e6 - b_ppm*nn|/(2*nn) is already ppm — the true TVD between a
    # uniform 1/9 digit distribution and Benford is ~268,726 ppm (the r8
    # form divided by nn a second time and asserted ~29,858 ppm... // 9)
    expected_tvd = sum(abs(1 * 1000000 - b * 9) for b in benford) // (2 * 9)
    assert expected_tvd == 268726
    assert out[1].tvd_ppm == expected_tvd
