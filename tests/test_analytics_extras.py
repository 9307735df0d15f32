"""Unit tests for the round-10 analytics additions: CUSUM
change-point, seasonal profile, Benford audit, triangle count, and
market-basket lift — hand-computed fixtures with exact expectations."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(day: int, hour: int, minute: int = 0) -> dt.datetime:
    return dt.datetime(2026, 1, day, hour, minute)


@pytest.mark.slow
def test_cusum_changepoint_level_shift(spark):
    """10 hours at level 10 then 10 hours at level 50: the CUSUM peak
    lands on the last bucket of the first regime, with exact means on
    both sides of the split."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        cusum_changepoint,
    )

    rows = [(_ts(1, h), 10.0) for h in range(10)] + [
        (_ts(1, h), 50.0) for h in range(10, 20)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = cusum_changepoint(df, "ts", "value").collect()
    assert len(out) == 1
    r = out[0]
    assert r.changepoint_ts == _ts(1, 9)
    assert r.n_buckets == 20
    # S_10 = sum of (10 - 30) over 10 buckets = -200
    assert r.cusum_abs == 200.0
    assert r.mean_before == 10.0
    assert r.mean_after == 50.0


@pytest.mark.slow
def test_cusum_constant_series_no_signal(spark):
    """A constant series has D_i = 0 everywhere; the earliest-bucket
    tie-break wins and mean_before equals the level."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        cusum_changepoint,
    )

    rows = [(_ts(1, h), 7.0) for h in range(5)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = cusum_changepoint(df, "ts", "value").collect()[0]
    assert r.changepoint_ts == _ts(1, 0)
    assert r.cusum_abs == 0.0
    assert r.mean_before == 7.0
    assert r.mean_after == 7.0


@pytest.mark.slow
def test_cusum_null_rows_excluded(spark):
    from component_delta_lake_writer_spark.operators.timeseries import (
        cusum_changepoint,
    )

    rows = [
        (_ts(1, 0), 1.0),
        (None, 99.0),
        (_ts(1, 1), None),
        (_ts(1, 2), 3.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = cusum_changepoint(df, "ts", "value").collect()[0]
    assert r.n_buckets == 2  # hour 1's only row had a NULL value


def test_seasonal_profile_cells(spark):
    from component_delta_lake_writer_spark.operators.timeseries import (
        seasonal_profile,
    )

    # 2026-01-05 is a Monday (iso 1); 2026-01-04 a Sunday (iso 7)
    rows = [
        (dt.datetime(2026, 1, 5, 0, 30), 1.0),
        (dt.datetime(2026, 1, 5, 0, 45), 3.0),
        (dt.datetime(2026, 1, 4, 23, 10), 8.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {
        (r.dow_iso, r.hour): r
        for r in seasonal_profile(df, "ts", "value").collect()
    }
    assert set(out) == {(1, 0), (7, 23)}
    mon = out[(1, 0)]
    assert mon.n_events == 2
    assert mon.mean_value == 2.0
    assert mon.seasonal_index == 0.5  # 2 / overall mean 4
    assert mon.share_events == 0.666667
    sun = out[(7, 23)]
    assert sun.mean_value == 8.0
    assert sun.seasonal_index == 2.0


def test_benford_audit_digits_and_exclusions(spark):
    from component_delta_lake_writer_spark.operators.dq import (
        benford_audit,
    )

    vals = [1.2, 19.0, 150.0, 2.5, 0.5, None, -3.7]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = {r.digit: r for r in benford_audit(df, "x").collect()}
    # 0.5 (|x|<1) and NULL excluded; -3.7 counts under digit 3
    assert {d: out[d].n for d in out} == {1: 3, 2: 1, 3: 1}
    assert out[1].share == 0.6
    assert out[1].expected == 0.30103  # log10(2) to 6dp
    # chi2 from the ROUNDED share/expected
    exp = out[2].expected
    assert out[2].chi2_term == round((0.2 - exp) ** 2 / exp, 6)


@pytest.mark.slow
def test_triangle_count_small_graph(spark):
    from component_delta_lake_writer_spark.operators.graph import (
        triangle_count,
    )

    # triangle 1-2-3 plus pendant 3-4; reversed duplicate + self-loop
    # must canonicalize away
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 1), (4, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert r.n_nodes == 4
    assert r.n_edges == 4
    assert r.n_wedges == 5  # C(2,2)+C(2,2)+C(3,2)+C(1,2) = 1+1+3+0
    assert r.n_triangles == 1
    assert r.global_clustering == 0.6


@pytest.mark.slow
def test_triangle_count_triangle_free(spark):
    from component_delta_lake_writer_spark.operators.graph import (
        triangle_count,
    )

    # star graph: wedges but no triangles
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    r = triangle_count(df).collect()[0]
    assert r.n_triangles == 0
    assert r.n_wedges == 6  # C(4,2) at the hub
    assert r.global_clustering == 0.0


@pytest.mark.slow
def test_basket_lift_exact(spark):
    from component_delta_lake_writer_spark.operators.affinity import (
        basket_lift,
    )

    rows = [
        ("b1", "A"), ("b1", "B"), ("b1", "C"),
        ("b2", "A"), ("b2", "B"),
        ("b3", "A"),
        ("b3", "A"),  # duplicate (basket, item) must dedup
    ]
    df = spark.createDataFrame(rows, "basket string, item string")
    out = basket_lift(df, "basket", "item", k=10).collect()
    by_pair = {(r.item_a, r.item_b): r for r in out}
    assert set(by_pair) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = by_pair[("A", "B")]
    assert (ab.n_pair, ab.n_a, ab.n_b, ab.n_baskets) == (2, 3, 2, 3)
    assert ab.support == 0.666667
    assert ab.lift == 1.0  # 2·3 / (3·2)
    assert by_pair[("B", "C")].lift == 1.5  # 1·3 / (2·1)


@pytest.mark.slow
def test_basket_lift_topk_tiebreak(spark):
    from component_delta_lake_writer_spark.operators.affinity import (
        basket_lift,
    )

    rows = [
        ("b1", "A"), ("b1", "B"), ("b1", "C"),
        ("b2", "A"), ("b2", "B"),
    ]
    df = spark.createDataFrame(rows, "basket string, item string")
    out = basket_lift(df, "basket", "item", k=2).collect()
    pairs = {(r.item_a, r.item_b) for r in out}
    # (A,B) n=2 first; then (A,C) beats (B,C) on the item_a tiebreak
    assert pairs == {("A", "B"), ("A", "C")}


def test_event_transitions_matrix(spark):
    from component_delta_lake_writer_spark.operators.sessions import (
        event_transitions,
    )

    rows = [
        (1, _ts(1, 0), "A", 10),
        (1, _ts(1, 1), "B", 11),
        (1, _ts(1, 2), "A", 12),
        (2, _ts(1, 0), "B", 20),
        (2, _ts(1, 1), "B", 21),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out = {
        (r.from_type, r.to_type): r
        for r in event_transitions(
            df, "user_id", "ts", "event_type", tiebreak="event_id"
        ).collect()
    }
    assert set(out) == {("A", "B"), ("B", "A"), ("B", "B")}
    assert out[("A", "B")].n_transitions == 1
    assert out[("A", "B")].p_transition == 1.0
    assert out[("B", "A")].p_transition == 0.5
    assert out[("B", "B")].p_transition == 0.5


def test_event_transitions_tiebreak_and_nulls(spark):
    from component_delta_lake_writer_spark.operators.sessions import (
        event_transitions,
    )

    t = _ts(1, 0)
    rows = [
        (1, t, "X", 2),
        (1, t, "Y", 1),  # same ts: id order makes Y -> X
        (1, None, "Z", 3),  # null ts excluded before the lag
        (None, t, "W", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out = {
        (r.from_type, r.to_type)
        for r in event_transitions(
            df, "user_id", "ts", "event_type", tiebreak="event_id"
        ).collect()
    }
    assert out == {("Y", "X")}


def test_seasonal_outliers_flags_cell_extreme(spark):
    from component_delta_lake_writer_spark.operators.timeseries import (
        seasonal_outliers,
    )

    # Monday hour 0: [0,0,0,0,100] -> mean 20, sd 40, z(100)=2.0;
    # Sunday hour 23: constant -> sd=0 guard, no flags
    mon = dt.datetime(2026, 1, 5, 0)
    sun = dt.datetime(2026, 1, 4, 23)
    rows = [(mon, 0.0, i) for i in range(4)] + [
        (mon, 100.0, 4),
        (sun, 5.0, 5),
        (sun, 5.0, 6),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double, id long")
    out = seasonal_outliers(df, "ts", "value", "id", z=1.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.dow_iso, r.hour, r.id, r.value, r.zscore) == (
        1, 0, 4, 100.0, 2.0,
    )


@pytest.mark.slow
def test_bfs_distances_path_graph(spark):
    from component_delta_lake_writer_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {
        r.node: r.dist
        for r in bfs_distances(edges, [1], max_hops=2).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2}


def test_bfs_distances_multi_source_min(spark):
    from component_delta_lake_writer_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {
        r.node: r.dist
        for r in bfs_distances(edges, [1, 5], max_hops=2).collect()
    }
    # node 3 is 2 hops from both seeds; first-seen assigns 2 once
    assert out == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


@pytest.mark.slow
def test_stream_anomaly_monitor_scores_and_replays(spark, tmp_path):
    """One drained batch must land exactly the hand-computed monitor
    row: unmatched groups and sd=0 groups count as unscored (visible,
    not dropped), and re-starting from the same checkpoint appends
    nothing."""
    from component_delta_lake_writer_spark.sinks.managed_table import (
        ManagedTable,
    )
    from component_delta_lake_writer_spark.streaming.sink import (
        stream_anomaly_monitor,
    )

    ref = spark.createDataFrame(
        [("a", 0.0)] * 4 + [("a", 10.0), ("b", 5.0), ("b", 5.0)],
        "g string, v double",
    )  # group a: mean 2 sd 4; group b: sd 0
    feed_rows = [("a", 2.0), ("a", 50.0), ("b", 999.0), ("c", 1.0)]
    feed_dir = str(tmp_path / "feed")
    spark.createDataFrame(feed_rows, "g string, v double").write.parquet(
        feed_dir
    )

    def drain():
        stream = (
            spark.readStream.schema("g string, v double")
            .format("parquet")
            .load(feed_dir)
        )
        q = stream_anomaly_monitor(
            stream, ref, "v", "g", monitor, z=3.0,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()

    monitor = ManagedTable(spark, str(tmp_path / "monitor"))
    drain()
    rows = monitor.read().collect()
    assert len(rows) == 1
    r = rows[0]
    # a:2.0 -> z 0; a:50.0 -> z 12 flagged; b sd=0 unscored; c no group
    assert (r.n_rows, r.n_scored, r.n_flagged) == (4, 2, 1)
    assert r.max_abs_z == 12.0
    drain()  # same checkpoint, no new files: nothing may append
    assert monitor.read().count() == 1


def test_zipf_slope_fit_and_degenerate(spark):
    import math

    from component_delta_lake_writer_spark.operators.text import (
        zipf_slope,
    )

    counts = {"a": 16, "b": 8, "c": 4, "d": 2}
    rows = [(t,) for t, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "token string")
    r = zipf_slope(df, "token", top_n=200).collect()[0]
    assert r.n_ranked == 4
    assert r.vocab_size == 4
    assert r.total_tokens == 30
    # closed-form least squares over (ln rank, ln count)
    xs = [round(math.log(i), 9) for i in (1, 2, 3, 4)]
    ys = [round(math.log(c), 9) for c in (16, 8, 4, 2)]
    n, sx, sy = 4, sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(r.slope - slope) < 1e-5
    assert abs(r.intercept - (sy - slope * sx) / n) < 1e-5
    assert r.slope < -0.8  # geometric counts: steep, Zipf-like

    single = spark.createDataFrame([("a",), ("a",)], "token string")
    d = zipf_slope(single, "token").collect()[0]
    assert d.n_ranked == 1 and d.slope is None and d.intercept is None


def test_classification_report_exact(spark):
    from component_delta_lake_writer_spark.operators.dq import (
        classification_report,
    )

    pairs = [
        ("en", "en"), ("en", "en"), ("en", "de"),
        ("de", "de"),
        ("fr", "en"),  # fr never predicted correctly
        (None, "en"), ("zz", None),  # null rows excluded
    ]
    df = spark.createDataFrame(pairs, "label string, pred string")
    out = {
        r["class"]: r
        for r in classification_report(df, "label", "pred").collect()
    }
    assert set(out) == {"en", "de", "fr"}
    en = out["en"]
    assert (en.n_true, en.n_pred, en.tp) == (3, 3, 2)
    assert en.precision == round(2 / 3, 6)
    assert en.recall == round(2 / 3, 6)
    p = round(2 / 3, 6)
    assert en.f1 == round(2 * p * p / (p + p), 6)
    fr = out["fr"]
    # fr: predicted never -> n_pred 0, precision NULL; recall 0
    assert (fr.n_true, fr.n_pred, fr.tp) == (1, 0, 0)
    assert fr.precision is None
    assert fr.recall == 0.0
    assert fr.f1 is None  # precision NULL -> sum NULL -> no f1
    de = out["de"]
    assert de.precision == 0.5 and de.recall == 1.0  # 1 tp, 2 pred


def test_classification_report_never_true_class(spark):
    """A class that appears only in predictions still gets a row
    (precision 0-ish, recall NULL)."""
    from component_delta_lake_writer_spark.operators.dq import (
        classification_report,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("a", "a")], "label string, pred string"
    )
    out = {
        r["class"]: r
        for r in classification_report(df, "label", "pred").collect()
    }
    b = out["b"]
    assert (b.n_true, b.n_pred, b.tp) == (0, 1, 0)
    assert b.precision == 0.0
    assert b.recall is None


def test_rank_eval_exact(spark):
    from component_delta_lake_writer_spark.operators.retrieval import (
        rank_eval,
    )

    # q1: relevant {d2, d9}; d2 at rank 2 -> rr 0.5, recall@3 = 1/2
    # q2: relevant {d1}; d1 at rank 1 -> rr 1, recall 1
    # q3: relevant {d7}; d7 at rank 5 (> k) -> rr 0, recall 0
    # q4: no judgments -> excluded entirely
    results = spark.createDataFrame(
        [
            ("q1", "d5", 1), ("q1", "d2", 2), ("q1", "d3", 3),
            ("q2", "d1", 1), ("q2", "d4", 2),
            ("q3", "d0", 1), ("q3", "d7", 5),
            ("q4", "d8", 1),
        ],
        "q string, d string, r int",
    )
    qrels = spark.createDataFrame(
        [("q1", "d2"), ("q1", "d9"), ("q2", "d1"), ("q3", "d7")],
        "q string, d string",
    )
    r = rank_eval(results, qrels, "q", "d", "r", k=3).collect()[0]
    assert r.n_queries == 3
    assert r.mrr == round((0.5 + 1.0 + 0.0) / 3, 6)
    assert r.recall_at_k == round((0.5 + 1.0 + 0.0) / 3, 6)


@pytest.mark.slow
def test_hits_two_iterations_hand_graph(spark):
    """1->3, 2->3, 2->4, 3->4: node 2 is the hub (points at both
    authorities), 3 and 4 tie as authorities; exact max-normalized
    scores after two full iterations."""
    from component_delta_lake_writer_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    out = {
        r.node: (r.authority, r.hub)
        for r in hits(edges, iterations=2).collect()
    }
    assert out == {
        1: (0.0, 0.5),
        2: (0.0, 1.0),
        3: (1.0, 0.5),
        4: (1.0, 0.0),
    }


def test_partition_advisor_verdicts(spark):
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.skew import (
        partition_advisor,
    )

    rows = [(i, "a" if i % 4 else "b", str(i % 3), None if i % 5 == 0
             else "x") for i in range(100)]
    df = spark.createDataFrame(
        rows, "id long, skew string, ok string, nullable string"
    )
    out = {
        r["column"]: r
        for r in partition_advisor(
            df,
            ["id", "skew", "ok", "nullable"],
            max_values=50,
            max_top_share=0.5,
            min_rows_per_value=5.0,
        ).collect()
    }
    assert out["id"].verdict == "too_many_values"  # 100 > 50
    sk = out["skew"]
    assert sk.verdict == "skewed"  # 'a' holds 75%
    assert sk.top_share == 0.75
    assert out["ok"].verdict == "ok"
    nl = out["nullable"]
    assert nl.verdict == "single_value"  # only 'x' besides NULLs
    assert nl.n_nulls == 20
    const = partition_advisor(
        df.select(F.lit(None).cast("string").alias("allnull")),
        ["allnull"],
    ).collect()[0]
    assert const.verdict == "no_values"
    assert const.avg_rows_per_value is None


def test_event_path_trigrams_exact(spark):
    from component_delta_lake_writer_spark.operators.sessions import (
        event_path_trigrams,
    )

    rows = [
        (1, _ts(1, 0), "A", 1), (1, _ts(1, 1), "B", 2),
        (1, _ts(1, 2), "C", 3), (1, _ts(1, 3), "B", 4),
        (2, _ts(1, 0), "A", 5), (2, _ts(1, 1), "B", 6),
        (2, _ts(1, 2), "C", 7),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out = {
        (r.step1, r.step2, r.step3): r
        for r in event_path_trigrams(
            df, "user_id", "ts", "event_type", tiebreak="event_id"
        ).collect()
    }
    # user1: A-B-C, B-C-B; user2: A-B-C -> ABC x2, BCB x1
    assert set(out) == {("A", "B", "C"), ("B", "C", "B")}
    abc = out[("A", "B", "C")]
    assert abc.n_paths == 2
    assert abc.share == round(2 / 3, 6)


@pytest.mark.slow
def test_quantile_normalize_step_mapping(spark):
    from component_delta_lake_writer_spark.operators.features import (
        quantile_normalize,
    )

    a = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    ref = spark.createDataFrame(
        [(i, 100.0 * i) for i in range(1, 6)], "rid long, rv double"
    )
    out = {
        r.id: r
        for r in quantile_normalize(
            a, "v", "id", ref, "rv", "rid", anchors=3
        ).collect()
    }
    # anchor ranks {0,2,4} -> prs {0,0.5,1} -> values {100,300,500}
    assert out[1].pr == 0.0 and out[1].normalized == 100.0
    assert out[2].pr == 0.5 and out[2].normalized == 300.0
    assert out[3].pr == 1.0 and out[3].normalized == 500.0


def test_quantile_normalize_single_row_and_nulls(spark):
    from component_delta_lake_writer_spark.operators.features import (
        quantile_normalize,
    )

    a = spark.createDataFrame(
        [(1, 42.0), (2, None)], "id long, v double"
    )
    ref = spark.createDataFrame(
        [(1, 7.0), (2, 9.0)], "rid long, rv double"
    )
    rows = quantile_normalize(
        a, "v", "id", ref, "rv", "rid", anchors=2
    ).collect()
    assert len(rows) == 1  # the NULL-valued row has no quantile
    assert rows[0].pr == 0.0 and rows[0].normalized == 7.0


def test_two_proportion_ztest_exact(spark):
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        two_proportion_ztest,
    )

    # arm a: 2/4 convert; arm b: 4/5 convert
    rows = [("a", 1), ("a", 1), ("a", 0), ("a", 0),
            ("b", 1), ("b", 1), ("b", 1), ("b", 1), ("b", 0)]
    df = spark.createDataFrame(rows, "grp string, succ int")
    r = two_proportion_ztest(df, "grp", "succ").collect()[0]
    assert (r.group_a, r.n_a, r.conv_a) == ("a", 4, 2)
    assert (r.group_b, r.n_b, r.conv_b) == ("b", 5, 4)
    ra, rb = 0.5, 0.8
    pp = 6 / 9
    z = (rb - ra) / math.sqrt(pp * (1 - pp) * (1 / 4 + 1 / 5))
    assert abs(r.z - z) < 1e-5
    assert r.abs_lift == round(rb - ra, 6)
    assert r.significant == 0  # |z| ~ 0.95 < 1.96


def test_two_proportion_ztest_guards(spark):

    from component_delta_lake_writer_spark.errors import UserException
    from component_delta_lake_writer_spark.operators.experiments import (
        two_proportion_ztest,
    )

    # degenerate pooled rate (all failures): z undefined, not NaN
    rows = [("a", 0), ("a", 0), ("b", 0)]
    df = spark.createDataFrame(rows, "grp string, succ int")
    r = two_proportion_ztest(df, "grp", "succ").collect()[0]
    assert r.z is None and r.significant == 0

    three = spark.createDataFrame(
        [("a", 1), ("b", 0), ("c", 1)], "grp string, succ int"
    )
    with pytest.raises(UserException):
        two_proportion_ztest(three, "grp", "succ")


def test_forecast_backtest_perfect_seasonality(spark):
    """A perfectly weekly-periodic series backtests to MAE 0; an
    unseen test cell shows up in n_test_hours - n_scored."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        forecast_backtest,
    )

    rows = []
    # 2026-01-05 is a Monday; hours 0 and 1, value = 10*(hod+1),
    # repeated for 3 Mondays (train) + a 4th Monday (test)
    for week in range(4):
        day = 5 + 7 * week
        for hod in (0, 1):
            rows.append(
                (dt.datetime(2026, 1, day, hod), 10.0 * (hod + 1))
            )
    # test-only cell: a Tuesday hour that never occurs in training
    rows.append((dt.datetime(2026, 1, 27, 3), 99.0))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = forecast_backtest(
        df, "ts", "value", "2026-01-26 00:00:00"
    ).collect()[0]
    assert r.n_test_hours == 3
    assert r.n_scored == 2
    assert r.mae == 0.0
    assert r.mape == 0.0


def test_chi2_independence_folds_zero_cells(spark):
    from component_delta_lake_writer_spark.operators.experiments import (
        chi2_independence,
    )

    # 2x2 with the (b, y) cell EMPTY: the analytic fold must still
    # price it (chi2 = 25/15 + 5 + 25/15 + 5 = 13.333333)
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 10 + [("b", "x")] * 20
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    assert (r.n_rows, r.n_levels_a, r.n_levels_b, r.dof) == (
        40, 2, 2, 1,
    )
    assert r.chi2 == round(25 / 15 + 5 + 25 / 15 + 5, 6)

    single = spark.createDataFrame(
        [("a", "x"), ("a", "y")], "a string, b string"
    )
    d = chi2_independence(single, "a", "b").collect()[0]
    assert d.dof == 0 and d.chi2 is None


def test_km_survival_hand_curve(spark):
    from component_delta_lake_writer_spark.operators.sessions import (
        km_survival,
    )

    def ev(uid, day):
        return (uid, dt.datetime(2026, 1, day, 12))

    rows = [
        ev(1, 10), ev(1, 11),   # t=1, dead
        ev(2, 10), ev(2, 12),   # t=2, dead
        ev(3, 28), ev(3, 30),   # t=2, censored (last = corpus end)
        ev(4, 5), ev(4, 10),    # t=5, dead
        ev(5, 29),              # t=0, censored (within 2d of end)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        r.t_days: r
        for r in km_survival(df, "user_id", "ts", censor_days=2)
        .collect()
    }
    assert set(out) == {1, 2, 5}  # t=0 is censor-only, no row
    assert (out[1].n_at_risk, out[1].n_deaths, out[1].n_censored) == (
        4, 1, 0,
    )
    assert out[1].survival == 0.75
    assert (out[2].n_at_risk, out[2].n_censored) == (3, 1)
    assert out[2].survival == 0.5
    # final time: everyone remaining dies -> exactly 0, not exp(-inf)
    assert (out[5].n_at_risk, out[5].survival) == (1, 0.0)


def test_mann_whitney_exact_with_ties(spark):
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        mann_whitney_u,
    )

    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    r = mann_whitney_u(df, "grp", "v").collect()[0]
    assert (r.group_a, r.n_a, r.group_b, r.n_b) == ("a", 3, "b", 2)
    # midranks: 1 -> 1; 2 -> 3 (ranks 2,3,4); 3 -> 5
    # R_a = 1 + 2*3 = 7 ; U_a = 7 - 3*4/2 = 1 ; U_b = 6 - 1 = 5
    assert r.u_a == 1.0 and r.u_b == 5.0
    ties = 3**3 - 3
    var = (3 * 2 / 12) * ((5 + 1) - ties / (5 * 4))
    z = (1.0 - 3.0) / math.sqrt(var)
    assert abs(r.z - z) < 1e-5
    assert r.significant == 0


def test_mann_whitney_all_tied_degenerate(spark):
    from component_delta_lake_writer_spark.operators.experiments import (
        mann_whitney_u,
    )

    rows = [("a", 5.0), ("a", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    r = mann_whitney_u(df, "grp", "v").collect()[0]
    assert r.z is None and r.significant == 0


@pytest.mark.slow
def test_gini_known_values(spark):
    from component_delta_lake_writer_spark.operators.features import (
        gini_coefficient,
    )

    # perfectly even: G = 0
    even = spark.createDataFrame(
        [(i, 5.0) for i in range(4)], "id long, v double"
    )
    r = gini_coefficient(even, "v", "id").collect()[0]
    assert (r.n_rows, r.total, r.gini) == (4, 20.0, 0.0)

    # one unit holds everything: G = (n-1)/n = 0.75
    conc = spark.createDataFrame(
        [(0, 0.0), (1, 0.0), (2, 0.0), (3, 100.0)],
        "id long, v double",
    )
    r = gini_coefficient(conc, "v", "id").collect()[0]
    assert r.gini == 0.75

    # degenerate: single row / zero total -> NULL
    one = spark.createDataFrame([(0, 9.0)], "id long, v double")
    assert gini_coefficient(one, "v", "id").collect()[0].gini is None
    zero = spark.createDataFrame(
        [(0, 0.0), (1, 0.0)], "id long, v double"
    )
    assert gini_coefficient(zero, "v", "id").collect()[0].gini is None


def test_basket_lift_refuses_pathological_basket(spark):
    """max_basket_size is enforced, not advisory (r10 verdict): an
    oversized basket raises at action time naming the basket key,
    before the pair generator would expand C(size, 2) structs."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.affinity import (
        basket_lift,
    )

    df = spark.range(50).select(
        F.lit("big").alias("basket"), F.col("id").alias("item")
    )
    with pytest.raises(Exception, match="max_basket_size.*big"):
        basket_lift(
            df, "basket", "item", k=5, max_basket_size=10
        ).collect()
    # at the boundary (size == cap) it runs
    out = basket_lift(
        df, "basket", "item", k=5, max_basket_size=50
    ).collect()
    assert len(out) == 5 and out[0].n_pair == 1


def test_gini_refuses_term_cast_overflow_values(spark):
    """|x| >= 1e12 overflows the decimal(18,6) rank-product term
    cast.  Under ANSI (the engine session default) the cast itself
    raises; under non-ANSI the raise_error guard on max|x| fires —
    either way the refusal is LOUD, never a silently-dropped term
    (documented headroom contract)."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.features import (
        gini_coefficient,
    )

    bad = spark.range(3).select(
        F.col("id"), (F.col("id") + 1).cast("double") * 1e12
    ).toDF("id", "x")
    with pytest.raises(Exception, match=r"1e12|Decimal\(18"):
        gini_coefficient(bad, "x", "id").collect()
    # just inside the documented bound it computes normally
    ok = spark.range(3).select(
        F.col("id"), ((F.col("id") + 1) * 1e11).cast("double")
    ).toDF("id", "x")
    r = gini_coefficient(ok, "x", "id").collect()[0]
    # x = (1e11, 2e11, 3e11): G = 2*(1+4+9)*1e11/(3*6e11) - 4/3
    assert r.gini == round(2 * 14 / 18 - 4 / 3, 6)


def test_chi2_independence_empty_input_raises(spark):
    """Zero non-null (a, b) pairs raises like the z-test's arm check
    instead of returning one all-NULL row (r10 advice: the SQL twin
    returns zero rows — a latent cross-engine divergence)."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.errors import UserException
    from component_delta_lake_writer_spark.operators.experiments import (
        chi2_independence,
    )

    empty = spark.range(5).select(
        F.lit(None).cast("string").alias("a"),
        F.lit("x").alias("b"),
    )
    with pytest.raises(UserException, match="non-null"):
        chi2_independence(empty, "a", "b")


def test_bfs_distances_string_node_ids(spark):
    """Seed schema derives from the edge column type (r10 advice:
    int(s) hardcoding broke string node ids)."""
    from component_delta_lake_writer_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, ["a"], max_hops=2).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2}


def test_bfs_distances_releases_cached_blocks(spark):
    """The walk unpersists every block it pinned (r10 advice:
    repeated calls accumulated executor storage)."""
    from component_delta_lake_writer_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    before = len(
        [
            r
            for r in spark.sparkContext._jsc.sc()
            .getRDDStorageInfo()
        ]
    )
    bfs_distances(edges, [1], max_hops=2).collect()
    after = len(
        [
            r
            for r in spark.sparkContext._jsc.sc()
            .getRDDStorageInfo()
        ]
    )
    assert after <= before + 1  # only the localCheckpoint result may remain


def test_global_value_rank_empty_input_schema(spark):
    """Empty-input branch returns the SAME schema as the ranked
    branch — no internal __pid column (r10 advice)."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.features import (
        global_value_rank,
        global_weighted_cumsum,
    )

    base = spark.range(3).select(
        F.col("id"), F.col("id").cast("double").alias("x")
    )
    empty = base.filter(F.lit(False))
    ranked_full, n_full = global_value_rank(base, "x", "id")
    ranked_empty, n_empty = global_value_rank(empty, "x", "id")
    assert n_full == 3 and n_empty == 0
    assert ranked_empty.columns == ranked_full.columns
    assert "__pid" not in ranked_empty.columns
    w_full = global_weighted_cumsum(
        base.select(F.col("x").alias("v"), F.lit(1).alias("w")), "v", "w"
    )
    w_empty = global_weighted_cumsum(
        empty.select(F.col("x").alias("v"), F.lit(1).alias("w")), "v", "w"
    )
    assert w_empty.columns == w_full.columns


def test_ab_bootstrap_ci_properties(spark):
    """Hash-deterministic bootstrap CI: reproducible across calls,
    brackets the observed lift on a clearly-separated fixture, and
    declares significance exactly when the CI excludes 0."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.experiments import (
        ab_bootstrap_ci,
    )

    # arm 0: 10% conversion, arm 1: 90% — 200 users
    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("g"),
        F.when(F.col("id") % 2 == 0, (F.col("id") % 10 == 0))
        .otherwise(F.col("id") % 10 != 1)
        .cast("int")
        .alias("x"),
    )
    a = ab_bootstrap_ci(df, "g", "x", "id").collect()[0]
    b = ab_bootstrap_ci(df, "g", "x", "id").collect()[0]
    assert tuple(a) == tuple(b)  # same hash draws, same CI
    assert a.n_replicates == 200
    assert a.ci_lo <= a.lift <= a.ci_hi
    assert a.ci_lo > 0 and a.significant == 1
    assert a.lift == 0.6  # 20/100 even-arm vs 80/100 odd-arm


def test_ab_bootstrap_ci_validation(spark):
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.errors import UserException
    from component_delta_lake_writer_spark.operators.experiments import (
        ab_bootstrap_ci,
    )

    df = spark.range(10).select(
        F.col("id"), F.lit("only").alias("g"), F.lit(1).alias("x")
    )
    with pytest.raises(UserException, match="exactly 2 arms"):
        ab_bootstrap_ci(df, "g", "x", "id")
    with pytest.raises(ValueError, match="b_replicates"):
        ab_bootstrap_ci(df, "g", "x", "id", b_replicates=2)


@pytest.mark.slow
def test_spearman_hand_values(spark):
    """Perfect monotone with ties -> rho 1; reversed -> -1; constant
    column -> NULL (zero rank variance)."""
    from component_delta_lake_writer_spark.operators.experiments import (
        spearman_corr,
    )

    up = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)],
        "x double, y double",
    )
    assert spearman_corr(up, "x", "y").collect()[0].rho == 1.0
    down = spark.createDataFrame(
        [(1.0, 40.0), (2.0, 20.0), (2.0, 20.0), (3.0, 10.0)],
        "x double, y double",
    )
    assert spearman_corr(down, "x", "y").collect()[0].rho == -1.0
    const = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "x double, y double"
    )
    r = spearman_corr(const, "x", "y").collect()[0]
    assert r.n_rows == 2 and r.rho is None


def test_ks_test_hand_values(spark):
    """a=[1,2,3,4] vs b=[3,4,5,6]: max CDF gap 0.5 at v=2 (and v=4)."""
    from component_delta_lake_writer_spark.operators.experiments import (
        ks_test_2sample,
    )

    rows = [("a", v) for v in (1, 2, 3, 4)] + [
        ("b", v) for v in (3, 4, 5, 6)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ks_test_2sample(df, "g", "v").collect()[0]
    assert (r.n_a, r.n_b) == (4, 4)
    assert r.d_stat == 0.5
    # critical at n=4,4: 1.358102*sqrt(8/16) = 0.960322 > 0.5
    assert r.significant == 0


def test_welch_ttest_hand_values(spark):
    """a=[1,2,3], b=[2,4,6]: t = 2/sqrt(5/3), Welch dof ~2.94."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        welch_ttest,
    )

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0),
            ("b", 4.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_ttest(df, "g", "v").collect()[0]
    assert r.mean_a == 2.0 and r.mean_b == 4.0 and r.mean_diff == 2.0
    se2 = 1 / 3 + 4 / 3
    assert r.t == round(2 / math.sqrt(se2), 6)
    dof = se2 * se2 / ((1 / 3) ** 2 / 2 + (4 / 3) ** 2 / 2)
    assert r.dof == round(dof, 2)
    assert r.significant == 0  # |t| 1.549 < 1.96


def test_anova_hand_values(spark):
    """g1=[1,2,3], g2=[4,5,6]: SSB 13.5, SSW 4, F 13.5 — exact with
    the floored scale-0 grand sums (all inputs integral)."""
    from component_delta_lake_writer_spark.operators.experiments import (
        anova_oneway,
    )

    rows = [("g1", 1.0), ("g1", 2.0), ("g1", 3.0),
            ("g2", 4.0), ("g2", 5.0), ("g2", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_oneway(df, "g", "v").collect()[0]
    assert (r.k_groups, r.n_rows) == (2, 6)
    assert r.ss_between == 13.5
    assert r.ss_within == 4.0
    assert r.f == 13.5
    assert r.significant == 1  # 13.5 > F(1, inf) 1% = 6.63


def test_welch_anova_zero_variance_group_is_null(spark):
    """A group with zero variance must yield NULL statistics per the
    operator contract — not an ANSI DIVIDE_BY_ZERO: the n/s² weight is
    evaluated eagerly, before the `ok` gate, so it must be spelled
    try_divide (r13 regression pin for the hypothesis-found failure)."""
    from component_delta_lake_writer_spark.operators.experiments import (
        welch_anova,
    )

    rows = [("g1", 1.0), ("g1", 1.0), ("g2", 2.0), ("g2", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_anova(df, "g", "v").collect()[0]
    assert (r.k_groups, r.n_rows) == (2, 4)
    assert r.f_star is None and r.df2 is None
    assert r.significant == 0


def test_acf_hand_values(spark):
    """Alternating hourly counts 1,0,1,0,1,0: acf(1) = -5/6,
    acf(2) = +4/6 — gap hours count as zero (rows exist only for the
    1-count hours)."""
    import datetime as dtm

    from component_delta_lake_writer_spark.operators.timeseries import (
        acf_hourly,
    )

    # events only at hours 0, 2, 4 — hours 1, 3 must gap-fill to 0
    rows = [(dtm.datetime(2026, 1, 1, h, 30),) for h in (0, 2, 4)]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = {r.lag: r for r in acf_hourly(df, "ts", max_lag=2).collect()}
    # series over hours 0..4: [1,0,1,0,1]; ybar=0.6
    # den = 3*(0.4)^2 + 2*(0.6)^2 = 0.48+0.72 = 1.2
    # lag1: 4 pairs, each 0.4*-0.6 or -0.6*0.4 = -0.24 -> -0.96
    # lag2: 3 pairs, 0.4*0.4=0.16 or ... [1,0,1],[0,1]: pairs
    #   (1,1),(0,0),(1,1) -> 0.16+0.36+0.16 = 0.68
    assert out[1].n_pairs == 4 and out[2].n_pairs == 3
    assert out[1].acf == round(-0.96 / 1.2, 6)
    assert out[2].acf == round(0.68 / 1.2, 6)


def test_ndcg_hand_values(spark):
    """One query, graded rels d1=3 d2=1, result order d2 then d1:
    nDCG@2 = (1 + 7/log2(3)) / (7 + 1/log2(3))."""
    import math

    from component_delta_lake_writer_spark.operators.retrieval import (
        ndcg_at_k,
    )

    results = spark.createDataFrame(
        [(1, "d2", 1), (1, "d1", 2)], "q long, d string, r long"
    )
    qrels = spark.createDataFrame(
        [(1, "d1", 3), (1, "d2", 1), (1, "d3", 0)],
        "q long, d string, rel long",
    )
    r = ndcg_at_k(results, qrels, "q", "d", "r", "rel", k=2).collect()[0]
    dcg = round(1 / math.log2(2), 9) + round(7 / math.log2(3), 9)
    idcg = round(7 / math.log2(2), 9) + round(1 / math.log2(3), 9)
    assert r.n_queries == 1
    assert r.ndcg_at_k == round(round(dcg / idcg, 9), 6)


@pytest.mark.slow
def test_mann_whitney_ci_properties(spark):
    """Reproducible; CI brackets the observed rank-biserial effect on
    a clearly-separated fixture and excludes 0."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.experiments import (
        mann_whitney_ci,
    )

    # arm 1's values sit ~10 above arm 0's: near-total dominance
    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("g"),
        ((F.col("id") % 5) + F.when(F.col("id") % 2 == 1, 10)
         .otherwise(0)).cast("double").alias("v"),
    )
    a = mann_whitney_ci(df, "g", "v", "id", b_replicates=50).collect()[0]
    b = mann_whitney_ci(df, "g", "v", "id", b_replicates=50).collect()[0]
    assert tuple(a) == tuple(b)
    assert a.n_replicates == 50
    assert a.ci_lo <= a.r_obs <= a.ci_hi
    assert a.r_obs == 1.0  # total dominance: U_a = 0
    assert a.ci_lo > 0 and a.significant == 1


@pytest.mark.slow
def test_cohen_kappa_hand_values(spark):
    """Perfect agreement -> kappa 1; hand-computed mixed case."""
    from component_delta_lake_writer_spark.operators.experiments import (
        cohen_kappa,
    )

    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("x", "x")], "a string, b string"
    )
    assert cohen_kappa(perfect, "a", "b").collect()[0].kappa == 1.0
    # 2x2: cells xx=3, xy=1, yx=1, yy=5 (N=10)
    rows = [("x", "x")] * 3 + [("x", "y")] + [("y", "x")] + [
        ("y", "y")
    ] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    po = 8 / 10
    pe = (4 * 4 + 6 * 6) / 100
    assert r.po == po and r.pe == pe
    assert r.kappa == round((po - pe) / (1 - pe), 6)
    # degenerate: one shared class -> pe = 1 -> NULL kappa
    one = spark.createDataFrame([("x", "x")] * 4, "a string, b string")
    assert cohen_kappa(one, "a", "b").collect()[0].kappa is None


def test_cochran_armitage_hand_values(spark):
    """Perfect positive trend across 3 levels: z matches the closed
    form; a flat rate gives z ~ 0."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        cochran_armitage_trend,
    )

    # level 1: 0/10, level 2: 5/10, level 3: 10/10
    rows = (
        [(1, 0)] * 10 + [(2, 1)] * 5 + [(2, 0)] * 5 + [(3, 1)] * 10
    )
    df = spark.createDataFrame(rows, "x long, y long")
    r = cochran_armitage_trend(df, "x", "y").collect()[0]
    n_tot, p = 30, 0.5
    xs = 2 * 5 + 3 * 10          # Σ x·s = 40
    xn = 10 + 20 + 30            # Σ x·n = 60
    xxn = 10 + 40 + 90           # Σ x²·n = 140
    t = xs - p * xn
    var = p * (1 - p) * (xxn - xn * xn / n_tot)
    assert r.n_levels == 3
    assert r.z == round(t / math.sqrt(var), 6)
    assert r.significant == 1
    flat = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1), (2, 0), (3, 1), (3, 0)],
        "x long, y long",
    )
    assert cochran_armitage_trend(flat, "x", "y").collect()[0].z == 0.0


def test_calibration_report_hand_values(spark):
    """Scores land in the right bins, rates are exact, the 1.0 score
    folds into the top bin, out-of-range scores raise."""

    from component_delta_lake_writer_spark.operators.dq import (
        calibration_report,
    )

    rows = [(0.05, 0), (0.05, 1), (0.95, 1), (1.0, 1)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r.bin: r for r in calibration_report(df, "s", "y").collect()}
    assert set(out) == {0, 9}
    assert out[0].n == 2 and out[0].frac_positive == 0.5
    assert out[9].n == 2 and out[9].mean_score == 0.975
    brier = round(
        (0.05**2 + 0.95**2 + 0.05**2 + 0.0) / 4, 6
    )
    assert out[0].brier == brier
    bad = spark.createDataFrame([(1.5, 1)], "s double, y int")
    with pytest.raises(Exception, match="outside"):
        calibration_report(bad, "s", "y").collect()


def test_map_at_k_hand_values(spark):
    """One query, rels {d1, d3}, ranking d1(1) d2(2) d3(3), k=3:
    AP = (1/2)(1/1 + 2/3)."""
    from component_delta_lake_writer_spark.operators.retrieval import (
        map_at_k,
    )

    results = spark.createDataFrame(
        [(1, "d1", 1), (1, "d2", 2), (1, "d3", 3)],
        "q long, d string, r long",
    )
    qrels = spark.createDataFrame(
        [(1, "d1"), (1, "d3")], "q long, d string"
    )
    r = map_at_k(results, qrels, "q", "d", "r", k=3).collect()[0]
    ap = round((round(1 / 1, 9) + round(2 / 3, 9)) / 2, 9)
    assert r.n_queries == 1 and r.map_at_k == round(ap, 6)


def test_winsorize_hand_values(spark):
    """10 values 0..9 at p10/p90: bounds are the rank-exact order
    statistics v[((9*10)//100)=0]... use 20 rows for non-trivial
    clipping at lo=10/100 hi=90/100: k_lo=(19*10)//100=1, k_hi=17."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.features import (
        winsorize,
    )

    df = spark.range(20).select(
        F.col("id"), F.col("id").cast("double").alias("v")
    )
    out = {
        r.id: r.winsorized
        for r in winsorize(
            df, "v", "id", lo_num=10, lo_den=100,
            hi_num=90, hi_den=100,
        ).collect()
    }
    # k_lo = 1 -> bound 1.0; k_hi = 17 -> bound 17.0
    assert out[0] == 1.0 and out[1] == 1.0
    assert out[19] == 17.0 and out[18] == 17.0
    assert out[10] == 10.0  # interior untouched

    with pytest.raises(ValueError, match="lo fraction"):
        winsorize(df, "v", "id", lo_num=95, hi_num=90)


def test_theil_sen_hand_values(spark):
    """Counts 1,2,3,4 over four hours: every pairwise slope is 1 ->
    slope 1, trending +1; an outlier spike can't drag the median."""
    import datetime as dtm


    from component_delta_lake_writer_spark.operators.timeseries import (
        theil_sen_hourly,
    )

    rows = []
    for h, y in [(0, 1), (1, 2), (2, 3), (3, 4)]:
        rows += [(dtm.datetime(2026, 1, 1, h, 5),)] * y
    df = spark.createDataFrame(rows, "ts timestamp")
    r = theil_sen_hourly(df, "ts").collect()[0]
    assert (r.n_buckets, r.n_pairs) == (4, 6)
    assert r.slope_per_hour == 1.0 and r.trending == 1
    # outlier: hour 1 spikes to 100 events; median slope stays small
    rows2 = []
    for h, y in [(0, 2), (1, 100), (2, 3), (3, 4)]:
        rows2 += [(dtm.datetime(2026, 1, 1, h, 5),)] * y
    df2 = spark.createDataFrame(rows2, "ts timestamp")
    r2 = theil_sen_hourly(df2, "ts").collect()[0]
    assert abs(r2.slope_per_hour) < 2  # LS slope would be ~ -13
    # span guard: two buckets a year apart refuse loudly
    sparse = spark.createDataFrame(
        [(dtm.datetime(2026, 1, 1, 0),), (dtm.datetime(2026, 12, 1, 0),)],
        "ts timestamp",
    )
    with pytest.raises(ValueError, match="gap-filled series spans"):
        theil_sen_hourly(sparse, "ts")


@pytest.mark.slow
def test_bradley_terry_orders_and_symmetry(spark):
    """A beats B twice, B beats C once -> strict strength order
    A > B > C; a perfectly symmetric rivalry fits equal strengths
    with the id tiebreak ranking."""
    from component_delta_lake_writer_spark.operators.experiments import (
        bradley_terry,
    )

    cmp = spark.createDataFrame(
        [("A", "B"), ("A", "B"), ("B", "C")], "w string, l string"
    )
    rows = {r.item: r for r in bradley_terry(cmp, "w", "l").collect()}
    assert rows["A"].strength > rows["B"].strength > rows["C"].strength
    assert (rows["A"].rank, rows["B"].rank, rows["C"].rank) == (1, 2, 3)
    assert rows["A"].n_games == 2 and rows["A"].n_wins == 2
    assert rows["C"].n_wins == 0

    sym = spark.createDataFrame(
        [("A", "B"), ("B", "A")], "w string, l string"
    )
    r = {x.item: x for x in bradley_terry(sym, "w", "l").collect()}
    assert r["A"].strength == r["B"].strength == 1.0
    assert r["A"].rank == 1 and r["B"].rank == 2  # id tiebreak


@pytest.mark.slow
def test_benjamini_hochberg_hand_values(spark):
    """The textbook 6-test grid: q-values are the capped suffix-min
    of m*p/i and the reject set is exactly the step-up set; tied
    p-values share one q; out-of-range inputs refuse loudly."""

    from component_delta_lake_writer_spark.operators.experiments import (
        benjamini_hochberg,
    )

    rows = [
        ("t1", 0.01), ("t2", 0.04), ("t3", 0.03),
        ("t4", 0.005), ("t5", 0.8), ("t6", 0.5),
    ]
    df = spark.createDataFrame(rows, "t string, p double")
    out = {r.test_id: r for r in
           benjamini_hochberg(df, "t", "p").collect()}
    # sorted p: .005 .01 .03 .04 .5 .8 -> s = m*p/i:
    # .03 .03 .06 .06 .6 .8 -> suffix-min q: .03 .03 .06 .06 .6 .8
    assert out["t4"].p_rank == 1 and out["t4"].q_value == 0.03
    assert out["t1"].p_rank == 2 and out["t1"].q_value == 0.03
    assert out["t3"].q_value == 0.06 and out["t2"].q_value == 0.06
    assert out["t6"].q_value == 0.6 and out["t5"].q_value == 0.8
    assert [k for k in out if out[k].reject == 1] == ["t1", "t4"] or {
        k for k in out if out[k].reject == 1
    } == {"t1", "t4"}
    # tied p-values share the q the suffix-min propagates back
    ties = spark.createDataFrame(
        [("a", 0.02), ("b", 0.02), ("c", 0.9)], "t string, p double"
    )
    tq = {r.test_id: r.q_value for r in
          benjamini_hochberg(ties, "t", "p").collect()}
    assert tq["a"] == tq["b"] == 0.03  # min(3*.02/1, 3*.02/2) = .03
    # near-1 p-values: the suffix-min always includes rank m where
    # s_m = m*p_m/m = p_m <= 1, so q can never exceed 1 (the LEAST
    # cap is belt-and-braces, not load-bearing) — here q = p_max
    # propagates back over the smaller rank's larger s = 2*.98
    high = spark.createDataFrame(
        [("a", 0.99), ("b", 0.98)], "t string, p double"
    )
    hq = {r.test_id: r.q_value for r in
          benjamini_hochberg(high, "t", "p").collect()}
    assert hq["a"] == 0.99 and hq["b"] == 0.99
    with pytest.raises(Exception, match="alpha"):
        benjamini_hochberg(df, "t", "p", alpha=1.5)
    bad = spark.createDataFrame([("x", 1.2)], "t string, p double")
    # raises at action time inside the ranking pass (the eager pin
    # is the first action) - no second validation scan
    with pytest.raises(Exception, match="p-value outside"):
        benjamini_hochberg(bad, "t", "p")
    # empty input: schema stable, zero rows
    empty = spark.createDataFrame([], "t string, p double")
    e = benjamini_hochberg(empty, "t", "p")
    assert e.count() == 0
    assert e.columns == [
        "test_id", "p_value", "p_rank", "q_value", "reject"
    ]


def test_logrank_hand_values(spark):
    """Six users, two arms, deaths at t=1,2 (arm 0) and t=1,3
    (arm 1), one censored user per arm at the horizon: O/E/Var match
    the hand-folded hypergeometric terms; !=2 arms refuse."""
    import datetime as dtm
    import math


    from component_delta_lake_writer_spark.operators.sessions import (
        logrank_test,
    )

    d0 = dtm.datetime(2026, 1, 1, 12, 0)

    def user(uid, arm, last_day):
        return [
            (uid, arm, d0),
            (uid, arm, d0 + dtm.timedelta(days=last_day)),
        ]

    rows = (
        user("u1", "0", 1) + user("u2", "0", 2) + user("u3", "0", 5)
        + user("v1", "1", 1) + user("v2", "1", 3)
        + user("v3", "1", 5)
    )
    df = spark.createDataFrame(rows, "u string, arm string, ts timestamp")
    r = logrank_test(df, "u", "ts", "arm", censor_days=1).collect()[0]
    assert (r.arm_a, r.arm_b) == ("0", "1")
    assert (r.n_users_a, r.n_users_b) == (3, 3)
    # death times 1, 2, 3 (u3/v3 censored at the day-5 horizon)
    assert r.n_times == 3 and r.o_a == 2
    # t=1: d=2 n=6 na=3 -> E=1.0   V=2*.5*.5*(4/5)=0.4
    # t=2: d=1 n=4 na=2 -> E=0.5   V=1*.5*.5*(3/3)=0.25
    # t=3: d=1 n=3 na=1 -> E=1/3   V=1*(1/3)*(2/3)*(2/2)=2/9
    e = 1.0 + 0.5 + round(1.0 * 1 / 3, 9)
    v = 0.4 + 0.25 + round(1.0 * 1 / 3 * 2 / 3, 9)
    assert r.e_a == round(e, 6)
    assert r.z == round((2 - e) / math.sqrt(v), 6)
    assert r.chi2 == round(r.z * r.z, 6)
    assert r.significant == 0
    one_arm = df.filter(F.col("arm") == "0")
    with pytest.raises(Exception, match="exactly 2 arms"):
        logrank_test(one_arm, "u", "ts", "arm", censor_days=1)


@pytest.mark.slow
def test_bradley_terry_broadcast_crossover(spark):
    """broadcast_scores=False (the billion-item shuffle-join
    spelling) fits bit-identical strengths to the broadcast default
    — the flag changes only the join strategy hint."""
    from component_delta_lake_writer_spark.operators.experiments import (
        bradley_terry,
    )

    cmp = spark.createDataFrame(
        [("A", "B"), ("A", "B"), ("B", "C"), ("C", "A"), ("B", "C")],
        "w string, l string",
    )
    a = sorted(
        bradley_terry(cmp, "w", "l").collect(),
        key=lambda r: r.item,
    )
    b = sorted(
        bradley_terry(
            cmp, "w", "l", broadcast_scores=False
        ).collect(),
        key=lambda r: r.item,
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def _brute_cox(lifetimes, iterations):
    """Reference two-arm Cox fit mirroring the operator's rounding:
    lifetimes = [(arm, t, censored)], x=1 on the larger arm label.
    Returns (n_times, o_b, beta, se) with beta/se at 9dp."""
    import math
    from decimal import Decimal

    arm_a, arm_b = sorted({a for a, _, _ in lifetimes})
    death_times = sorted({t for _, t, cen in lifetimes if not cen})
    rows = []
    for t in death_times:
        n0 = sum(1 for a, lt, _ in lifetimes if a == arm_a and lt >= t)
        n1 = sum(1 for a, lt, _ in lifetimes if a == arm_b and lt >= t)
        d = sum(1 for _, lt, cen in lifetimes if lt == t and not cen)
        d1 = sum(
            1 for a, lt, cen in lifetimes
            if a == arm_b and lt == t and not cen
        )
        rows.append((d, d1, n0, n1))
    o = sum(d1 for _, d1, _, _ in rows)

    def step(b):
        su = si = Decimal(0)
        for d, d1, n0, n1 in rows:
            r = round(n1 * math.exp(b) / (n0 + n1 * math.exp(b)), 9)
            su += Decimal(repr(round(d * r, 9)))
            si += Decimal(repr(round(d * r * (1.0 - r), 9)))
        return float(su), float(si)

    b = 0.0
    for _ in range(iterations):
        su, si = step(b)
        if not si > 0:
            return len(rows), o, None, None
        b = round(b + (o - su) / si, 9)
    _, si = step(b)
    se = round(1.0 / math.sqrt(si), 9) if si > 0 else None
    return len(rows), o, b, se


@pytest.mark.slow
def test_cox_ph_hand_values(spark):
    """The logrank hand fixture through Cox: beta/HR/se/CI match the
    brute Newton fold with identical rounding; beta=0 input (equal
    arms) fits HR=1; !=2 arms refuse."""
    import datetime as dtm
    import math


    from component_delta_lake_writer_spark.operators.sessions import (
        cox_ph_two_arm,
    )

    d0 = dtm.datetime(2026, 1, 1, 12, 0)

    def user(uid, arm, last_day):
        return [
            (uid, arm, d0),
            (uid, arm, d0 + dtm.timedelta(days=last_day)),
        ]

    rows = (
        user("u1", "0", 1) + user("u2", "0", 2) + user("u3", "0", 5)
        + user("v1", "1", 1) + user("v2", "1", 3)
        + user("v3", "1", 5)
    )
    df = spark.createDataFrame(rows, "u string, arm string, ts timestamp")
    r = cox_ph_two_arm(
        df, "u", "ts", "arm", censor_days=1, iterations=2
    ).collect()[0]
    lifetimes = [
        ("0", 1, False), ("0", 2, False), ("0", 5, True),
        ("1", 1, False), ("1", 3, False), ("1", 5, True),
    ]
    n_times, o, b, se = _brute_cox(lifetimes, iterations=2)
    assert (r.n_times, r.o_b) == (n_times, o)
    assert r.beta == round(b, 6)
    assert r.hazard_ratio == round(math.exp(b), 6)
    assert r.se == round(se, 6)
    assert r.ci_lo == round(math.exp(b - 1.959964 * se), 6)
    assert r.ci_hi == round(math.exp(b + 1.959964 * se), 6)
    # perfectly symmetric arms: beta = 0, HR = 1
    sym = (
        user("a1", "0", 1) + user("a2", "0", 3)
        + user("b1", "1", 1) + user("b2", "1", 3)
        + user("c1", "0", 5) + user("c2", "1", 5)
    )
    sdf = spark.createDataFrame(sym, "u string, arm string, ts timestamp")
    s = cox_ph_two_arm(
        sdf, "u", "ts", "arm", censor_days=1, iterations=2
    ).collect()[0]
    assert s.beta == 0.0 and s.hazard_ratio == 1.0
    assert s.significant == 0
    with pytest.raises(Exception, match="exactly 2 arms"):
        cox_ph_two_arm(
            sdf.filter(F.col("arm") == "0"), "u", "ts", "arm"
        )


@pytest.mark.slow
def test_gehan_wilcoxon_hand_values(spark):
    """The logrank hand fixture through the Gehan-Wilcoxon weights:
    U = Σ n_t(d_a − E_t) and V = Σ n_t²·Var_t match the brute fold
    with identical per-term rounding; equal arms give z = 0."""
    import datetime as dtm
    import math

    from component_delta_lake_writer_spark.operators.sessions import (
        gehan_wilcoxon_test,
    )

    d0 = dtm.datetime(2026, 1, 1, 12, 0)

    def user(uid, arm, last_day):
        return [
            (uid, arm, d0),
            (uid, arm, d0 + dtm.timedelta(days=last_day)),
        ]

    rows = (
        user("u1", "0", 1) + user("u2", "0", 2) + user("u3", "0", 5)
        + user("v1", "1", 1) + user("v2", "1", 3)
        + user("v3", "1", 5)
    )
    df = spark.createDataFrame(rows, "u string, arm string, ts timestamp")
    r = gehan_wilcoxon_test(
        df, "u", "ts", "arm", censor_days=1
    ).collect()[0]
    # grid: t=1 (d=2 n=6 na=3 da=1), t=2 (1,4,2,1), t=3 (1,3,1,0)
    u = v = 0.0
    for dt_, nt_, na_, da_ in [(2, 6, 3, 1), (1, 4, 2, 1), (1, 3, 1, 0)]:
        u += round(nt_ * (da_ - dt_ * na_ / nt_), 9)
        v += round(
            nt_ * nt_
            * (dt_ * na_ / nt_ * (nt_ - na_) / nt_
               * (nt_ - dt_) / (nt_ - 1.0)),
            9,
        )
    assert (r.n_times, r.n_users_a, r.n_users_b) == (3, 3, 3)
    assert r.w_diff == round(u, 6)
    assert r.z == round(u / math.sqrt(v), 6)
    assert r.chi2 == round(r.z * r.z, 6)
    # symmetric arms: every per-time (O-E) is 0 -> U = 0, z = 0
    sym = (
        user("a1", "0", 1) + user("a2", "0", 3)
        + user("b1", "1", 1) + user("b2", "1", 3)
        + user("c1", "0", 5) + user("c2", "1", 5)
    )
    sdf = spark.createDataFrame(sym, "u string, arm string, ts timestamp")
    s = gehan_wilcoxon_test(
        sdf, "u", "ts", "arm", censor_days=1
    ).collect()[0]
    assert s.w_diff == 0.0 and s.z == 0.0 and s.significant == 0


@pytest.mark.slow
def test_stratified_logrank_hand_values(spark):
    """Two identical strata of the logrank hand fixture: the pooled
    O/E/V are exactly 2x the single-stratum values, so z scales by
    sqrt(2) — and a confounded layout (arms swapped per stratum)
    pools to 0."""
    import datetime as dtm
    import math

    from component_delta_lake_writer_spark.operators.sessions import (
        stratified_logrank_test,
    )

    d0 = dtm.datetime(2026, 1, 1, 12, 0)

    def user(uid, arm, st, last_day):
        return [
            (uid, arm, st, d0),
            (uid, arm, st, d0 + dtm.timedelta(days=last_day)),
        ]

    base = [
        ("0", 1), ("0", 2), ("0", 5), ("1", 1), ("1", 3), ("1", 5)
    ]
    rows = []
    for st in ("s1", "s2"):
        for i, (arm, t) in enumerate(base):
            rows += user(f"{st}_u{i}", arm, st, t)
    df = spark.createDataFrame(
        rows, "u string, arm string, st string, ts timestamp"
    )
    r = stratified_logrank_test(
        df, "u", "ts", "arm", "st", censor_days=1
    ).collect()[0]
    # single-stratum hand fold (the logrank test's fixture):
    e1 = 1.0 + 0.5 + round(1.0 * 1 / 3, 9)
    v1 = 0.4 + 0.25 + round(1.0 * 1 / 3 * 2 / 3, 9)
    assert (r.n_strata, r.n_times) == (2, 6)
    assert (r.n_users_a, r.n_users_b) == (6, 6)
    assert r.o_a == 4 and r.e_a == round(2 * e1, 6)
    assert r.z == round((4 - 2 * e1) / math.sqrt(2 * v1), 6)
    # confounding check: swap the arms in stratum 2 -> the pooled
    # per-stratum (O-E) cancel exactly
    rows2 = []
    for st, flip in (("s1", False), ("s2", True)):
        for i, (arm, t) in enumerate(base):
            a = arm if not flip else ("1" if arm == "0" else "0")
            rows2 += user(f"{st}_u{i}", a, st, t)
    df2 = spark.createDataFrame(
        rows2, "u string, arm string, st string, ts timestamp"
    )
    r2 = stratified_logrank_test(
        df2, "u", "ts", "arm", "st", censor_days=1
    ).collect()[0]
    assert r2.z == 0.0 and r2.significant == 0


def test_cuped_hand_values(spark):
    """Perfectly linear covariate: theta recovers the slope exactly,
    the adjusted variance collapses to 0 (z_adj NULL by the se>0
    guard while z_raw stands), and a noisy variant matches the
    python mirror of the full moment algebra."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        cuped_ztest,
    )

    def stage(units):
        rows = []
        for i, (arm, x, y) in enumerate(units):
            rows.append((f"u{i}", arm, float(x), True))
            rows.append((f"u{i}", arm, float(y), False))
        return spark.createDataFrame(
            rows, "u string, arm string, value double, pre boolean"
        )

    # y = 2x (+1 on arm b): theta = 2, adjusted values constant
    perfect = [
        ("0", 1, 2), ("0", 2, 4), ("0", 3, 6),
        ("1", 1, 3), ("1", 2, 5), ("1", 3, 7),
    ]
    r = cuped_ztest(
        stage(perfect), "u", "arm", "value", "pre"
    ).collect()[0]
    assert r.theta == 2.0
    assert (r.mean_adj_a, r.mean_adj_b, r.lift_adj) == (4.0, 5.0, 1.0)
    assert r.rho == round(8 / math.sqrt(4 * 17.5), 6)
    assert r.z_adj is None and r.significant == 0
    assert r.z_raw is not None

    def mirror(units):
        import statistics as _s

        xs = [x for _, x, _ in units]
        ys = [y for _, _, y in units]
        n = len(units)
        cov = sum(x * y for _, x, y in units) - sum(xs) * sum(ys) / n
        varx = sum(x * x for x in xs) - sum(xs) ** 2 / n
        theta = round(cov / varx, 9)
        out = {}
        for arm in ("0", "1"):
            sub = [(x, y) for a, x, y in units if a == arm]
            xbar_all = sum(xs) / n
            adj = [y - theta * (x - xbar_all) for x, y in sub]
            out[arm] = (
                sum(adj) / len(adj),
                _s.variance(adj),
                len(adj),
            )
        (ma, va, na), (mb, vb, nb) = out["0"], out["1"]
        z = (mb - ma) / math.sqrt(va / na + vb / nb)
        return theta, ma, mb, z

    noisy = [
        ("0", 1, 2.0), ("0", 2, 4.5), ("0", 3, 5.5),
        ("1", 1, 3.5), ("1", 2, 4.5), ("1", 3, 7.5),
        ("0", 4, 8.5), ("1", 4, 9.0),
    ]
    r2 = cuped_ztest(
        stage(noisy), "u", "arm", "value", "pre"
    ).collect()[0]
    theta, ma, mb, z = mirror(noisy)
    assert r2.theta == round(theta, 6)
    assert abs(r2.mean_adj_a - ma) < 1e-6
    assert abs(r2.mean_adj_b - mb) < 1e-6
    assert abs(r2.z_adj - z) < 1e-5
    # the point of CUPED on correlated data: tighter test
    assert abs(r2.z_adj) >= abs(r2.z_raw)


@pytest.mark.slow
def test_srm_check_hand_values(spark):
    """Matched split passes, a 30/70-vs-50/50 mismatch fires, a
    declared-but-empty arm contributes its full (0-e)^2/e term,
    undeclared observed arms and bad declarations refuse."""

    from component_delta_lake_writer_spark.operators.experiments import (
        srm_check,
    )

    def units(counts):
        rows = []
        i = 0
        for arm, n in counts.items():
            for _ in range(n):
                rows.append((f"u{i}", arm))
                i += 1
        return spark.createDataFrame(rows, "u string, g string")

    ok = srm_check(
        units({"a": 50, "b": 50}), "u", "g", {"a": 1, "b": 1}
    ).collect()[0]
    assert (ok.n_units, ok.n_arms) == (100, 2)
    assert ok.chi2 == 0.0 and ok.srm_detected == 0
    assert ok.critical == 3.841

    bad = srm_check(
        units({"a": 30, "b": 70}), "u", "g", {"a": 0.5, "b": 0.5}
    ).collect()[0]
    # chi2 = (30-50)^2/50 + (70-50)^2/50 = 16
    assert bad.chi2 == 16.0 and bad.srm_detected == 1

    # declared arm with zero units: its (0-e)^2/e term counts
    empty = srm_check(
        units({"a": 60, "b": 60}), "u", "g",
        {"a": 1, "b": 1, "c": 1},
    ).collect()[0]
    # e = 40 each: (60-40)^2/40 * 2 + (0-40)^2/40 = 20+40 = 60
    assert empty.n_arms == 3 and empty.chi2 == 60.0
    assert empty.critical == 5.991 and empty.srm_detected == 1

    with pytest.raises(Exception, match="undeclared|not in the"):
        srm_check(units({"a": 5, "x": 5}), "u", "g", {"a": 1, "b": 1})
    with pytest.raises(Exception, match=">= 2 declared"):
        srm_check(units({"a": 5}), "u", "g", {"a": 1})
    with pytest.raises(Exception, match="sum > 0"):
        srm_check(units({"a": 5, "b": 5}), "u", "g", {"a": 0, "b": 0})
    # zero observed units: the gate refuses instead of reporting
    # "no mismatch" for an experiment with no data (r12 ADVICE)
    with pytest.raises(Exception, match="no units observed"):
        srm_check(
            spark.createDataFrame(
                [(None, None)], "u string, g string"
            ),
            "u", "g", {"a": 1, "b": 1},
        )


@pytest.mark.slow
def test_ab_grid_fdr_hand_values(spark):
    """The erfc p-approximation tracks math.erfc to <1.5e-7; a
    planted winning segment is the ONLY BH rejection across the
    grid; degenerate segments surface with NULL q instead of
    vanishing."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        _erfc_two_sided_p,
        ab_grid_fdr,
    )

    zs = [0.0, 0.5, 1.0, 1.959964, 2.5, 4.0, -3.2]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {
        r.z: r.p for r in df.select(
            "z", _erfc_two_sided_p(F.col("z")).alias("p")
        ).collect()
    }
    for z in zs:
        want = math.erfc(abs(z) / math.sqrt(2))
        assert abs(got[z] - want) < 1.5e-7, (z, got[z], want)

    def seg_rows(seg, ca, cb, n=200):
        rows = []
        for i in range(n):
            rows.append((seg, "a", 1 if i < ca else 0))
            rows.append((seg, "b", 1 if i < cb else 0))
        return rows

    rows = (
        seg_rows("s1", 100, 180)       # the real winner
        + seg_rows("s2", 100, 105)
        + seg_rows("s3", 100, 95)
        + seg_rows("s4", 100, 108)
        # a degenerate segment: all successes in both arms
        + seg_rows("s5", 200, 200)
    )
    out = {
        r.segment: r
        for r in ab_grid_fdr(
            spark.createDataFrame(rows, "seg string, g string, y int"),
            "seg", "g", "y",
        ).collect()
    }
    assert out["s1"].reject == 1 and out["s1"].p_rank == 1
    assert all(out[s].reject == 0 for s in ("s2", "s3", "s4"))
    # degenerate: pooled rate 1 -> NULL z/p, excluded from BH
    assert out["s5"].z is None and out["s5"].q_value is None
    # q monotone in p-rank over the tested segments
    ranked = sorted(
        (out[s] for s in ("s1", "s2", "s3", "s4")),
        key=lambda r: r.p_rank,
    )
    qs = [r.q_value for r in ranked]
    assert qs == sorted(qs)


@pytest.mark.slow
def test_auc_roc_hand_values(spark):
    """Perfect separation -> 1.0; random interleave -> 0.75 on the
    hand-counted pair fractions; full ties -> 0.5; one class ->
    NULL auc with the counts still visible; non-0/1 label refuses."""

    from component_delta_lake_writer_spark.operators.experiments import (
        auc_roc,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "y int, s double")
        return auc_roc(df, "y", "s").collect()[0]

    r = run([(0, 1.0), (0, 2.0), (1, 3.0), (1, 4.0)])
    assert (r.n_pos, r.n_neg, r.auc, r.gini) == (2, 2, 1.0, 1.0)
    # pos {2, 4} vs neg {1, 3}: 3 of 4 pairs ordered correctly
    r = run([(0, 1.0), (1, 2.0), (0, 3.0), (1, 4.0)])
    assert (r.auc, r.gini) == (0.75, 0.5)
    # every score tied -> midranks flatten to AUC exactly 0.5
    r = run([(0, 7.0), (1, 7.0), (0, 7.0), (1, 7.0)])
    assert (r.auc, r.gini) == (0.5, 0.0)
    r = run([(1, 1.0), (1, 2.0)])
    assert (r.n_pos, r.n_neg) == (2, 0)
    assert r.auc is None and r.gini is None
    bad = spark.createDataFrame([(2, 1.0)], "y int, s double")
    with pytest.raises(Exception, match="label must be 0/1"):
        auc_roc(bad, "y", "s").collect()


def test_kruskal_wallis_hand_values(spark):
    """Textbook no-tie example H = 7.2 (df = 2, significant at the
    5% 5.991 critical value); tied example matches the FLOORED
    decimal-sum model the operator and oracle share; k = 1
    degenerates to NULL."""
    from component_delta_lake_writer_spark.operators.experiments import (
        kruskal_wallis,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "g string, v double")
        return kruskal_wallis(df, "g", "v").collect()[0]

    # groups {1,2,3} {4,5,6} {7,8,9}: R = 6, 15, 24 ->
    # H = 12/90 * (12 + 75 + 192) - 30 = 7.2, no ties, all terms
    # exact under the floor
    r = run(
        [("a", float(x)) for x in (1, 2, 3)]
        + [("b", float(x)) for x in (4, 5, 6)]
        + [("c", float(x)) for x in (7, 8, 9)]
    )
    assert (r.k_groups, r.n_rows) == (3, 9)
    assert r.h == 7.2 and r.significant == 1
    # values [1,1,2] groups [a,a,b]: exact H' = 2.0, but the shared
    # floored model truncates SG 13.5 -> 13, giving
    # H = 12/12*13 - 12 = 1 and H' = 1/0.75 = 1.333333 — assert the
    # MODEL both engines compute, not the textbook real
    r = run([("a", 1.0), ("a", 1.0), ("b", 2.0)])
    assert r.h == round(1.0 / 0.75, 6)
    assert r.significant == 0
    r = run([("a", 1.0), ("a", 2.0)])
    assert r.h is None and r.significant == 0


def test_nelson_aalen_hand_curve(spark):
    """Four users, lifetimes 0/1/2/2 with the last censored at the
    horizon: cumulative hazard is the hand-folded 1/4, 1/4+1/3,
    1/4+1/3+1/2 ladder over the 9dp decimal prefix sum."""
    import datetime as dtm

    from component_delta_lake_writer_spark.operators.sessions import (
        nelson_aalen,
    )

    d0 = dtm.datetime(2026, 1, 1, 12, 0)

    def user(uid, first_day, last_day):
        return [
            (uid, d0 + dtm.timedelta(days=first_day)),
            (uid, d0 + dtm.timedelta(days=last_day)),
        ]

    rows = (
        user("u1", 0, 0) + user("u2", 0, 1) + user("u3", 0, 2)
        + user("u4", 1, 3)  # lifetime 2, ends on the horizon day
    )
    df = spark.createDataFrame(rows, "u string, ts timestamp")
    out = {
        r.t_days: r
        for r in nelson_aalen(df, "u", "ts", censor_days=1).collect()
    }
    assert sorted(out) == [0, 1, 2]
    assert (out[0].n_at_risk, out[0].n_deaths) == (4, 1)
    assert out[0].cum_hazard == 0.25
    assert (out[1].n_at_risk, out[1].n_deaths) == (3, 1)
    # the engine sums 9dp DECIMALS exactly, then converts once to
    # double — compare against the nearest float of the 9dp total,
    # not a float accumulation of the terms (last-ulp drift)
    assert out[1].cum_hazard == round(0.25 + 1 / 3, 9)
    assert (out[2].n_at_risk, out[2].n_deaths, out[2].n_censored) == (
        2,
        1,
        1,
    )
    assert out[2].cum_hazard == round(0.25 + 1 / 3 + 0.5, 9)


def test_rmst_hand_values(spark):
    """Two arms with hand-drawn KM step curves: RMST is the exact
    step-function area to tau = 10 including the S = 1 head segment
    and the carried last value; the arm whose last subject dies
    contributes 0 beyond that time."""
    import datetime as dtm

    from component_delta_lake_writer_spark.operators.sessions import (
        rmst_two_arm,
    )

    d0 = dtm.datetime(2026, 1, 1, 12, 0)

    def user(uid, arm, lifetime):
        return [
            (uid, arm, d0),
            (uid, arm, d0 + dtm.timedelta(days=lifetime)),
        ]

    # arm 0: deaths at t=1 and t=3 -> S: 1 on [0,1), .5 on [1,3), 0 after
    # arm 1: deaths at t=2 and t=3 -> S: 1 on [0,2), .5 on [2,3), 0 after
    rows = (
        user("u1", "0", 1) + user("u2", "0", 3)
        + user("v1", "1", 2) + user("v2", "1", 3)
    )
    df = spark.createDataFrame(
        rows, "u string, arm string, ts timestamp"
    )
    row = rmst_two_arm(
        df, "u", "ts", "arm", tau_days=10, censor_days=0
    ).collect()[0]
    assert (row.arm_a, row.arm_b) == ("0", "1")
    assert (row.n_users_a, row.n_users_b) == (2, 2)
    assert row.tau_days == 10
    assert row.rmst_a == 1.0 + 0.5 * 2  # 1 + [1,3) at 0.5
    assert row.rmst_b == 2.0 + 0.5 * 1  # 2 + [2,3) at 0.5
    assert row.rmst_diff == row.rmst_a - row.rmst_b


def test_mantel_haenszel_hand_values(spark):
    """Two hand-built strata: OR_MH = ΣR/ΣS and the CMH χ² match
    the folded terms; a Simpson-flavored split (opposite arm sizes
    per stratum) keeps the stratified estimate on the correct side;
    !=2 arms and non-0/1 success refuse."""
    import math


    from component_delta_lake_writer_spark.operators.experiments import (
        mantel_haenszel,
    )

    rows = []

    def cell(st, arm, succ, fail):
        rows.extend([(st, arm, 1)] * succ + [(st, arm, 0)] * fail)

    # stratum A: arm0 4/10 vs arm1 2/10; stratum B: arm0 3/5 vs 6/15
    cell("A", "0", 4, 6)
    cell("A", "1", 2, 8)
    cell("B", "0", 3, 2)
    cell("B", "1", 6, 9)
    df = spark.createDataFrame(rows, "st string, g string, y int")
    r = mantel_haenszel(df, "st", "g", "y").collect()[0]
    assert (r.arm_a, r.arm_b, r.n_strata, r.n_rows) == (
        "0", "1", 2, 40,
    )
    R = round(4 * 8 / 20, 9) + round(3 * 9 / 20, 9)        # 2.95
    S = round(6 * 2 / 20, 9) + round(2 * 6 / 20, 9)        # 1.20
    assert r.or_mh == pytest.approx(R / S, abs=1e-6)
    e = round(10 * 6 / 20, 9) + round(5 * 9 / 20, 9)       # 5.25
    v = round(10 * 10 * 6 * 14 / (20 * 20 * 19), 9) + round(
        5 * 15 * 9 * 11 / (20 * 20 * 19), 9
    )
    assert r.cmh_chi2 == pytest.approx(
        (7 - e) ** 2 / v, abs=1e-5
    )
    assert r.ci_lo < r.or_mh < r.ci_hi
    assert r.significant in (0, 1)
    one_arm = df.filter(F.col("g") == "0")
    with pytest.raises(Exception, match="exactly 2 arms"):
        mantel_haenszel(one_arm, "st", "g", "y")
    bad = spark.createDataFrame([("A", "0", 2), ("A", "1", 0)],
                                "st string, g string, y int")
    with pytest.raises(Exception, match="success must be 0/1"):
        mantel_haenszel(bad, "st", "g", "y").collect()


@pytest.mark.slow
def test_vocab_js_divergence_hand_values(spark):
    """Two tiny corpora with hand-folded JS: the shared token's
    mixture term plus the two one-sided ln2 terms; identical sides
    give exactly 0; an undeclared side and an empty declared side
    both refuse."""
    import math


    from component_delta_lake_writer_spark.operators.text import (
        vocab_js_divergence,
    )

    df = spark.createDataFrame(
        [("A", "a a b"), ("B", "a c")], "side string, text string"
    )
    r = vocab_js_divergence(df, "side", "A", "B").collect()[0]
    assert (r.tokens_a, r.tokens_b) == (3, 2)
    assert (r.vocab_a, r.vocab_b, r.vocab_shared) == (2, 2, 1)
    p_a, q_a = 2 / 3, 1 / 2
    m_a = 0.5 * (p_a + q_a)
    term_a = 0.5 * (
        p_a * math.log(p_a / m_a) + q_a * math.log(q_a / m_a)
    )
    term_b = 0.5 * ((1 / 3) * math.log(2.0))   # b: q = 0
    term_c = 0.5 * ((1 / 2) * math.log(2.0))   # c: p = 0
    js = round(term_a, 9) + round(term_b, 9) + round(term_c, 9)
    assert r.js_divergence == round(js, 6)
    assert r.js_distance == round(math.sqrt(r.js_divergence), 6)
    same = spark.createDataFrame(
        [("A", "x y"), ("B", "x y")], "side string, text string"
    )
    r = vocab_js_divergence(same, "side", "A", "B").collect()[0]
    assert r.js_divergence == 0.0
    third = spark.createDataFrame(
        [("A", "x"), ("B", "x"), ("C", "x")],
        "side string, text string",
    )
    with pytest.raises(Exception, match="undeclared side"):
        vocab_js_divergence(third, "side", "A", "B").collect()
    empty = spark.createDataFrame(
        [("A", "x y")], "side string, text string"
    )
    with pytest.raises(Exception, match="zero tokens"):
        vocab_js_divergence(empty, "side", "A", "B").collect()


@pytest.mark.slow
def test_jonckheere_hand_values(spark):
    """Two perfectly separated ordered groups: J = every cross pair,
    E and the no-tie variance from the textbook formula; an
    observed group outside the declared order refuses, as does a
    degenerate order list."""
    import math


    from component_delta_lake_writer_spark.operators.experiments import (
        jonckheere_terpstra,
    )

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)],
        "g string, v double",
    )
    r = jonckheere_terpstra(df, "g", "v", ["A", "B"]).collect()[0]
    assert (r.k_groups, r.n_rows) == (2, 4)
    assert r.j_stat == 4.0 and r.e_j == 2.0
    # no ties: Var = [N²(2N+3) − Σn²(2n+3)]/72 = 120/72
    var = 120 / 72
    assert r.z == round(2.0 / math.sqrt(var), 6)
    assert r.significant == 0
    # reversed declared order flips the trend: J = 0, z negative
    r = jonckheere_terpstra(df, "g", "v", ["B", "A"]).collect()[0]
    assert r.j_stat == 0.0 and r.z == round(-2.0 / math.sqrt(var), 6)
    with pytest.raises(Exception, match="outside the declared"):
        jonckheere_terpstra(df, "g", "v", ["A", "C"]).collect()
    with pytest.raises(Exception, match=">= 2 distinct"):
        jonckheere_terpstra(df, "g", "v", ["A", "A"])


@pytest.mark.slow
def test_fisher_exact_hand_values(spark):
    """The tea-tasting 2x2 [[3,1],[1,3]]: p_two = 34/70 exactly,
    one-sided tails 69/70 and 17/70, OR = 9; a zero-success table
    degenerates to p = 1 with NULL OR; != 2 arms and non-0/1
    success refuse; an absurd support refuses toward the z-test."""

    from component_delta_lake_writer_spark.operators.experiments import (
        fisher_exact,
    )

    rows = (
        [("A", 1)] * 3 + [("A", 0)] + [("B", 1)] + [("B", 0)] * 3
    )
    df = spark.createDataFrame(rows, "g string, y int")
    r = fisher_exact(df, "g", "y").collect()[0]
    assert (r.a, r.b, r.c, r.d) == (3, 1, 1, 3)
    assert r.odds_ratio == 9.0
    assert r.p_two == round(34 / 70, 9)
    assert r.p_less == round(69 / 70, 9)
    assert r.p_greater == round(17 / 70, 9)
    assert r.significant == 0
    empty = spark.createDataFrame(
        [("A", 0)] * 3 + [("B", 0)] * 2, "g string, y int"
    )
    r = fisher_exact(empty, "g", "y").collect()[0]
    assert (r.p_two, r.odds_ratio) == (1.0, None)
    with pytest.raises(Exception, match="exactly 2 arms"):
        fisher_exact(df.filter(F.col("g") == "A"), "g", "y")
    bad = spark.createDataFrame(
        [("A", 2), ("B", 0)], "g string, y int"
    )
    with pytest.raises(Exception, match="success must be 0/1"):
        fisher_exact(bad, "g", "y")
    with pytest.raises(Exception, match="exceeds"):
        fisher_exact(df, "g", "y", max_support=1)


@pytest.mark.slow
def test_pr_auc_hand_values(spark):
    """sklearn's average-precision on [1,0,1,0] x [4,3,2,1] is
    (1 + 2/3)/2 — under the shared 9dp-term model that lands at
    0.833333334; a full tie block is one step (0.5); no positives
    -> NULL with counts visible; non-0/1 labels refuse."""

    from component_delta_lake_writer_spark.operators.experiments import (
        pr_auc,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "y int, s double")
        return pr_auc(df, "y", "s").collect()[0]

    r = run([(1, 4.0), (0, 3.0), (1, 2.0), (0, 1.0)])
    # terms 1.0 and round(2/3, 9) = 0.666666667 sum exactly in the
    # DECIMAL; /2 = 0.8333333335 rounds HALF-UP on the engine (a
    # Python float round would land half-even on an inexact binary)
    assert r.pr_auc == 0.833333334
    assert (r.n_pos, r.n_neg, r.prevalence) == (2, 2, 0.5)
    r = run([(1, 7.0), (0, 7.0)])
    assert r.pr_auc == 0.5        # one tie block: 1·(1/2)
    r = run([(0, 1.0), (0, 2.0)])
    assert r.pr_auc is None and r.prevalence == 0.0
    bad = spark.createDataFrame([(3, 1.0)], "y int, s double")
    with pytest.raises(Exception, match="label must be 0/1"):
        pr_auc(bad, "y", "s").collect()


@pytest.mark.slow
def test_binom_exact_hand_values(spark):
    """scipy's binomtest(7, 10, 0.5) = 0.34375 exactly and the
    all-failure table 2/32; p0 outside (0,1), empty input and
    non-0/1 success refuse; absurd support refuses toward z."""

    from component_delta_lake_writer_spark.operators.experiments import (
        binom_exact_test,
    )

    df = spark.createDataFrame([(1,)] * 7 + [(0,)] * 3, "y int")
    r = binom_exact_test(df, "y", 0.5).collect()[0]
    assert (r.n, r.k, r.observed_rate) == (10, 7, 0.7)
    assert r.p_two == 0.34375
    assert r.p_less == 0.9453125 and r.p_greater == 0.171875
    assert r.significant == 0
    r = binom_exact_test(
        spark.createDataFrame([(0,)] * 5, "y int"), "y", 0.5
    ).collect()[0]
    assert r.p_two == 0.0625 and r.p_less == 0.03125
    with pytest.raises(Exception, match="inside"):
        binom_exact_test(df, "y", 1.0)
    with pytest.raises(Exception, match="no rows"):
        binom_exact_test(df.filter(F.col("y") > 5), "y", 0.5)
    bad = spark.createDataFrame([(2,)], "y int")
    with pytest.raises(Exception, match="success must be 0/1"):
        binom_exact_test(bad, "y", 0.5)
    with pytest.raises(Exception, match="exceeds"):
        binom_exact_test(df, "y", 0.5, max_support=3)


@pytest.mark.slow
def test_breslow_day_hand_values(spark):
    """Identical per-stratum ORs give chi2 exactly 0 (the fitted
    counts ARE the observed); opposite per-stratum effects light
    up; the quoted or_mh is bit-identical to mantel_haenszel's;
    one stratum -> df 0, chi2 NULL."""
    from component_delta_lake_writer_spark.operators.experiments import (
        breslow_day,
        mantel_haenszel,
    )

    rows = []

    def cell(st, arm, succ, fail):
        rows.extend([(st, arm, 1)] * succ + [(st, arm, 0)] * fail)

    cell("A", "0", 4, 6)
    cell("A", "1", 2, 8)     # OR = 8/3
    cell("B", "0", 8, 12)
    cell("B", "1", 4, 16)    # OR = 8/3 too
    df = spark.createDataFrame(rows, "st string, g string, y int")
    r = breslow_day(df, "st", "g", "y").collect()[0]
    assert (r.n_strata, r.df) == (2, 1)
    assert r.chi2 == 0.0 and r.significant == 0
    mh = mantel_haenszel(df, "st", "g", "y").collect()[0]
    assert r.or_mh == mh.or_mh
    rows2 = []

    def cell2(st, arm, s_, f_):
        rows2.extend(
            [(st, arm, 1)] * s_ + [(st, arm, 0)] * f_
        )

    cell2("A", "0", 18, 2)
    cell2("A", "1", 2, 18)
    cell2("B", "0", 2, 18)
    cell2("B", "1", 18, 2)
    df2 = spark.createDataFrame(
        rows2, "st string, g string, y int"
    )
    r = breslow_day(df2, "st", "g", "y").collect()[0]
    assert r.significant == 1 and r.chi2 > 40
    one = df.filter(F.col("st") == "A")
    r = breslow_day(one, "st", "g", "y").collect()[0]
    assert r.df == 0 and r.chi2 is None and r.significant == 0


@pytest.mark.slow
def test_mcnemar_hand_values(spark):
    """9-vs-1 discordant pairs: exact two-sided p = 22/1024 (the
    concordant pairs don't move it); zero discordance degenerates
    to p = 1; the binomial equivalence holds against
    binom_exact_test on the discordant slice; non-0/1 refuses."""

    from component_delta_lake_writer_spark.operators.experiments import (
        binom_exact_test,
        mcnemar_test,
    )

    rows = (
        [(1, 0)] * 9 + [(0, 1)] + [(1, 1)] * 20 + [(0, 0)] * 10
    )
    df = spark.createDataFrame(rows, "a int, b int")
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert (r.n_pairs, r.n_both, r.n_neither) == (40, 20, 10)
    assert (r.n_first_only, r.n_second_only) == (9, 1)
    assert r.p_two == 0.021484375 and r.significant == 1
    # conditioning identity: == exact Binomial(10, 1/2) at k = 9
    disc = spark.createDataFrame(
        [(1,)] * 9 + [(0,)], "y int"
    )
    eq = binom_exact_test(disc, "y", 0.5).collect()[0]
    assert eq.p_two == r.p_two
    same = spark.createDataFrame(
        [(1, 1)] * 5 + [(0, 0)] * 5, "a int, b int"
    )
    r = mcnemar_test(same, "a", "b").collect()[0]
    assert r.p_two == 1.0 and r.significant == 0
    bad = spark.createDataFrame([(2, 1)], "a int, b int")
    with pytest.raises(Exception, match="outcomes must be 0/1"):
        mcnemar_test(bad, "a", "b")


def test_cochran_q_hand_values(spark):
    """Six items x three systems: Q matches the textbook fold
    (brute 4.5); unanimous items alone degenerate the denominator
    to NULL; duplicate/short column lists and non-0/1 refuse."""

    from component_delta_lake_writer_spark.operators.experiments import (
        cochran_q,
    )

    rows = [
        (1, 1, 0), (1, 1, 1), (0, 1, 0),
        (1, 1, 0), (1, 0, 0), (1, 1, 1),
    ]
    df = spark.createDataFrame(rows, "a int, b int, c int")
    r = cochran_q(df, ["a", "b", "c"]).collect()[0]
    assert (r.k_systems, r.n_items) == (3, 6)
    assert r.q == 4.5 and r.significant == 0
    # strong disagreement: system a always wins, c never
    rows2 = [(1, 0, 0)] * 12 + [(1, 1, 0)] * 4
    df2 = spark.createDataFrame(rows2, "a int, b int, c int")
    r = cochran_q(df2, ["a", "b", "c"]).collect()[0]
    assert r.significant == 1
    unanimous = spark.createDataFrame(
        [(1, 1, 1), (0, 0, 0)], "a int, b int, c int"
    )
    r = cochran_q(unanimous, ["a", "b", "c"]).collect()[0]
    assert r.q is None and r.significant == 0
    with pytest.raises(Exception, match=">= 2 distinct"):
        cochran_q(df, ["a", "a"])
    bad = spark.createDataFrame([(5, 1, 0)], "a int, b int, c int")
    with pytest.raises(Exception, match="outcomes must be 0/1"):
        cochran_q(bad, ["a", "b", "c"]).collect()


def test_wilcoxon_signed_rank_hand_values(spark):
    """Diffs {+1, +2, +3, −1, 0}: the zero drops, |d| midranks give
    W+ = 8.5 and the tie-corrected z matches the hand fold; an
    all-tied input degenerates to NULL z."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        wilcoxon_signed_rank,
    )

    rows = [
        (2.0, 1.0), (3.0, 1.0), (4.0, 1.0), (1.0, 2.0), (5.0, 5.0)
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    assert (r.n_pairs, r.n_nonzero, r.w_plus) == (5, 4, 8.5)
    # mu = 5, var = 4·5·9/24 − (2³−2)/48 = 7.375
    assert r.z == round((8.5 - 5) / math.sqrt(7.375), 6)
    assert r.significant == 0
    tied = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0)], "x double, y double"
    )
    r = wilcoxon_signed_rank(tied, "x", "y").collect()[0]
    assert (r.n_pairs, r.n_nonzero) == (2, 0)
    assert r.z is None and r.significant == 0


def test_ab_power_mde_hand_values(spark):
    """1000-per-arm at pooled 10.5%: MDE matches the two-proportion
    closed form with the shared z literals; degenerate pooled rate
    NULLs the MDE with the counts visible; bad power and != 2 arms
    refuse."""
    import math


    from component_delta_lake_writer_spark.operators.experiments import (
        ab_power_mde,
    )

    rows = (
        [("A", 1)] * 100 + [("A", 0)] * 900
        + [("B", 1)] * 110 + [("B", 0)] * 890
    )
    df = spark.createDataFrame(rows, "g string, y int")
    r = ab_power_mde(df, "g", "y").collect()[0]
    p = 210 / 2000
    exp = (1.959964 + 0.8416212) * math.sqrt(
        p * (1 - p) * (1 / 1000 + 1 / 1000)
    )
    assert r.mde_abs == round(exp, 9)
    assert r.mde_rel == round(exp / p, 6)
    assert (r.n_a, r.n_b, r.pooled_rate) == (1000, 1000, 0.105)
    allzero = spark.createDataFrame(
        [("A", 0), ("B", 0)], "g string, y int"
    )
    r = ab_power_mde(allzero, "g", "y").collect()[0]
    assert r.mde_abs is None and r.mde_rel is None
    with pytest.raises(Exception, match="power_pct"):
        ab_power_mde(df, "g", "y", power_pct=75)
    with pytest.raises(Exception, match="exactly 2 arms"):
        ab_power_mde(df.filter(F.col("g") == "A"), "g", "y")


def test_brown_forsythe_hand_values(spark):
    """Spread-vs-constant groups: F matches the hand-folded ANOVA
    on |x − median| exactly (z multiples of 0.5 keep every decimal
    sum exact); equal-spread groups stay non-significant; k = 1
    degenerates to NULL."""
    from component_delta_lake_writer_spark.operators.experiments import (
        brown_forsythe,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
    ] + [("b", 10.0)] * 4
    df = spark.createDataFrame(rows, "g string, v double")
    r = brown_forsythe(df, "g", "v").collect()[0]
    # med_a = 2.5, z_a = {1.5, .5, .5, 1.5}; z_b all 0 →
    # SG = floor(16/4) = 4, S = 4, SS = 5 → ssb 2, ssw 1 → F = 12
    assert (r.k_groups, r.n_rows, r.f) == (2, 8, 12.0)
    assert r.significant == 1
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 11.0), ("b", 13.0)],
        "g string, v double",
    )
    r = brown_forsythe(same, "g", "v").collect()[0]
    # both groups have z = {1, 1}: zero between AND within spread
    assert r.f is None and r.significant == 0
    one = df.filter(F.col("g") == "a")
    r = brown_forsythe(one, "g", "v").collect()[0]
    assert r.f is None and r.significant == 0
