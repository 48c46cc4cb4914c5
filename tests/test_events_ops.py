"""Tests for ordered-event operators with hand-built histories."""

import datetime

from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.operators.events import (
    funnel_apply_in_pandas, retention, sequence_count, sessionize, window_funnel,
)

T = datetime.datetime


def _events(spark):
    rows = [
        # user 1: full funnel within window
        (1, T(2024, 1, 1, 0), "view"), (1, T(2024, 1, 2, 0), "click"),
        (1, T(2024, 1, 3, 0), "purchase"),
        # user 2: view then click outside 7-day window
        (2, T(2024, 1, 1, 0), "view"), (2, T(2024, 1, 20, 0), "click"),
        # user 3: click before view (wrong order) -> level 1 only
        (3, T(2024, 1, 1, 0), "click"), (3, T(2024, 1, 2, 0), "view"),
        # user 4: never viewed
        (4, T(2024, 1, 1, 0), "purchase"),
    ]
    return spark.createDataFrame(
        [(u, ts, e, i) for i, (u, ts, e) in enumerate(rows)],
        "user_id long, ts timestamp, event_type string, event_id long")


def test_window_funnel_levels(spark):
    out = {r.user_id: r.level for r in
           window_funnel(_events(spark), "user_id", "ts", "event_type",
                         ["view", "click", "purchase"], "7 DAYS").collect()}
    assert out == {1: 3, 2: 1, 3: 1}  # user 4 absent (no first step)


def test_funnel_pandas_path_agrees(spark):
    out = {r.user_id: r.level for r in
           funnel_apply_in_pandas(_events(spark), "user_id", "ts", "event_type",
                                  ["view", "click", "purchase"],
                                  7 * 86400).collect()}
    assert out[1] == 3 and out[2] == 1 and out[3] == 1 and out[4] == 0


def test_retention_flags(spark):
    out = {r.user_id: (r.r1, r.r2) for r in
           retention(_events(spark), "user_id",
                     [F.col("event_type") == "view",
                      F.col("event_type") == "purchase"]).collect()}
    assert out[1] == (1, 1)   # viewed and purchased
    assert out[2] == (1, 0)   # viewed, no purchase
    assert out[4] == (0, 0)   # purchased but never viewed -> r2 gated on r1


def test_sequence_count_nonoverlapping(spark):
    out = {r.user_id: r.n_matches for r in
           sequence_count(_events(spark), "user_id", "ts", "event_type",
                          "event_id",
                          {"view": "v", "click": "c", "purchase": "p"},
                          "vc").collect()}
    assert out[1] == 1 and out[3] == 0


def test_sessionize_gap(spark):
    rows = [(1, T(2024, 1, 1, 0, 0)), (1, T(2024, 1, 1, 0, 10)),
            (1, T(2024, 1, 1, 2, 0)), (1, T(2024, 1, 1, 2, 5))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize(df, "user_id", "ts", 1800).collect()
    sessions = sorted((r.ts, r.session_id) for r in out)
    assert [s for _, s in sessions] == [1, 1, 2, 2]


def test_sessionize_fractional_gap_matches_oracle(spark):
    """A gap of 1800.11 s on a 1800 s threshold starts a new session, as
    in session_stats' DuckDB oracle, which compares fractional epochs.
    Gaps in whole seconds truncated it to 1800: no new session."""
    import duckdb

    base = T(2024, 1, 1)
    # gaps: user 1 1800.11 (new), 1799.89, exactly 1800, 1800.2 (new);
    # user 2 1799.9, 1800.1 (new), 0.5
    offsets = {1: [0, 1800.11, 3600, 5400, 7200.2],
               2: [0, 1799.9, 3600, 3600.5]}
    rows = [(u, i, base + datetime.timedelta(seconds=s))
            for u, offs in offsets.items() for i, s in enumerate(offs)]
    df = spark.createDataFrame(rows, "user_id long, i int, ts timestamp")
    got = sorted((r.user_id, r.i, r.session_id)
                 for r in sessionize(df, "user_id", "ts", 1800).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE ev (user_id BIGINT, i INT, ts TIMESTAMP)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
    want = sorted(con.execute("""
        SELECT user_id, i,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
        FROM (SELECT user_id, i, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS brk
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        """).fetchall())
    assert got == want
    assert [s for u, _, s in got if u == 1] == [1, 2, 2, 2, 3]
    assert [s for u, _, s in got if u == 2] == [1, 1, 2, 2]


def test_funnel_hof_matches_cascade(spark, sf_dir):
    """Single-shuffle HOF funnel must agree with the oracle-checked
    cascade on the real fixture."""
    from clickhouse_clickhouse_spark.operators.events import window_funnel_hof
    from clickhouse_clickhouse_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cascade = {r.user_id: r.level for r in
               window_funnel(ev, "user_id", "ts", "event_type",
                             ["view", "click", "purchase"], "7 DAYS").collect()}
    hof = {r.user_id: r.level for r in
           window_funnel_hof(ev, "user_id", "ts", "event_type",
                             ["view", "click", "purchase"],
                             7 * 86400).collect()}
    assert cascade == hof


def test_funnel_hof_single_shuffle(spark, sf_dir):
    from clickhouse_clickhouse_spark.operators.events import window_funnel_hof
    from clickhouse_clickhouse_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = window_funnel_hof(ev, "user_id", "ts", "event_type",
                            ["view", "click", "purchase"], 7 * 86400)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def _strict_events(spark):
    rows = [
        # user 1: v c p consecutive -> 3 in every mode
        (1, T(2024, 1, 1, 0), "view"), (1, T(2024, 1, 2, 0), "click"),
        (1, T(2024, 1, 3, 0), "purchase"),
        # user 2: v (signup) c p -> strict_order breaks at signup (1);
        # strict_dedup skips it (3)
        (2, T(2024, 1, 1, 0), "view"), (2, T(2024, 1, 2, 0), "signup"),
        (2, T(2024, 1, 3, 0), "click"), (2, T(2024, 1, 4, 0), "purchase"),
        # user 3: v c c p -> strict_order breaks at 2nd c (2);
        # strict_dedup breaks too (duplicate of matched click) (2)
        (3, T(2024, 1, 1, 0), "view"), (3, T(2024, 1, 2, 0), "click"),
        (3, T(2024, 1, 3, 0), "click"), (3, T(2024, 1, 4, 0), "purchase"),
        # user 4: v v c p -> dedup breaks at 2nd v (1); default reaches 3
        (4, T(2024, 1, 1, 0), "view"), (4, T(2024, 1, 2, 0), "view"),
        (4, T(2024, 1, 3, 0), "click"), (4, T(2024, 1, 4, 0), "purchase"),
    ]
    return spark.createDataFrame(
        [(u, ts, e, i) for i, (u, ts, e) in enumerate(rows)],
        "user_id long, ts timestamp, event_type string, event_id long")


def test_window_funnel_strict_order(spark):
    from clickhouse_clickhouse_spark.operators.events import window_funnel_hof

    out = {r.user_id: r.level for r in
           window_funnel_hof(_strict_events(spark), "user_id", "ts",
                             "event_type", ["view", "click", "purchase"],
                             30 * 86400, mode="strict_order",
                             tiebreak="event_id").collect()}
    assert out == {1: 3, 2: 1, 3: 2, 4: 1}


def test_window_funnel_strict_dedup(spark):
    from clickhouse_clickhouse_spark.operators.events import window_funnel_hof

    out = {r.user_id: r.level for r in
           window_funnel_hof(_strict_events(spark), "user_id", "ts",
                             "event_type", ["view", "click", "purchase"],
                             30 * 86400, mode="strict_dedup",
                             tiebreak="event_id").collect()}
    assert out == {1: 3, 2: 3, 3: 2, 4: 1}


def test_window_funnel_default_mode_unchanged(spark):
    from clickhouse_clickhouse_spark.operators.events import window_funnel_hof

    out = {r.user_id: r.level for r in
           window_funnel_hof(_strict_events(spark), "user_id", "ts",
                             "event_type", ["view", "click", "purchase"],
                             30 * 86400).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def _rearm_events(spark):
    """The round-8 advice counter-examples for reference-default
    semantics ([U] AggregateFunctionWindowFunnel.cpp):
    - user 1: c1@0, c1@90, c2@100, window 60 — the re-armed chain from
      t=90 reaches level 2 (earliest-chain-only gives 1)
    - user 2: c1@0, c2@0 (EQUAL timestamps) — default advances (the
      old strictly-increasing guard gave 1)
    - user 3: c1@0, c2@0 — strict_increase must NOT advance
    - user 4: c1@0, c2@30, c3@95, window 60 — level-2 chain start
      propagates (t0 stays 0, so c3@95 is out of window: level 2),
      then c1@50, c2@80, c3@95 re-armed chain completes: level 3
    """
    rows = [
        (1, 0, "a"), (1, 90, "a"), (1, 100, "b"),
        (2, 0, "a"), (2, 0, "b"),
        (3, 0, "a"), (3, 0, "b"),
        (4, 0, "a"), (4, 30, "b"), (4, 50, "a"), (4, 80, "b"),
        (4, 95, "c"),
    ]
    return spark.createDataFrame(
        [(u, T(2024, 1, 1) + datetime.timedelta(seconds=s), e)
         for u, s, e in rows],
        "user_id long, ts timestamp, event_type string")


def test_window_funnel_rearm_semantics(spark):
    from clickhouse_clickhouse_spark.operators.events import window_funnel_hof

    ev = _rearm_events(spark)
    out = {r.user_id: r.level for r in
           window_funnel_hof(ev, "user_id", "ts", "event_type",
                             ["a", "b", "c"], 60).collect()}
    assert out[1] == 2      # re-armed chain from t=90
    assert out[2] == 2      # equal timestamps advance in default mode
    assert out[4] == 3      # second chain (50, 80, 95) completes
    inc = {r.user_id: r.level for r in
           window_funnel_hof(ev, "user_id", "ts", "event_type",
                             ["a", "b", "c"], 60,
                             mode="strict_increase").collect()}
    assert inc[3] == 1      # equal timestamps do NOT advance
    assert inc[1] == 2 and inc[4] == 3
    # window-chain and applyInPandas forms agree on the same fixture
    casc = {r.user_id: r.level for r in
            window_funnel(ev, "user_id", "ts", "event_type",
                          ["a", "b", "c"], "60 SECONDS").collect()}
    assert casc == {k: v for k, v in out.items() if v >= 1}
    pand = {r.user_id: r.level for r in
            funnel_apply_in_pandas(ev, "user_id", "ts", "event_type",
                                   ["a", "b", "c"], 60).collect()}
    assert {k: v for k, v in pand.items() if v >= 1} == casc


def test_exp_time_decayed_sum_long_span_stays_finite(spark):
    """A key spanning >> 709*tau used to overflow the single-anchor
    running sum (exp(dt/tau) -> inf); the piecewise-renormalized version
    must stay finite and match the O(n^2) brute force."""
    import datetime
    import math

    from clickhouse_clickhouse_spark.operators.advanced import (
        exp_time_decayed_sum,
    )

    tau = 3600.0  # 1 hour; 90 days span = 2160*tau >> 709*tau
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(1, i, t0 + datetime.timedelta(days=3 * i), float(i + 1))
            for i in range(31)]  # 0..90 days
    df = spark.createDataFrame(rows, "k int, seq int, ts timestamp, v double")
    out = {r.seq: r.decayed_sum for r in
           exp_time_decayed_sum(df, ["k"], "ts", "v", tau,
                                tiebreak="seq").collect()}
    times = {seq: (ts - t0).total_seconds() for _, seq, ts, _ in
             [(r[0], r[1], r[2], r[3]) for r in rows]}
    for seq, t in times.items():
        brute = sum(v * math.exp(-(t - times[s]) / tau)
                    for _, s, _, v in [(r[0], r[1], r[2], r[3]) for r in rows]
                    if times[s] <= t)
        got = out[seq]
        assert math.isfinite(got), f"seq {seq} not finite"
        assert abs(got - brute) <= 1e-9 * max(1.0, abs(brute)), (seq, got, brute)


def test_exp_time_decayed_sum_short_span_single_epoch(spark):
    """Spans < 500*tau must reproduce the original single-anchor
    arithmetic exactly (everything in epoch 0, zero carry)."""
    import datetime
    import math

    from clickhouse_clickhouse_spark.operators.advanced import (
        exp_time_decayed_sum,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(1, i, t0 + datetime.timedelta(hours=i), float(10 - i))
            for i in range(5)]
    df = spark.createDataFrame(rows, "k int, seq int, ts timestamp, v double")
    out = {r.seq: r.decayed_sum for r in
           exp_time_decayed_sum(df, ["k"], "ts", "v", 86400.0,
                                tiebreak="seq").collect()}
    run = 0.0
    for i in range(5):
        dt = i * 3600.0
        run += (10.0 - i) * math.exp(dt / 86400.0)
        assert abs(out[i] - run * math.exp(-dt / 86400.0)) < 1e-12
