"""Ordered-event analytics: windowFunnel, retention, sequenceMatch,
sessionization (reference ``AggregateFunctionWindowFunnel/Retention/
SequenceMatch``; SURVEY.md §2.4, §4.3 item 4).

Two implementation tiers:
- DF-native cascades (used by the oracle-checked queries) — fully
  distributed, shuffle-per-level, no Python in the hot path;
- a general ``applyInPandas`` scanner for arbitrary patterns, Arrow-batched
  per entity — the slow path, bounded by max events per entity.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def window_funnel(df: DataFrame, entity: str, ts: str, event: str,
                  steps: Sequence[str], window: str) -> DataFrame:
    """Reference-default windowFunnel ([U]
    src/AggregateFunctions/AggregateFunctionWindowFunnel.cpp): the
    level-1 chain start RE-ARMS on every step-1 event and a step
    advances from the best prior chain, so level k is reached iff a
    (timestamp, step-index)-ordered subsequence step1..stepk exists
    whose last event is within ``window`` of its first (equal
    timestamps advance, as upstream's default mode allows — ties order
    step-1 first).

    Window-chain form (rewritten round 8 — the old per-level join
    cascade was both a semantics deviation, greedy earliest-chain only,
    AND k shuffles): each level's best chain start is a running max
    over the entity's (ts, step)-ordered events, so the whole funnel is
    ONE shuffle + one sort with k stacked window expressions — the
    right 100 TB shape. Returns (entity, level) for entities that
    reached step 1.
    """
    iv = F.expr(f"INTERVAL {window}")
    idx = F.when(F.col(event) == steps[0], 1)
    for i, s in enumerate(steps[1:], start=2):
        idx = idx.when(F.col(event) == s, i)
    e = (df.select(F.col(entity), F.col(ts).alias("__ts"),
                   idx.otherwise(0).alias("__i"))
         .filter(F.col("__i") != 0))
    w = (Window.partitionBy(entity).orderBy("__ts", "__i")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # __s{L} = best (latest) chain start that has reached level L as of
    # this row; later starts dominate (more window room), so max is the
    # right combine — mirrors upstream's events_timestamp propagation
    cur = e.withColumn(
        "__s1", F.max(F.when(F.col("__i") == 1, F.col("__ts"))).over(w))
    for lvl in range(2, len(steps) + 1):
        cur = cur.withColumn(f"__s{lvl}", F.max(F.when(
            (F.col("__i") == lvl)
            & (F.col("__ts") <= F.col(f"__s{lvl - 1}") + iv),
            F.col(f"__s{lvl - 1}"))).over(w))
    row_lvl = F.when(F.col("__i") == 1, 1)
    for lvl in range(2, len(steps) + 1):
        row_lvl = row_lvl.when(
            (F.col("__i") == lvl)
            & (F.col("__ts") <= F.col(f"__s{lvl - 1}") + iv), lvl)
    g = cur.groupBy(entity).agg(F.max(row_lvl).alias("level"))
    return g.filter(F.col("level").isNotNull())


def retention(df: DataFrame, entity: str, conditions: Sequence) -> DataFrame:
    """``retention(c1..cn)``: per entity, flag r1 = c1 happened; rk = c1 AND
    ck happened. One hash agg; returns (entity, r1..rn) as 0/1 ints."""
    aggs = [F.max(F.when(c, 1).otherwise(0)).alias(f"__c{i}")
            for i, c in enumerate(conditions, 1)]
    g = df.groupBy(entity).agg(*aggs)
    sel = [F.col(entity), F.col("__c1").alias("r1")]
    for i in range(2, len(conditions) + 1):
        sel.append((F.col("__c1") * F.col(f"__c{i}")).alias(f"r{i}"))
    return g.select(*sel)


def event_string(df: DataFrame, entity: str, ts: str, event: str,
                 tiebreak: str, mapping: dict[str, str]) -> DataFrame:
    """Collapse each entity's ordered event history to a compact string
    (one char per event via ``mapping``) for regex-based sequenceMatch /
    sequenceCount. Deterministic order: (ts, tiebreak).

    Per-entity strings must fit in memory — same bound as the reference's
    ``sequenceMatch`` state. Returns (entity, seq)."""
    code = F.col(event)
    for k, v in mapping.items():
        code = F.when(F.col(event) == k, F.lit(v)).otherwise(code)
    g = (df.withColumn("__c", code)
         .groupBy(entity)
         .agg(F.array_join(
             F.transform(
                 F.array_sort(F.collect_list(F.struct(F.col(ts).alias("t"),
                                                      F.col(tiebreak).alias("tb"),
                                                      F.col("__c").alias("c")))),
                 lambda s: s["c"]), "").alias("seq")))
    return g


def sequence_count(df: DataFrame, entity: str, ts: str, event: str,
                   tiebreak: str, mapping: dict[str, str], pattern: str) -> DataFrame:
    """``sequenceCount(pattern)`` over the event string: count
    non-overlapping regex matches per entity."""
    seq = event_string(df, entity, ts, event, tiebreak, mapping)
    return seq.select(
        F.col(entity),
        F.size(F.expr(f"regexp_extract_all(seq, '{pattern}', 0)")).alias("n_matches"))


def sessionize(df: DataFrame, entity: str, ts: str, gap_seconds: int) -> DataFrame:
    """Gap-based sessionization (the reference reaches this via
    windowFunnel-style idioms; Spark has ``session_window`` in streaming —
    this is the batch equivalent): new session when the gap from the
    previous event exceeds ``gap_seconds``; session id = cumulative count
    of session starts. Two stacked windows over one shuffle. Gaps are
    compared in microseconds, so a gap of 1800.11 s on a 1800 s
    threshold starts a session (whole seconds would truncate it to
    1800)."""
    w = Window.partitionBy(entity).orderBy(ts)
    us = F.unix_micros(F.col(ts))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000),
                    1).otherwise(0)
    return (df.withColumn("__new", is_new)
            .withColumn("session_id",
                        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
            .drop("__new"))


def funnel_apply_in_pandas(df: DataFrame, entity: str, ts: str, event: str,
                           steps: Sequence[str], window_seconds: int) -> DataFrame:
    """General windowFunnel via per-entity Arrow-batched scan
    (``applyInPandas``) — handles arbitrary step predicates/semantics the
    cascade can't. Slow path by design (SURVEY.md §2.10)."""
    steps = list(steps)

    step_idx = {s: i for i, s in enumerate(steps)}

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        # the reference per-level chain-start algorithm (same as
        # window_funnel_hof default mode): re-arm level 1 on every
        # step-1 event, propagate the chain start on advance, equal
        # timestamps allowed; ties order lower steps first
        ent = pdf[entity].iloc[0]
        pdf = pdf.assign(__i=pdf[event].map(step_idx))
        pdf = pdf[pdf["__i"].notna()].sort_values([ts, "__i"])
        starts = [None] * len(steps)
        for _, row in pdf.iterrows():
            i = int(row["__i"])
            if i == 0:
                starts[0] = row[ts]
            elif starts[i - 1] is not None and \
                    (row[ts] - starts[i - 1]).total_seconds() \
                    <= window_seconds:
                starts[i] = starts[i - 1]
        level = 0
        for s in starts:
            if s is None:
                break
            level += 1
        return pd.DataFrame({entity: [ent], "level": [level]})

    return df.groupBy(entity).applyInPandas(scan, schema=f"{entity} long, level int")


def funnel_rearm_fold_sql(evs_sql: str, k: int, win_us: int,
                          strict_increase: bool = False) -> str:
    """SQL text of the reference-default windowFunnel fold over a
    sorted ARRAY<STRUCT<t: BIGINT, i: INT>> expression (``evs_sql``):
    per-level chain-start array, re-armed on every step-1 event and
    propagated forward on advance — the algorithm of [U]
    src/AggregateFunctions/AggregateFunctionWindowFunnel.cpp
    getEventLevel (events_timestamp[i] = events_timestamp[i-1]).
    Equal timestamps advance (upstream default); ``strict_increase``
    additionally requires each step strictly after the previous
    step's event. Shared by operators.window_funnel_hof and the
    ch_sql dialect template so the two stay twins."""
    inc = (" AND __e.t > ELEMENT_AT(__acc.tl, __e.i - 1)"
           if strict_increase else "")
    set_slot = ("TRANSFORM(__acc.{a}, (__v, __j) -> "
                "IF(__j = {{idx}}, {{val}}, __v))")
    arm_ts = set_slot.format(a="ts").format(idx="0", val="__e.t")
    arm_tl = set_slot.format(a="tl").format(idx="0", val="__e.t")
    adv_ts = set_slot.format(a="ts").format(
        idx="__e.i - 1", val="ELEMENT_AT(__acc.ts, __e.i - 1)")
    adv_tl = set_slot.format(a="tl").format(idx="__e.i - 1",
                                            val="__e.t")
    return (
        "AGGREGATE({evs}, NAMED_STRUCT("
        "'ts', TRANSFORM(SEQUENCE(1, {k}), __x -> CAST(NULL AS BIGINT)),"
        " 'tl', TRANSFORM(SEQUENCE(1, {k}), __x -> CAST(NULL AS BIGINT))"
        "), (__acc, __e) -> CASE "
        "WHEN __e.i = 1 THEN NAMED_STRUCT('ts', {arm_ts}, 'tl', {arm_tl}) "
        "WHEN ELEMENT_AT(__acc.ts, __e.i - 1) IS NOT NULL "
        "AND __e.t <= ELEMENT_AT(__acc.ts, __e.i - 1) + {win}L{inc} "
        "THEN NAMED_STRUCT('ts', {adv_ts}, 'tl', {adv_tl}) "
        "ELSE __acc END, "
        "__s -> CAST(SIZE(FILTER(__s.ts, __v -> __v IS NOT NULL)) "
        "AS INT))").format(evs=evs_sql, k=k, win=win_us, inc=inc,
                           arm_ts=arm_ts, arm_tl=arm_tl,
                           adv_ts=adv_ts, adv_tl=adv_tl)


def window_funnel_hof(df: DataFrame, entity: str, ts: str, event: str,
                      steps: Sequence[str], window_seconds: int,
                      mode: str = "default",
                      tiebreak: str | None = None) -> DataFrame:
    """Single-shuffle windowFunnel: collect each entity's events into a
    sorted array and run the chain scan as a JVM ``aggregate``
    higher-order fold — ONE shuffle regardless of funnel depth. The
    better 100 TB shape when k is large; per-entity history must fit in
    memory (the same bound the reference's
    AggregateFunctionWindowFunnel has).

    ``mode`` mirrors the reference's windowFunnel modes
    ([U] src/AggregateFunctions/AggregateFunctionWindowFunnel.cpp):

    - ``default``: the reference algorithm (fixed round 8 — the old
      fold was greedy earliest-chain only): the level-1 timestamp
      re-arms on EVERY step-1 event, advances propagate the chain
      start per level, and equal-timestamp advances are allowed.
      Same semantics as window_funnel (the window-chain form).
    - ``strict_increase``: default plus each step's timestamp must be
      STRICTLY greater than the previous step's event timestamp.
    - ``strict_order``: once the chain starts, ANY event other than the
      next expected step freezes the chain at its current level.
      (Deviation note: upstream tracks out-of-order events with a
      dedicated sentinel; this freeze-on-any-non-advancing-event form
      matches upstream's documented A->B->D->C => level 2 example but
      may differ on exotic overlapping-condition inputs.)
    - ``strict_dedup``: a repeat of an already-matched step event before
      the next step freezes the chain; other events are ignored.

    ``tiebreak`` names a column giving a total order for equal
    timestamps (used by the strict single-chain modes; the default/
    strict_increase fold orders by (ts, step index) like upstream).
    Returns (entity, level) for entities that reached step 1."""
    win_us = int(window_seconds) * 1_000_000
    if mode in ("default", "strict_increase"):
        # (t, i) entries for step events only, sorted; the fold is a
        # shared SQL template (built as ONE expression string — the
        # py4j-per-Column cost on this bench headliner is real)
        def q(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        whens = " ".join(f"WHEN {q(s)} THEN {i + 1}"
                         for i, s in enumerate(steps))
        ev = (f"IF((CASE {event} {whens} ELSE 0 END) = 0, NULL, "
              f"NAMED_STRUCT('t', UNIX_MICROS({ts}), "
              f"'i', CASE {event} {whens} ELSE 0 END))")
        evs = f"ARRAY_SORT(COLLECT_LIST({ev}))"
        fold = funnel_rearm_fold_sql(
            evs, len(steps), win_us,
            strict_increase=(mode == "strict_increase"))
        g = df.groupBy(entity).agg(F.expr(fold).alias("level"))
        return g.filter(F.col("level") >= 1)
    if mode not in ("strict_order", "strict_dedup"):
        raise ValueError(f"windowFunnel: unknown mode {mode!r}")
    # strict modes: single-chain fold is EXACT (any deviation kills the
    # chain, so only the first chain matters)
    fields = [F.unix_micros(F.col(ts)).alias("t")]
    if tiebreak:
        fields.append(F.col(tiebreak).alias("tb"))
    fields.append(F.col(event).alias("e"))
    evs = F.array_sort(F.collect_list(F.struct(*fields)))
    init = F.struct(F.lit(0).alias("level"),
                    F.lit(0).cast("long").alias("t0"),
                    F.lit(0).cast("long").alias("tp"),
                    F.lit(False).alias("dead"))

    def mk(level, t0, tp, dead=F.lit(False)):
        return F.struct(level.alias("level"), t0.alias("t0"),
                        tp.alias("tp"), dead.alias("dead"))

    def step_fn(acc, e):
        in_window = e["t"] <= acc["t0"] + F.lit(win_us)
        start = mk(F.lit(1), e["t"], e["t"])
        advanced = mk(acc["level"] + 1, acc["t0"], e["t"])
        frozen = mk(acc["level"], acc["t0"], acc["tp"], F.lit(True))
        out = F.when(acc["dead"], acc)
        out = out.when((acc["level"] == 0) & (e["e"] == steps[0]), start)
        for lvl in range(1, len(steps)):
            at = (acc["level"] == lvl) & (e["e"] == steps[lvl])
            out = out.when(at & in_window, advanced)
        if mode == "strict_order":
            # any non-advancing event after the chain started freezes it
            out = out.when((acc["level"] >= 1) &
                           (acc["level"] < len(steps)), frozen)
        elif mode == "strict_dedup":
            # a repeat of an already-matched step freezes the chain
            dup = F.lit(False)
            for lvl in range(1, len(steps)):
                dup = dup | ((acc["level"] >= lvl) & (acc["level"] < len(steps)) &
                             (e["e"] == steps[lvl - 1]))
            out = out.when(dup, frozen)
        return out.otherwise(acc)

    g = df.groupBy(entity).agg(
        F.aggregate(evs, init, step_fn).getField("level").alias("level"))
    return g.filter(F.col("level") >= 1)
