"""``interactive``: the bench.py query mix, closed loop, one client.

The 13 headline queries plus every ClickBench-style ``cb_*`` registry
query, over the sf0.001 fixture tables. Each pass runs all of them in a
seed-shuffled order; each operation calls the registry's query function
and writes the result to the noop sink. Passes repeat until ``seconds``
have elapsed, so every run measures whole passes of the same mix.
"""

from __future__ import annotations

import time
import traceback

from perfbench import datagen, harness

HEADLINE = (
    "q1_pricing_summary", "join_inner_3way", "tpch_q5_local_supplier",
    "agg_rollup", "agg_uniq_exact", "window_ranks", "join_asof",
    "tumble_hourly", "funnel_levels_hof", "session_stats", "dedup_exact",
    "minhash_lsh_pairs_xxhash", "topk_cosine",
)
CLICKBENCH = (
    "cb_counts_by_type", "cb_hourly_activity", "cb_top_users_by_errors",
    "cb_daily_unique_active", "cb_value_deciles", "cb_type_share_per_user",
    "cb_json_prop_buckets", "cb_weekday_purchase_rate", "cb_like_filter_topk",
    "cb_multi_distinct", "cb_value_pow2_histogram", "cb_busiest_10min",
    "cb_user_value_page2", "cb_regex_extract_group", "cb_dialect_top_types",
    "cb_dialect_daily", "cb_wide_sums", "cb_heavy_users",
    "cb_star_filter_page", "cb_minmax_ts", "cb_point_lookup",
    "cb_user_minute_type", "cb_having_avg_len", "cb_expr_group_keys",
    "cb_case_source_split", "cb_like_min_agg", "cb_order_by_string",
    "cb_month_type_matrix", "cb_json_key_quartiles",
    "cb_user_retention_week", "cb_url_host_seg_topk",
    "cb_url_query_param_buckets", "cb_url_path_depth",
    "cb_referrer_domain_uniq", "cb_topn_with_ties", "cb_top_users_per_type",
    "cb_regex_heavy_scan", "cb_regex_replace_group",
    "cb_date_histogram_uniq", "cb_minute_histogram", "cb_substr_topk",
    "cb_activity_histogram", "cb_day_type_uniq_matrix",
    "cb_value_deciles_approx", "cb_url_query_param_buckets_fast",
)
QUERIES = HEADLINE + CLICKBENCH


def check_results(data_dir: str, results: dict) -> dict[str, str]:
    """Exact-parity comparison of each query's collected result with its
    DuckDB oracle (the tools/check.py gate). Returns name -> failure."""
    import duckdb

    from clickhouse_clickhouse_spark.registry import all_oracles
    from clickhouse_clickhouse_spark.tables import TABLES
    from tools.check import canon_parity

    oracles = all_oracles(order="stable")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    failures = {}
    for name, (pdf, err) in results.items():
        if err is not None:
            failures[name] = f"spark error: {err}"
            continue
        if name not in oracles:
            continue   # rows-only query: ran without error
        try:
            odf = con.execute(oracles[name]).df()
        except duckdb.Error as e:
            failures[name] = f"duckdb error: {e}"
            continue
        try:
            scols, srows = canon_parity(pdf)
            ocols, orows = canon_parity(odf)
        except TypeError as e:
            failures[name] = f"unorderable output shape: {e}"
            continue
        if scols != ocols:
            failures[name] = f"columns differ: {scols} vs {ocols}"
        elif len(srows) != len(orows):
            failures[name] = f"rowcount {len(srows)} vs {len(orows)}"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(srows, orows))
                        if a != b), None)
            if bad is not None:
                failures[name] = (f"value diff at sorted row {bad}: "
                                  f"{srows[bad]} vs {orows[bad]}")
    con.close()
    return failures


def run(ctx) -> dict:
    from clickhouse_clickhouse_spark.registry import all_queries
    from clickhouse_clickhouse_spark.tables import TABLES, load_table

    data_dir = datagen.check_fixture()
    spark = ctx.start()
    qs = all_queries(order="stable")
    missing = [n for n in QUERIES if n not in qs]
    if missing:
        raise KeyError(f"registry lacks benchmark queries {missing}")

    # Warm-up: every query once, collected, on the measured data; the
    # collected results are the correctness check's input.
    t_warm = time.perf_counter()
    for t in TABLES:
        load_table(spark, data_dir, t)

    results = {}
    for name in QUERIES:
        try:
            results[name] = (qs[name](spark, data_dir).toPandas(), None)
        except Exception as e:  # noqa: BLE001 — recorded as a failure
            results[name] = (None, f"{type(e).__name__}: {e}")
    ctx.session["warmup_s"] = time.perf_counter() - t_warm

    t0 = time.perf_counter()
    wrong = check_results(data_dir, results)
    del results
    ctx.excluded_s += time.perf_counter() - t0
    ctx.notes["check_s"] = time.perf_counter() - t0
    ctx.notes["wrong"] = wrong
    ctx.setup_done()

    def measure(tracer) -> dict:
        by_op, failed, ops, attempted = [], [], [], 0
        t_start = time.perf_counter()
        p = 0
        while p == 0 or time.perf_counter() - t_start < ctx.seconds:
            for name in datagen.shuffled(list(QUERIES), ctx.seed, p):
                attempted += 1
                df, err = None, None
                t = time.perf_counter()
                try:
                    with tracer.operation(f"p{p}:{name}"):
                        with tracer.phase("build", "queries.build"):
                            df = qs[name](spark, data_dir)
                        with tracer.phase("exec"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 — counted, run goes on
                    err = traceback.format_exc(limit=3)
                dt = time.perf_counter() - t
                if err is None:
                    by_op.append((name, dt))
                if err is not None or name in wrong:
                    failed.append({"op": name, "error": err or wrong[name]})
                rec = tracer.collect(df)
                if rec is not None:
                    rec.update(op=name, kind="read", latency_s=dt)
                    ops.append(rec)
            p += 1
        return {"reads": [dt for _name, dt in by_op], "failed": failed,
                "attempted": attempted,
                "wall_s": time.perf_counter() - t_start, "passes": p,
                "ops": ops, "latencies": by_op}

    return ctx.measure(measure)
