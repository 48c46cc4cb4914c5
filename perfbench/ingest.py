"""``ingest``: writes beside reads on a file-backed MergeTree table.

Reference-dialect statements go through ``ch_sql.ch_statement`` against
``ENGINE=MergeTree PARTITION BY day ORDER BY user_id`` in a data
directory of the run's own. One round is two seeded ``INSERT ... FORMAT
JSONEachRow`` batches, each followed by fifteen SELECTs with seeded
literals (every template three times), then ``OPTIMIZE TABLE ...
FINAL``.
Rounds repeat until ``seconds`` have elapsed. Every SELECT
result is compared with the answer computed in Python from the rows
generated so far, and after the run ``count()`` and ``sum(value)`` are
checked against the generator's totals.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import traceback

import numpy as np

from perfbench import datagen, harness
from perfbench.datagen import (EVENT_TYPES, INGEST_DAYS, SELECT_TEMPLATES,
                               VALUE_STEP)

ROWS_PER_INSERT = 5000
INSERTS_PER_ROUND = 2
TEMPLATE_REPEATS = 3   # SELECTs per insert: each template this many times
DATA_DIR_CONF = "spark.clickhouse_clickhouse_spark.dataDir"
DDL = ("CREATE TABLE {table} (day Date, ts DateTime, user_id UInt64, "
       "event_type String, value Float64) ENGINE = MergeTree "
       "PARTITION BY day ORDER BY user_id")


class Expected:
    """The generated rows so far, and each template's answer over them."""

    def __init__(self):
        self.cols: dict[str, list[np.ndarray]] = {}
        self.rows = 0
        self.value_sum = 0   # in units of 1/VALUE_STEP

    def add(self, batch: dict) -> None:
        for k in ("day", "sec", "user", "etype", "value"):
            self.cols.setdefault(k, []).append(batch[k])
        self.rows += len(batch["day"])
        self.value_sum += int(batch["value"].sum())

    def answer(self, tid: str, lit: dict) -> list[tuple]:
        c = {k: np.concatenate(v) for k, v in self.cols.items()}
        val = c["value"]
        if tid == "point":
            sel = c["user"] == lit["user"]
            n = int(sel.sum())
            # the reference dialect's sum() of no rows is 0, not NULL
            return [(n, int(val[sel].sum()) / VALUE_STEP)]
        if tid == "uniq":
            d = INGEST_DAYS.index(dt.date.fromisoformat(lit["day"]))
            return [(len(np.unique(c["user"][c["day"] >= d])),)]
        if tid == "count_if":
            e = EVENT_TYPES.index(lit["etype"])
            return [(int((c["etype"] == e).sum()),
                     int((val > lit["v"] * VALUE_STEP).sum()))]
        if tid == "multi_if":
            band = np.where(val < lit["a"] * VALUE_STEP, 0,
                            np.where(val < lit["b"] * VALUE_STEP, 1, 2))
            names = ("low", "mid", "high")
            return [(names[b], int(n)) for b, n in
                    zip(*np.unique(band, return_counts=True))]
        if tid == "hourly":
            d = INGEST_DAYS.index(dt.date.fromisoformat(lit["day"]))
            hours, counts = np.unique(c["sec"][c["day"] == d] // 3600,
                                      return_counts=True)
            base = dt.datetime.combine(INGEST_DAYS[d], dt.time())
            return [(base + dt.timedelta(hours=int(h)), int(n))
                    for h, n in zip(hours, counts)]
        raise KeyError(tid)


def _rows(collected) -> list[tuple]:
    return sorted((tuple(r) for r in collected), key=repr)


def run(ctx) -> dict:
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    spark = ctx.start()
    root = os.path.join(harness.WORK, "ingest")
    shutil.rmtree(root, ignore_errors=True)

    def new_table(name: str) -> str:
        path = os.path.join(root, name)
        os.makedirs(path)
        spark.conf.set(DATA_DIR_CONF, path)
        ch_statement(spark, DDL.format(table=name)).collect()
        return path

    phases = iter(("ev_warm", "ev", "ev_traced"))

    def measure(tracer, seed: int = ctx.seed, seconds: float = ctx.seconds,
                inserts: int = INSERTS_PER_ROUND,
                repeats: int = TEMPLATE_REPEATS) -> dict:
        table = next(phases)
        path = new_table(table)
        batches = datagen.IngestBatches(seed, ROWS_PER_INSERT)
        lits = datagen.SelectLiterals(seed)
        expect = Expected()
        out = {"reads": [], "inserts": [], "merges": [], "failed": [],
               "attempted": 0, "ops": [], "input_bytes": 0,
               "bytes_written": 0, "files_written": 0, "rows": 0,
               "latencies": [], "wall_s": 0.0}
        files = harness.dir_files(path)
        n = 0

        def op(kind: str, sql: str, data=None, check=None, tag=None):
            """One statement, timed; returns its collected rows."""
            nonlocal files, n
            n += 1
            out["attempted"] += 1
            live = len(files)
            rows, err = None, None
            t = time.perf_counter()
            try:
                with tracer.operation(f"{kind}{n}"):
                    with tracer.phase("exec"):
                        with tracer.span("ch_sql.statement"):
                            df = ch_statement(spark, sql, data)
                        rows = df.collect()
            except Exception:  # noqa: BLE001 — counted, run goes on
                err = traceback.format_exc(limit=3)
            lat = time.perf_counter() - t
            out["wall_s"] += lat
            if err is None:
                key = {"select": "reads", "insert": "inserts",
                       "merge": "merges"}.get(kind)
                if key:
                    out[key].append(lat)
                out["latencies"].append((tag or kind, lat))
                if check is not None:
                    err = check(rows)
            if err is not None:
                out["failed"].append({"op": f"{kind}{n}", "sql": sql[:200],
                                      "error": err})
            now = harness.dir_files(path)
            new = {f: s for f, s in now.items() if f not in files}
            out["files_written"] += len(new)
            out["bytes_written"] += sum(new.values())
            files = now
            rec = tracer.collect()
            if rec is not None:
                rec.update(op=kind, kind=kind, latency_s=lat,
                           **{"sources.live_files": live,
                              "sources.files_written": len(new),
                              "sources.bytes_written": sum(new.values())})
                out["ops"].append(rec)
            return rows

        # The wall of queries_per_s is the sum of statement latencies, so
        # the benchmark's own work between statements (making batches and
        # expected answers, listing the table's files) is not in it.
        t_start = time.perf_counter()
        rounds = 0
        while rounds == 0 or time.perf_counter() - t_start < seconds:
            rounds += 1
            for _ in range(inserts):
                b = batches.next()
                expect.add(b)
                out["rows"] += len(b["lines"])
                out["input_bytes"] += sum(len(s) + 1 for s in b["lines"])
                want = len(b["lines"])
                op("insert", f"INSERT INTO {table} FORMAT JSONEachRow",
                   b["lines"], lambda r, want=want: None
                   if r and r[0]["written"] == want
                   else f"written {r} != {want}")
                # a fixed schedule: each seed reads the same shapes at the
                # same part counts; only the literals and the data differ
                for tid, tpl in SELECT_TEMPLATES * repeats:
                    lit = lits.draw()
                    ans = expect.answer(tid, lit)
                    op("select", tpl.format(table=table, **lit), None,
                       lambda r, ans=ans: None if _rows(r) == _rows(ans)
                       else f"got {_rows(r)[:5]} want {_rows(ans)[:5]}",
                       tid)
            op("merge", f"OPTIMIZE TABLE {table} FINAL")
        out["elapsed_s"] = time.perf_counter() - t_start
        out["rounds"] = rounds

        wall = out["wall_s"]   # the final check is not a timed operation
        total = (expect.rows, expect.value_sum / VALUE_STEP)
        op("total", f"SELECT count() AS c, sum(value) AS s FROM {table}",
           None, lambda r: None if tuple(r[0]) == total
           else f"totals {tuple(r[0])} != {total}")
        out["wall_s"] = wall
        out["live_bytes"] = sum(harness.dir_files(path).values())
        return out

    # Warm-up: a short round (one insert, each template twice, a merge) of
    # other inputs on a table of its own: different statement text, so the
    # measured phases start with their own translate-cache misses. Reads
    # keep getting faster over about the first ten (JIT), hence twice.
    t_warm = time.perf_counter()
    warm = measure(harness.NullTracer(), ctx.seed + 1, 0.0, inserts=1,
                   repeats=2)
    ctx.session["warmup_s"] = time.perf_counter() - t_warm
    ctx.notes["warmup_failures"] = warm["failed"]
    ctx.setup_done()
    return ctx.measure(measure)
