"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Runs one workload as a closed loop with one client (the next operation
starts when the previous one returns) on Spark ``local[nproc]``, checks
the engine's outputs, prints every metric by name and unit, and ends
with one JSON result line:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 1`` the run measures the workload untraced, then again
with span recording and Spark metric collection, and reports the
per-layer metrics and the tracing overhead instead.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("interactive", "ingest")


class Context:
    """What a workload needs from the harness, and what it leaves for
    the report."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = harness.nproc()
        self.load_start = os.getloadavg()
        self.cpu_start = harness.cpu_times()
        self.excluded_s = 0.0   # the oracle check, before set-up ends
        self.setup_s = None
        self.session: dict[str, float] = {}
        self.notes: dict = {}
        self.spark = None

    def start(self):
        self.spark, self.session["start_s"] = harness.start_spark(self.cores)
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_PROCESS - self.excluded_s

    def measure(self, fn) -> dict:
        out = {"untraced": fn(harness.NullTracer())}
        if self.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(self.spark)
            tracer.install()
            try:
                out["traced"] = fn(tracer)
            finally:
                tracer.uninstall()
            out["tracer"] = tracer
        return out


def e2e_metrics(ctx: Context, res: dict, rss: float) -> tuple[dict, dict]:
    """(result-line metrics, report-only metrics) of the untraced run."""
    u = res["untraced"]
    reads = u["reads"]
    line = {"setup_s": ctx.setup_s,
            "select_p50_s": harness.p50(reads),
            "queries_per_s": len(reads) / u["wall_s"],
            "peak_rss_mb": rss}
    report = {"select_samples": len(reads),
              "select_p90_s": harness.p90(reads)}
    if ctx.workload == "ingest":
        ins, mer = u["inserts"], u["merges"]
        report.update({
            "insert_samples": len(ins),
            "insert_p50_s": harness.p50(ins),
            "insert_p90_s": harness.p90(ins),
            "insert_rows_per_s": u["rows"] / (sum(ins) + sum(mer)),
            "merge_samples": len(mer),
            "merge_p50_s": harness.p50(mer),
            "write_amp": u["bytes_written"] / u["input_bytes"],
            "space_amp": u["live_bytes"] / u["input_bytes"],
        })
    return line, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.prepare_process()
    import clickhouse_clickhouse_spark  # noqa: F401 — fail fast if absent

    from perfbench import ingest, interactive, metrics

    ctx = Context(args)
    workload = {"interactive": interactive, "ingest": ingest}[args.workload]
    try:
        res = workload.run(ctx)
        rss = harness.peak_rss_mb(ctx.spark)
        env = harness.environment(ctx.spark, ctx.seed, ctx.cores,
                                  ctx.load_start, ctx.cpu_start)
    finally:
        if ctx.spark is not None:
            harness.stop_spark(ctx.spark)
        # scratch only: Spark's dirs and the engine's shipped package zip
        shutil.rmtree(os.path.join(harness.WORK, "tmp"), ignore_errors=True)

    phases = [res["untraced"]] + ([res["traced"]] if ctx.trace else [])
    attempted = sum(p["attempted"] for p in phases)
    failures = [f for p in phases for f in p["failed"]]
    line, report = e2e_metrics(ctx, res, rss)
    report["error_rate"] = len(failures) / attempted

    units = {n: u for n, u, *_ in metrics.END_TO_END + metrics.REPORT_ONLY}
    units.update({n: u for n, u, _ in metrics.PER_LAYER})
    detail = {"workload": ctx.workload, "environment": env,
              "session": ctx.session, "notes": ctx.notes,
              "passes_or_rounds": res["untraced"].get(
                  "passes", res["untraced"].get("rounds")),
              "failures": failures[:20], "end_to_end": {**line, **report},
              "latencies": res["untraced"].get("latencies")}
    if ctx.trace:
        tracer = res["tracer"]
        traced = res["traced"]
        overhead = (harness.p50(traced["reads"])
                    - harness.p50(res["untraced"]["reads"]))
        out = metrics.per_layer(traced["ops"], tracer.counts, ctx.session,
                                ctx.cores, overhead)
        if ctx.workload == "interactive":
            detail["classification"] = metrics.classify(traced["ops"],
                                                        ctx.cores)
        detail["per_operation"] = traced["ops"]
        spans = os.path.join(harness.WORK,
                             f"spans-{ctx.workload}-seed{ctx.seed}.json")
        with open(spans, "w") as f:
            json.dump(tracer.dump(), f)
        detail["spans_file"] = os.path.relpath(spans, harness.ROOT)
        shown = out
    else:
        out = line
        shown = {**line, **{k: v for k, v in report.items()
                            if v is not None}}

    for name, value in shown.items():
        print(f"{name:<36} {value:>16.6g} {units.get(name, '')}")
    print(f"{'correct':<36} {str(not failures):>16}")
    print(json.dumps({"report": {**detail, "metrics": shown}},
                     default=str))
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in out.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
