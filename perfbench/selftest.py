"""Self-test of the benchmark's inputs (no Spark needed):

    python3 perfbench/selftest.py

Checks that the fixture tables are the recorded bytes, that one seed
gives identical query orders and byte-identical ingest batches and
statement literals, that another seed gives a different order,
different literals and different batches, and that BENCHMARK.json lists
the metrics the runs print.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import datagen, harness, interactive, metrics  # noqa: E402


def _inputs(seed: int) -> dict:
    batches = datagen.IngestBatches(seed, 100)
    lits = datagen.SelectLiterals(seed)
    return {
        "order": datagen.shuffled(list(interactive.QUERIES), seed, 0),
        "order_pass2": datagen.shuffled(list(interactive.QUERIES), seed, 1),
        "batches": [batches.next()["lines"] for _ in range(3)],
        "literals": [lits.draw() for _ in range(10)],
    }


def main() -> int:
    problems = []
    try:
        datagen.check_fixture()
    except (OSError, ValueError) as e:
        problems.append(f"fixture: {e}")

    a, b, c = _inputs(7), _inputs(7), _inputs(8)
    if a != b:
        problems.append("same seed, different operation inputs")
    for k in a:
        if a[k] == c[k]:
            problems.append(f"different seed, same {k}")
    if a["order"] == a["order_pass2"]:
        problems.append("passes of one run share an order")

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"], m["bound"])
           for m in spec["end_to_end"]]
    if e2e != [tuple(m) for m in metrics.END_TO_END]:
        problems.append("BENCHMARK.json end_to_end != metrics.END_TO_END")
    layer = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    if layer != list(metrics.PER_LAYER):
        problems.append("BENCHMARK.json per_layer != metrics.PER_LAYER")

    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
