"""Seeded inputs of the benchmark.

The registry queries read the fixture tables in ``perfbench/fixture``
(a verbatim copy of the sf0.001 test fixture, checked against
``FIXTURE_SHA256`` before a run). Everything else a run feeds the engine
comes from here and ``--seed``: the operation orders, and the ingest
batches and statement literals. The same seed gives identical operation
lists and byte-identical batches.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "fixture")
FIXTURE_SHA256 = {
    "customer": "14cc0a87578999fcb79267bfa2c900f0104df23785151a7274297d1aea7236d4",
    "documents": "dae477afb99976de4d51a57a650a5af1d3d0c3593bcf7195a77a6b068ae867bc",
    "embeddings": "a3177c59491c14cc2ad432cd53bedaa8040fedf382f4cdb26e0563ec89179a41",
    "events": "7fd4b9d6277e78d4552e69475995d203a9e38aa4cc914d87cb79b0f9bd145a55",
    "lineitem": "104501c514a4f24eb4ef0431eeb7cc95dd2b78b516d01b9d7be62c9132165c52",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "orders": "1c313e7a580f267933bc45c636774722dfeaad27d0b9c2f09192ce9beddd1c76",
    "part": "fa2e28382bd1552ae9268cd5a243552ab43f7de7dadee5a32be3e82c30df8aa8",
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "supplier": "6a61c8ceec13a7bf75e5ff84d6ac43ff5002921a3dba023cae109f2239d32073",
}
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def check_fixture() -> str:
    """The fixture directory, after checking every table's bytes."""
    for name, want in FIXTURE_SHA256.items():
        path = os.path.join(FIXTURE_DIR, f"{name}.parquet")
        with open(path, "rb") as f:
            got = hashlib.sha256(f.read()).hexdigest()
        if got != want:
            raise ValueError(f"{path}: sha256 {got} != {want}")
    return FIXTURE_DIR


def shuffled(names: list[str], seed: int, salt: int) -> list[str]:
    """A seeded permutation of ``names``; ``salt`` separates passes."""
    rng = np.random.default_rng([seed, 2, salt])
    return [names[i] for i in rng.permutation(len(names))]


# ---------------------------------------------------------------- ingest

INGEST_DAYS = tuple(dt.date(2024, 3, d) for d in range(1, 8))
INGEST_USERS = 10_000
VALUE_STEP = 8   # values are multiples of 1/8: float sums stay exact


class IngestBatches:
    """Seeded JSONEachRow batches with a Zipf-skewed ``user_id``.

    Values are multiples of 1/8 below 1000, so every partial sum the
    engine can form is exact in double precision and result checks can
    compare exactly."""

    def __init__(self, seed: int, rows: int):
        self.rng = np.random.default_rng([seed, 3])
        self.rows = rows

    def next(self) -> dict:
        r, n = self.rng, self.rows
        day = r.integers(0, len(INGEST_DAYS), n)
        sec = r.integers(0, 86_400, n)
        user = (r.zipf(1.3, n) - 1) % INGEST_USERS
        etype = r.choice(len(EVENT_TYPES), n, p=(0.3, 0.05, 0.1, 0.05, 0.5))
        value = r.integers(0, 8 * 1000, n)   # value = k / 8
        lines = []
        for d, s, u, e, v in zip(day.tolist(), sec.tolist(), user.tolist(),
                                 etype.tolist(), value.tolist()):
            day_s = INGEST_DAYS[d].isoformat()
            lines.append(json.dumps({
                "day": day_s,
                "ts": f"{day_s} {s // 3600:02d}:{s // 60 % 60:02d}:"
                      f"{s % 60:02d}",
                "user_id": u, "event_type": EVENT_TYPES[e],
                "value": v / VALUE_STEP}, separators=(",", ":")))
        return {"lines": lines, "day": day, "sec": sec, "user": user,
                "etype": etype, "value": value}


# (template id, reference-dialect text). Literals come from small seeded
# domains, so a run repeats some statements exactly (translate-cache
# hits) and sees others for the first time (misses).
SELECT_TEMPLATES = (
    ("point", "SELECT count() AS c, sum(value) AS s FROM {table} "
              "WHERE user_id = {user}"),
    ("uniq", "SELECT uniqExact(user_id) AS u FROM {table} "
             "WHERE day >= toDate('{day}')"),
    ("count_if", "SELECT countIf(event_type = '{etype}') AS c, "
                 "countIf(value > {v}) AS hi FROM {table}"),
    ("multi_if", "SELECT multiIf(value < {a}, 'low', value < {b}, 'mid', "
                 "'high') AS band, count() AS c FROM {table} GROUP BY band"),
    ("hourly", "SELECT toStartOfHour(ts) AS h, count() AS c FROM {table} "
               "WHERE day = toDate('{day}') GROUP BY h"),
)


class SelectLiterals:
    """Seeded literal draws for the SELECT templates."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 4])

    def draw(self) -> dict:
        r = self.rng
        a = int(r.choice((5, 10, 25)))
        return {"user": int((r.zipf(1.3) - 1) % INGEST_USERS),
                "day": INGEST_DAYS[int(r.integers(0, 7))].isoformat(),
                "etype": EVENT_TYPES[int(r.integers(0, 5))],
                "v": int(r.choice((10, 100, 500))),
                "a": a, "b": a * int(r.choice((4, 20)))}
