"""Seeded benchmark inputs.

Batch tables mirror the fixture tables' schemas and value domains
(FIXTURES.md): the same column names, Arrow types and categorical
vocabularies, uniform keys, word-soup documents and unit-norm 64-d
embeddings. Knob files carry the reference's wire messages
``{id, n, ts}`` (simulate-knobs.go:25-29) with the sine profile of
simulate-knobs.go:64-71, plus seeded poison lines that the C1 drop path
(knobs.go:85-90) must discard.

Everything is a pure function of the seed: the same seed writes the same
bytes.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "old", "small", "new", "cold", "large", "hot", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "zh", "es", "de", "fr"]
VOCAB = (
    "the stream query row fast small spark group customer line sort hash "
    "batch data filter value big key order table scan merge part window "
    "join slow agg column a vector"
).split()

DAY_MS = 86_400_000
ORDER_DATE_0 = 788_918_400_000  # 1995-01-01
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01
KNOB_T0_S = 1_704_067_200

TOTAL_KNOBS = 5  # util/util.go:10
CYCLE_BASE_S = 20  # simulate-knobs.go:21
DELTA = 0.2  # snapshot_scale_stream's per-trigger quota factor
WINDOW_MS = 100  # windowed_count_stream's default tumbling window


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_ms(values_ms):
    return pa.array(values_ms.astype("int64"), pa.timestamp("ms"))


def batch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (fixture row counts at
    sf0.001: 150 customers, 10 suppliers, 200 parts, 1.5k orders, 6k
    lineitems, 1k events; documents and embeddings stay at 500 rows, as
    the fixtures do below sf0.1)."""
    rng = np.random.default_rng(seed)
    k = sf / 0.001
    n_cust, n_supp, n_part = int(150 * k), max(10, int(10 * k)), int(200 * k)
    n_ord, n_line, n_evt = int(1500 * k), int(6000 * k), int(1000 * k)
    n_users, n_docs, n_vecs = max(15, int(15 * k)), 500, 500

    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts_ms(ORDER_DATE_0 + rng.integers(0, 2404, n_ord) * DAY_MS),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts_ms(
                ORDER_DATE_0 + rng.integers(1, 2499, n_line) * DAY_MS
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_evt), pa.int64()),
            "ts": pa.array(EVENTS_T0_US + ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


@dataclass
class KnobFile:
    """One trigger's worth of wire lines and what the pipeline must make
    of them: the (id, count) pairs of every (window, id) group, and the
    number of poison lines the parse must drop."""

    lines: list[str]
    poison: int
    groups: list[tuple[int, int]] = field(default_factory=list)

    @property
    def fanned(self) -> int:
        return sum(c for _, c in self.groups)


def knob_files(seed: int, n_files: int, amplitude: int, span_s: float) -> list[KnobFile]:
    """``n_files`` consecutive slices of the simulator's output, each
    covering ``span_s`` seconds of event time. Knob ``id`` emits every
    (id+1)x250 ms (simulate-knobs.go:80) with a seeded jitter inside its
    slot; the value follows n(t) = N*sin(pi*(t mod P)/P), P = 20(id+1)
    (simulate-knobs.go:64-71). Slices are whole windows apart, so one
    file's (window, id) groups never meet another file's. About 1% of
    lines are poison: broken JSON, a missing field or a mistyped one."""
    rng = np.random.default_rng(seed)
    span_ms = int(span_s * 1000)
    out = []
    for f in range(n_files):
        lines, groups = [], {}
        for knob in range(TOTAL_KNOBS):
            slot = (knob + 1) * 250
            for start in range(f * span_ms, (f + 1) * span_ms, slot):
                # jitter within the slot, never past the end of this file
                ms = start + int(rng.integers(0, min(slot, (f + 1) * span_ms - start)))
                # half a millisecond off the grid: no window-boundary rounding
                ts = KNOB_T0_S + (ms + 0.5) / 1000.0
                period = CYCLE_BASE_S * (knob + 1)
                n = int(amplitude * math.sin(math.pi * (ts % period) / period))
                lines.append(json.dumps({"id": knob, "n": n, "ts": ts}))
                quota = math.floor(n * DELTA)
                if quota > 0:
                    key = (ms // WINDOW_MS, knob)
                    groups[key] = groups.get(key, 0) + quota
        n_poison = max(1, round(len(lines) * 0.01))
        for _ in range(n_poison):
            kind = int(rng.integers(0, 3))
            bad = [
                '{"id": 1, "n": 40',
                json.dumps({"id": 2, "ts": KNOB_T0_S + f * span_s}),
                json.dumps({"id": 3, "n": "many", "ts": KNOB_T0_S}),
            ][kind]
            lines.insert(int(rng.integers(0, len(lines) + 1)), bad)
        out.append(
            KnobFile(
                lines=lines,
                poison=n_poison,
                groups=sorted((knob, c) for (_, knob), c in groups.items()),
            )
        )
    return out


class KnobFeeder:
    """Publishes knob files into the directory the stream reads, keeping
    ``lead`` files ahead of the ones already consumed. Each file appears
    atomically (written under a hidden name, then renamed), and
    modification times step by one second, so the file source, which
    orders by mtime, reads them in event-time order."""

    def __init__(self, files: list[KnobFile], out_dir: str, lead: int):
        self.files, self.out_dir, self.lead = files, out_dir, lead
        self.published = 0
        os.makedirs(out_dir, exist_ok=True)

    def top_up(self, consumed: int) -> None:
        while self.published < min(consumed + self.lead, len(self.files)):
            i = self.published
            tmp = os.path.join(self.out_dir, f".knobs-{i:05d}.json")
            with open(tmp, "w") as fh:
                fh.write("\n".join(self.files[i].lines) + "\n")
            os.utime(tmp, (1_700_000_000 + i, 1_700_000_000 + i))
            os.rename(tmp, os.path.join(self.out_dir, f"knobs-{i:05d}.json"))
            self.published += 1
