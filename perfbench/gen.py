"""Seeded input generators.

Every input a workload consumes is made here from ``--seed`` before any
timing starts. The load workloads share one record shape; each batch
carries a planted-fault ledger (violations per rule, duplicate keys,
late rows, updates vs inserts) so the checker and the doc can say what
the engine was asked to catch. The operator workload gets a small
TPC-H-ish star plus an events stream and a documents corpus in the
shapes the registry queries read.

Only numpy and pyarrow are used: the engine under test never touches
the generator.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STATUSES = ["new", "paid", "shipped", "returned"]
T0 = dt.datetime(2024, 1, 1)
T0_US = int((T0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)

# share of a batch planted with each contract violation
VIOLATION_RATES = {"range(amount)": 0.03, "domain(status)": 0.02, "nullability(customer)": 0.02}
DUP_RATE = 0.05


@dataclass
class FaultLedger:
    """What a generated batch was planted with."""

    rows: int = 0
    violations: dict = field(default_factory=lambda: {k: 0 for k in VIOLATION_RATES})
    duplicate_rows: int = 0
    late_rows: int = 0
    updates: int = 0
    inserts: int = 0

    def as_dict(self) -> dict:
        return {
            "rows": self.rows,
            "violations": dict(self.violations),
            "duplicate_rows": self.duplicate_rows,
            "late_rows": self.late_rows,
            "updates": self.updates,
            "inserts": self.inserts,
        }


def _records(
    rng: np.random.Generator,
    ids: np.ndarray,
    seq0: int,
    ts_lo_us: int,
    ts_hi_us: int,
    late_before_us: int | None = None,
    late_rate: float = 0.0,
) -> tuple[pa.Table, FaultLedger]:
    """One batch: ``ids`` in row order (duplicates allowed), cursor
    ``seq`` strictly increasing from ``seq0``. The last row is always
    clean, so the cursor frontier (max admitted seq) is the batch max."""
    n = len(ids)
    ledger = FaultLedger(rows=n)
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    ts = rng.integers(ts_lo_us, ts_hi_us, size=n, dtype=np.int64)
    amount = np.round(rng.uniform(0.0, 1000.0, size=n), 2)
    status = np.array(STATUSES, dtype=object)[rng.integers(0, len(STATUSES), size=n)]
    customer = _names("c", rng.integers(0, 50_000, size=n)).to_numpy(zero_copy_only=False)
    qty = rng.integers(1, 100, size=n, dtype=np.int32)

    # one planted fault per faulty row, never on the last row
    fault = rng.random(n)
    lo = 0.0
    for rule, rate in VIOLATION_RATES.items():
        hit = (fault >= lo) & (fault < lo + rate)
        hit[-1] = False
        lo += rate
        ledger.violations[rule] = int(hit.sum())
        if rule == "range(amount)":
            amount[hit] = -np.round(rng.uniform(1.0, 500.0, size=int(hit.sum())), 2)
        elif rule == "domain(status)":
            status[hit] = "unknown"
        else:
            customer[hit] = None
    if late_before_us is not None and late_rate > 0:
        late = (fault >= lo) & (fault < lo + late_rate)
        late[-1] = False
        ts[late] = rng.integers(late_before_us - 3_600_000_000, late_before_us, size=int(late.sum()))
        ledger.late_rows = int(late.sum())
    _, first = np.unique(ids, return_index=True)
    ledger.duplicate_rows = n - len(first)
    table = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "seq": pa.array(seq, pa.int64()),
            "event_ts": pa.array(ts, pa.timestamp("us")),
            "customer": pa.array(customer, pa.string()),
            "status": pa.array(status, pa.string()),
            "amount": pa.array(amount, pa.float64()),
            "qty": pa.array(qty, pa.int32()),
        }
    )
    return table, ledger


def _names(prefix: str, nums: np.ndarray) -> pa.Array:
    """``prefix`` + the number zero-padded to 5 digits."""
    digits = pc.utf8_lpad(pa.array(nums).cast(pa.string()), width=5, padding="0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _with_dups(rng: np.random.Generator, ids: np.ndarray) -> np.ndarray:
    """Re-emit ~DUP_RATE of the keys later in the batch (keep-last
    dedup must pick the later copy); the last id stays unique."""
    n = len(ids)
    k = int(n * DUP_RATE)
    if k == 0:
        return ids
    src = rng.choice(n - 1, size=k, replace=False)
    pos = rng.choice(n - 1, size=k, replace=False)
    out = ids.copy()
    # duplicates land after their original so every key keeps one
    # earlier copy; overwriting a distinct id removes it from the batch
    for s, p in zip(np.sort(src), np.sort(pos)):
        if p > s and out[s] != out[-1]:
            out[p] = out[s]
    return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# -- load workloads -----------------------------------------------------------


def stream_files(seed: int, root: str, epochs: int, rows: int, delay_s: int) -> list[FaultLedger]:
    """One file per epoch. Epoch k's event times cover hour k; ~1% of
    its rows (k > 0) fall before the watermark the previous epoch left
    (its max event time minus ``delay_s``), so they are late."""
    rng = np.random.default_rng([seed, 2])
    hour = 3_600_000_000
    out = []
    for k in range(epochs):
        ids = _with_dups(rng, np.arange(k * rows, (k + 1) * rows, dtype=np.int64))
        lo = T0_US + k * hour
        late_before = lo - delay_s * 1_000_000 - hour if k > 0 else None
        t, led = _records(rng, ids, seq0=k * rows, ts_lo_us=lo, ts_hi_us=lo + hour,
                          late_before_us=late_before, late_rate=0.01 if k > 0 else 0.0)
        out.append(led)
        _write(t, os.path.join(root, f"epoch-{k:04d}.parquet"))
    return out


def cdc_batches(seed: int, root: str, base_rows: int, batches: int, rows: int) -> tuple[FaultLedger, list[FaultLedger]]:
    """A clean base of ``base_rows`` keys, then ``batches`` upsert
    batches: about half updates of existing keys, half new keys, with
    in-batch duplicates and planted violations. Written to
    ``root/base.parquet`` and ``root/batch-NNNN.parquet``; the caller
    moves each batch into the source glob when its unit starts."""
    rng = np.random.default_rng([seed, 3])
    ids = np.arange(base_rows, dtype=np.int64)
    base, _ = _records(rng, ids, 0, T0_US, T0_US + 86_400_000_000)
    # the base is the clean initial snapshot: strip its planted faults
    base = base.set_column(3, "customer", _names("c", ids))
    base = base.set_column(4, "status", pa.array(["new"] * base_rows, pa.string()))
    base = base.set_column(5, "amount", pc.abs(base.column("amount")))
    base_led = FaultLedger(rows=base_rows, inserts=base_rows)
    _write(base, os.path.join(root, "base.parquet"))
    next_id, seq0 = base_rows, base_rows
    leds = []
    for b in range(batches):
        half = rows // 2
        upd = rng.choice(next_id, size=half, replace=False).astype(np.int64)
        ins = np.arange(next_id, next_id + rows - half, dtype=np.int64)
        next_id += rows - half
        mixed = np.concatenate([upd, ins])
        rng.shuffle(mixed)
        batch_ids = _with_dups(rng, mixed)
        t, led = _records(rng, batch_ids, seq0, T0_US, T0_US + 86_400_000_000)
        seq0 += rows
        uniq = np.unique(batch_ids)
        led.updates = int((uniq < ins[0]).sum())
        led.inserts = int((uniq >= ins[0]).sum())
        leds.append(led)
        _write(t, os.path.join(root, f"batch-{b:04d}.parquet"))
    return base_led, leds


# -- operator workload --------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark order data "
    "column join small line customer query big group window stream sort filter vector"
).split()


def star_fixture(seed: int, root: str, scale: float = 1.0) -> dict:
    """The tables the operator queries read, in the fixture's column
    shapes: nation, supplier, part, orders, lineitem, events, documents.
    Returns {table: rows}."""
    rng = np.random.default_rng([seed, 4])
    n_supp, n_part, n_cust = int(200 * scale), int(2000 * scale), int(1500 * scale)
    n_ord, n_li, n_ev, n_doc = int(4000 * scale), int(16000 * scale), int(10000 * scale), int(300 * scale)
    sizes = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(root, f"{name}.parquet"))
        sizes[name] = t.num_rows

    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    colors = ["red", "blue", "green", "small", "big", "steel"]
    things = ["widget", "bolt", "ring", "gear", "pipe"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{colors[a]} {things[b]}" for a, b in
                            zip(rng.integers(0, 6, n_part), rng.integers(0, 5, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(types, dtype=object)[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 50, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
    })
    day = 86_400_000_000
    o_start = int((dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(o_start + rng.integers(0, 2400, n_ord) * day, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                             dtype=object)[rng.integers(0, 5, n_ord)], pa.string()),
    })
    okey = np.sort(rng.integers(0, n_ord, n_li))
    lnum = np.zeros(n_li, dtype=np.int32)
    for i in range(1, n_li):
        lnum[i] = lnum[i - 1] + 1 if okey[i] == okey[i - 1] else 0
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum + 1, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array(o_start + rng.integers(0, 2400, n_li) * day, pa.timestamp("us")),
    })
    ev_types = np.array(["view", "click", "purchase", "signup", "error"], dtype=object)
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(T0_US + rng.integers(0, 30 * day, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 60, 10), n_ev), pa.int64()),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 20, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(20, 80)))]) for _ in range(n_doc)]
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "es", "zh", "de", "fr"], dtype=object)[rng.integers(0, 5, n_doc)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return sizes
