"""Engine-independent correctness checks.

The load checks replay the declared semantics in DuckDB over the
generated inputs and compare against what the engine left on disk:

- contract split: a row is quarantined when ``customer`` or ``status``
  is null, ``status`` is outside the domain, or ``amount`` is null or
  outside [0, 1000];
- keyed dedup of the admitted rows, keep-last by the ``seq`` cursor;
- late split (streams): admitted rows with ``event_ts`` at or before
  the watermark are quarantined, the watermark being the monotone max
  of each epoch's event times minus the delay, applied from the next
  epoch on;
- APPEND or MERGE on ``id`` into the destination.

The contract quarantine count the oracle finds in each input file must
also equal the generator's planted-fault ledger, so an input that was
changed after generation fails the check too.

Each check returns a list of mismatch strings; empty means correct.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os

import duckdb

from gen import STATUSES

COLS = "id, seq, epoch_us(event_ts) AS ts, customer, status, amount, qty"
_STATUS_LIST = ", ".join(f"'{s}'" for s in STATUSES)
VIOLATES = (
    "(customer IS NULL OR status IS NULL OR status NOT IN (" + _STATUS_LIST + ")"
    " OR amount IS NULL OR amount < 0 OR amount > 1000)"
)


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _dest(path: str) -> str:
    return _files(sorted(glob.glob(os.path.join(path, "*.parquet"))))


def _split(con: duckdb.DuckDBPyConnection, name: str, files: list[str]) -> int:
    """Create ``{name}_adm`` (admitted, deduped keep-last by seq) and
    return the number of contract-quarantined rows."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name}_raw AS SELECT {COLS} FROM read_parquet({_files(files)})")
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {name}_adm AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
              FROM {name}_raw WHERE NOT {VIOLATES}
            ) WHERE rn = 1"""
    )
    return con.execute(f"SELECT count(*) FROM {name}_raw WHERE {VIOLATES}").fetchone()[0]


def _diff(con: duckdb.DuckDBPyConnection, expected: str, actual_files: str, what: str) -> list[str]:
    if actual_files == "[]":
        return [f"{what}: no parquet files"]
    actual = f"(SELECT {COLS} FROM read_parquet({actual_files}))"
    missing = con.execute(f"SELECT count(*) FROM (SELECT * FROM {expected} EXCEPT ALL SELECT * FROM {actual})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT * FROM {actual} EXCEPT ALL SELECT * FROM {expected})").fetchone()[0]
    if missing or extra:
        return [f"{what}: {missing} expected rows missing, {extra} unexpected rows"]
    return []


def _planted(what: str, found: int, planted: int) -> list[str]:
    return [] if found == planted else [f"{what}: {planted} violations planted, {found} in the input"]


def check_stream(epoch_files: list[str], delay_s: int, dest: str, epochs: list[dict],
                 planted: list[int]) -> list[str]:
    """A DRAIN that committed one epoch per file, APPEND."""
    con = duckdb.connect()
    errs: list[str] = []
    if len(epochs) != len(epoch_files):
        errs.append(f"stream ran {len(epochs)} epochs for {len(epoch_files)} files")
    con.execute(f"CREATE TEMP TABLE s_exp AS SELECT {COLS} FROM read_parquet({_files(epoch_files[:1])}) LIMIT 0")
    wm = None
    for k, f in enumerate(epoch_files):
        q = _split(con, "s", [f])
        errs += _planted(f"epoch {k}", q, planted[k])
        late = 0
        cond = ""
        if wm is not None:
            late = con.execute(f"SELECT count(*) FROM s_adm WHERE ts <= {wm}").fetchone()[0]
            cond = f"WHERE ts > {wm}"
        con.execute(f"INSERT INTO s_exp SELECT * FROM s_adm {cond}")
        n = con.execute(f"SELECT count(*) FROM s_adm {cond}").fetchone()[0]
        mx = con.execute("SELECT max(ts) FROM s_raw").fetchone()[0]
        cand = mx - delay_s * 1_000_000
        wm = cand if wm is None else max(wm, cand)
        if k < len(epochs):
            errs += _counts(f"epoch {k}", epochs[k], admitted=n, quarantined=q + late, late=late)
    return errs + _diff(con, "s_exp", _dest(dest), "destination")


def check_merge(base: str, batch_files: list[str], dest: str, units: list[dict],
                planted: list[int]) -> list[str]:
    """A base snapshot, then one keyed MERGE per batch, in order."""
    con = duckdb.connect()
    con.execute(f"CREATE TEMP TABLE m_exp AS SELECT {COLS} FROM read_parquet('{base}')")
    errs: list[str] = []
    for k, f in enumerate(batch_files):
        q = _split(con, "m", [f])
        errs += _planted(f"batch {k}", q, planted[k])
        con.execute("DELETE FROM m_exp WHERE id IN (SELECT id FROM m_adm)")
        con.execute("INSERT INTO m_exp SELECT * FROM m_adm")
        n = con.execute("SELECT count(*) FROM m_adm").fetchone()[0]
        if k < len(units):
            errs += _counts(f"batch {k}", units[k], admitted=n, quarantined=q, late=0)
    return errs + _diff(con, "m_exp", _dest(dest), "target")


def _counts(what: str, got: dict, **want: int) -> list[str]:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return [f"{what}: (engine, oracle) {bad}"] if bad else []


# -- operator queries ---------------------------------------------------------


def _canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (2, v)
    if isinstance(v, (int,)) and not isinstance(v, bool):
        return (2, float(v))
    if isinstance(v, dt.datetime):
        return (3, v.replace(tzinfo=None).isoformat())
    if isinstance(v, (list, tuple)):
        return (4, tuple(_canon(x) for x in v))
    try:
        return (2, float(v))  # Decimal
    except (TypeError, ValueError):
        return (5, str(v))


def _close(a, b) -> bool:
    if a[0] != b[0]:
        return False
    if a[0] == 2:
        return a[1] == b[1] or abs(a[1] - b[1]) <= 1e-9 * max(abs(a[1]), abs(b[1]), 1.0)
    if a[0] == 4:
        return len(a[1]) == len(b[1]) and all(_close(x, y) for x, y in zip(a[1], b[1]))
    return a[1] == b[1]


def compare_rows(cols_a: list[str], rows_a: list, cols_b: list[str], rows_b: list) -> str | None:
    """Order-insensitive comparison by column name, floats to 1e-9
    relative. Returns None when equal, else a short reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows vs {len(rows_b)}"
    names = sorted(cols_a)
    ia = [cols_a.index(c) for c in names]
    ib = [cols_b.index(c) for c in names]
    ca = sorted(tuple(_canon(r[i]) for i in ia) for r in rows_a)
    cb = sorted(tuple(_canon(r[i]) for i in ib) for r in rows_b)
    for x, y in zip(ca, cb):
        if not all(_close(p, q) for p, q in zip(x, y)):
            return f"first differing row {x} vs {y}"
    return None


def oracle_rows(fixture_dir: str, sql: str) -> tuple[list[str], list]:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(glob.glob(os.path.join(fixture_dir, "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()
