"""Correctness check of every benchmark operation against DuckDB.

Each result is compared with DuckDB run on the identical inputs the way the
catalog's oracle gate compares entries: row count, column names (sorted,
case-folded) and an order-insensitive hash of the stringified values, with
columns taken in name order. Values are canonicalised first (NaN and NaT are
NULL, numbers compare as floats, dates and timestamps as one text form) and
floats are hashed at 9 significant digits; when the hashes differ the rows
are compared once more with a relative tolerance of 1e-9, so the last-digit
noise of a different summation order is not a failure.

DuckDB time is kept out of every latency; the caller reports it only as the
host reference ``host.duckdb_p50_s``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import pickle
import subprocess
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (dt.date, np.datetime64)):
        ts = pd.Timestamp(v)
        return None if ts is pd.NaT else ts.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    return str(v)


def _key(v):
    """Total order over canonical values (None < bool < number < text < tuple)."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, v)
    if isinstance(v, float):
        return (2, float(f"{v:.6g}"))
    if isinstance(v, str):
        return (3, v)
    return (4, tuple(_key(x) for x in v))


def _text(v) -> str:
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, tuple):
        return "[" + ",".join(_text(x) for x in v) + "]"
    return repr(v)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


class Canonical:
    """A result in canonical form: sorted column names, sorted rows, hash."""

    def __init__(self, columns: list[str], rows):
        order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
        self.columns = [columns[i].lower() for i in order]
        canon = [tuple(_canon(r[i]) for i in order) for r in rows]
        self.rows = sorted(canon, key=lambda r: tuple(_key(v) for v in r))
        h = hashlib.sha1()
        for r in self.rows:
            h.update("|".join(_text(v) for v in r).encode())
            h.update(b"\n")
        self.hash = h.hexdigest()

    @classmethod
    def of_pandas(cls, df: pd.DataFrame) -> "Canonical":
        return cls(list(df.columns), df.itertuples(index=False, name=None))

    def mismatch(self, other: "Canonical") -> str | None:
        """None when equal, else a one-line reason."""
        if len(self.rows) != len(other.rows):
            return f"row count {len(self.rows)} != {len(other.rows)}"
        if self.columns != other.columns:
            return f"columns {self.columns} != {other.columns}"
        if self.hash == other.hash:
            return None
        for a, b in zip(self.rows, other.rows):
            if not all(_close(x, y) for x, y in zip(a, b)):
                return f"values differ, e.g. {a!r} != {b!r}"
        return None


# -- the oracle process --------------------------------------------------------
# DuckDB and the input generator run in a helper process, so neither their
# CPU time nor their memory is counted as the Spark driver's.

_con = None
_memo: dict[str, Canonical] = {}


def _open(fixture_dir: str) -> None:
    global _con
    _con = duckdb.connect()
    _con.execute("SET threads TO 1")  # a steady host reference, not a race
    for t in TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        _con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def _query(sql: str, tables: dict | None) -> tuple[Canonical, float | None]:
    """Run ``sql``; ``tables`` binds names to pandas frames (NaN/NaT read as
    NULL, as the engine reads them) or to lists of parquet files. Results
    without ``tables`` are memoised: a repeated statement costs nothing."""
    if not tables and sql in _memo:
        return _memo[sql], None
    for name, src in (tables or {}).items():
        if isinstance(src, list):
            files = ", ".join(f"'{f}'" for f in src)
            _con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{files}])")
        else:
            _con.register(name, pa.Table.from_pandas(src, preserve_index=False))
    t0 = time.perf_counter()
    cur = _con.execute(sql)
    rows = cur.fetchall()
    seconds = time.perf_counter() - t0
    out = Canonical([d[0] for d in cur.description], rows)
    if not tables:
        _memo[sql] = out
    return out, seconds


def _serve() -> None:
    """Main loop of the oracle process: read pickled ``(fn, args)`` calls from
    stdin, answer each with ``(ok, value)`` on the original stdout; stdout
    itself goes to stderr, so nothing else can write into the replies."""
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    requests = sys.stdin.buffer
    while True:
        try:
            fn, args = pickle.load(requests)
        except EOFError:
            return
        try:
            reply = (True, fn(*args))
        except Exception:
            reply = (False, traceback.format_exc())
        pickle.dump(reply, replies)
        replies.flush()


class Oracle:
    """Client of the oracle process. ``seconds`` collects DuckDB query times.

    The process is a plain child (no multiprocessing pool, whose semaphores
    would start a resource-tracker process that outlives the benchmark);
    ``close`` ends it and waits for it."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, "-c", "from check import _serve; _serve()"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            env={**os.environ, "PYTHONPATH": os.pathsep.join(p for p in sys.path if p)})
        self.seconds: list[float] = []

    def call(self, fn, *args):
        pickle.dump((fn, args), self.proc.stdin)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"oracle call {fn.__name__} failed:\n{value}")
        return value

    def open(self, fixture_dir: str) -> None:
        self.call(_open, fixture_dir)

    def run(self, sql: str, tables: dict | None = None) -> Canonical:
        out, seconds = self.call(_query, sql, tables)
        if seconds is not None:
            self.seconds.append(seconds)
        return out

    def close(self) -> None:
        self.proc.stdin.close()  # the oracle process returns on end of input
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
