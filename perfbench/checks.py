"""Output checks that do not use the program under test.

Each check returns ``None`` when the output is right and a short reason
string when it is wrong; the workloads count a wrong output as a failed
operation.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


# ------------------------------------------------------------ compaction
def _norm(t: pa.Table) -> pd.DataFrame:
    cols = {}
    for name in sorted(t.column_names):
        col = t.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.timestamp("us")).cast(pa.int64())
        cols[name] = col.to_numpy(zero_copy_only=False)
    return pd.DataFrame(cols)


def tree_fingerprint(root: str) -> tuple[int, int, int, frozenset]:
    """(rows, xor, sum mod 2^64 of per-row hashes, column names) over
    every visible parquet file under ``root``, with the partition value
    taken from the ``region=NN`` directory. Order-insensitive, so a
    rewrite that keeps the row multiset keeps the fingerprint."""
    rows = fx = fs = 0
    columns: set = set()
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        part = os.path.basename(dirpath)
        for name in files:
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(dirpath, name))
            columns.update(t.column_names)
            df = _norm(t)
            df["__part"] = part
            h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
            rows += len(h)
            fx ^= int(np.bitwise_xor.reduce(h)) if len(h) else 0
            fs = (fs + int(h.sum(dtype=np.uint64))) % (1 << 64)
    return rows, fx, fs, frozenset(columns)


def tree_files(root: str) -> tuple[int, int]:
    """(visible data files, bytes) — what the daemon's stats report
    should total to."""
    n = b = 0
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, name))
    return n, b


def check_stats_report(rows, root: str) -> str | None:
    total = [r for r in rows if r["partition"] == "ALL"]
    n, b = tree_files(root)
    if len(total) != 1 or int(total[0]["filenum"]) != n or int(total[0]["total_bytes"]) != b:
        return f"stats_report total {total} != listing ({n} files, {b} bytes)"
    return None


# ------------------------------------------------------------ CDC model
class OrdersModel:
    """The CDC table as a pandas frame keyed by ``o_orderkey``, updated
    by every upsert batch; reads are compared against it exactly."""

    def __init__(self, base_dir: str):
        self.df = pq.read_table(base_dir).to_pandas().set_index("o_orderkey")

    def upsert(self, batch: pd.DataFrame) -> None:
        b = batch.set_index("o_orderkey")
        self.df = pd.concat([self.df.drop(index=b.index, errors="ignore"), b])

    def live_keys(self) -> np.ndarray:
        return self.df.index.to_numpy()

    def check_point(self, key: int, rows) -> str | None:
        if key not in self.df.index:
            return None if not rows else f"key {key}: expected no row, got {len(rows)}"
        if len(rows) != 1:
            return f"key {key}: expected 1 row, got {len(rows)}"
        want = self.df.loc[key]
        got = rows[0].asDict()
        for col, val in want.items():
            g = got[col]
            if isinstance(val, pd.Timestamp):
                g = pd.Timestamp(g)
            if g != val:
                return f"key {key}: {col} = {g!r}, expected {val!r}"
        return None

    def aggregate(self) -> dict:
        return {
            "n": len(self.df),
            "price": sum((Decimal(repr(v)) for v in self.df["o_totalprice"]), Decimal(0)),
            "max_key": int(self.df.index.max()),
            "n_cust": int(self.df["o_custkey"].nunique()),
        }

    def check_aggregate(self, row) -> str | None:
        want = self.aggregate()
        got = {
            "n": int(row["n"]),
            "price": Decimal(row["price"]),
            "max_key": int(row["max_key"]),
            "n_cust": int(row["n_cust"]),
        }
        return None if got == want else f"aggregate {got} != model {want}"


# ------------------------------------------------------------ analytics
def frame_hash(pdf: pd.DataFrame) -> tuple[int, str]:
    """(rows, order-insensitive digest): columns sorted by name, each
    row rendered with repr, rows sorted."""
    cols = sorted(pdf.columns)
    vals = sorted(
        tuple(repr(_scalar(v)) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    return len(pdf), hashlib.md5(repr(vals).encode()).hexdigest()


def _scalar(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_scalar(x) for x in v)
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    return v


def inventory_oracle(root: str) -> tuple[dict, dict]:
    """The reference's per-store report and rollup from ``os.walk``:
    per (region, family) COUNT, SUM, MAX and arg-max file (ties to the
    larger name) for stores with more than one file, and per-region
    plus grand-total (count, bytes)."""
    stores: dict[tuple[str, str], list] = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root).split(os.sep)
        if len(rel) != 2:
            continue
        for name in files:
            size = os.path.getsize(os.path.join(dirpath, name))
            stores.setdefault((rel[0], rel[1]), []).append((size, name))
    per_store = {}
    rollup: dict[str, list[int]] = {}
    for (region, family), fl in stores.items():
        big = max(fl)
        if len(fl) > 1:
            per_store[(region, family)] = (len(fl), sum(s for s, _ in fl), big[0], big[1])
        for key in (region, "ALL"):
            acc = rollup.setdefault(key, [0, 0])
            acc[0] += len(fl)
            acc[1] += sum(s for s, _ in fl)
    return per_store, {k: tuple(v) for k, v in rollup.items()}
