"""Seeded input generators for the benchmark.

Every input the program receives is written here from a
``numpy.random.Generator`` seeded with the run's ``--seed``; nothing is
read from outside the benchmark's work directory and no helper of the
program under test is called, so the program sees only these files.

* :func:`fixture_tables` — the TPC-H-shaped star schema plus
  ``events``, ``documents`` and ``embeddings`` (one parquet file per
  table, same column names and types as the repository's test
  fixtures), sized by a scale factor.
* :func:`region_tree` — a fragmented ``region=NN/`` parquet table of
  many small files (``events`` rows plus a random payload column), the
  compaction input.
* :func:`cdc_base` / :func:`upsert_batch` — the range-partitioned
  ``orders`` table a merge-on-read CDC stream is applied to, and its
  seeded upsert batches.
* :func:`inventory_tree` — a ``region/family/file`` tree of sparse
  files with seeded sizes, the file-inventory input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_NATIONS = 25
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_EMBED_LABELS = 10

# rows per table at scale factor 1 (fact and dimension tables scale
# linearly; the two LLM tables have a floor so tiny scales still hold
# enough documents and vectors to cluster)
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_MIN_ROWS = {"documents": 500, "embeddings": 500}

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    return {
        t: max(_MIN_ROWS.get(t, 1), int(round(n * sf)))
        for t, n in _ROWS_SF1.items()
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so every value's shortest decimal form has at most
    # two decimals and decimal casts are exact in every engine
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _days(rng: np.random.Generator, n: int, span_days: int, offset_days: int = 0) -> pa.Array:
    days = rng.integers(0, span_days, n) + offset_days
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def orders_table(rng: np.random.Generator, n: int, n_cust: int, key_start: int = 0) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key_start, key_start + n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
            "o_orderdate": _days(rng, n, 2404),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(_money(rng, 0.01, 490.02, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup target)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n),
            "source": _pick(rng, [f"src{k}" for k in range(20)], n),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(_EMBED_LABELS, _EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, _EMBED_LABELS, n)
    vecs = centers[labels] + rng.normal(scale=0.08, size=(n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def fixture_tables(out_dir: str, seed: int, sf: float) -> dict[str, dict]:
    """Write ``<out_dir>/<table>.parquet`` for every fixture table and
    return {table: {"rows", "files", "bytes"}}."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(_NATIONS), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(_NATIONS)]),
                "n_regionkey": pa.array([i % 5 for i in range(_NATIONS)], pa.int32()),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, _NATIONS, c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": _pick(rng, _SEGMENTS, c),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, _NATIONS, s), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        }
    )
    p = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": pa.array(
                [
                    f"{_COLORS[a]} {_NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
                ]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, _PTYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10.0, 1)),
        }
    )
    o = n["orders"]
    tables["orders"] = orders_table(rng, o, c)
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 901, 105_000, li)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _days(rng, li, 2499, offset_days=1),
        }
    )
    tables["events"] = _events(rng, n["events"], max(150, c // 10))
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "files": 1, "bytes": os.path.getsize(path)}
    return sizes


def region_tree(
    out_dir: str, seed: int, regions: int, files_per_region: int, rows_per_file: int
) -> dict:
    """A fragmented compaction input: ``regions`` × ``files_per_region``
    small parquet files under ``region=NN/``, rows drawn from a seeded
    ``events`` table plus a 48-byte random payload that inflates rows to
    a realistic width."""
    rng = np.random.default_rng([seed, 2])
    total = regions * files_per_region * rows_per_file
    ev = _events(rng, total, 1000)
    raw = rng.bytes(48 * total)
    payload = pa.array([raw[i * 48:(i + 1) * 48].hex() for i in range(total)])
    ev = ev.append_column("payload", payload)
    perm = pa.array(rng.permutation(total))
    ev = ev.take(perm)
    n_bytes = 0
    k = 0
    for r in range(regions):
        d = os.path.join(out_dir, f"region={r:02d}")
        os.makedirs(d, exist_ok=True)
        for f in range(files_per_region):
            path = os.path.join(d, f"part-{f:05d}.parquet")
            pq.write_table(ev.slice(k, rows_per_file), path)
            k += rows_per_file
            n_bytes += os.path.getsize(path)
    return {"rows": total, "files": regions * files_per_region, "bytes": n_bytes}


def cdc_base(out_dir: str, seed: int, rows: int, files: int) -> dict:
    """The CDC table before any change: ``rows`` orders sorted by
    ``o_orderkey`` and split into ``files`` key-range files, so per-file
    key stats can prune point reads."""
    rng = np.random.default_rng([seed, 3])
    t = orders_table(rng, rows, max(1, rows // 10))
    os.makedirs(out_dir, exist_ok=True)
    n_bytes = 0
    for i in range(files):
        lo, hi = i * rows // files, (i + 1) * rows // files
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(t.slice(lo, hi - lo), path)
        n_bytes += os.path.getsize(path)
    return {"rows": rows, "files": files, "bytes": n_bytes}


def upsert_batch(
    rng: np.random.Generator, live_keys: np.ndarray, next_key: int, size: int, insert_share: float
) -> pa.Table:
    """One CDC batch: ``size`` distinct keys, ``insert_share`` of them
    new (numbered from ``next_key``), the rest updates of live keys;
    every row carries fresh non-key values."""
    n_new = int(round(size * insert_share))
    upd = rng.choice(live_keys, size - n_new, replace=False)
    keys = np.concatenate([upd, np.arange(next_key, next_key + n_new)])
    t = orders_table(rng, size, max(1, len(live_keys) // 10))
    return t.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))


def inventory_tree(
    out_dir: str, seed: int, regions: int, families: int, files_per_store: int
) -> dict:
    """``region_RR/family_F/hfile_*`` sparse files with seeded
    log-normal sizes (1 KiB .. ~100 MiB apparent, no blocks written):
    the store-file layout the reference daemon lists and aggregates."""
    rng = np.random.default_rng([seed, 4])
    n = regions * families * files_per_store
    sizes = np.clip(rng.lognormal(13.0, 2.0, n), 1024, 100 << 20).astype(np.int64)
    names = rng.integers(0, 1 << 62, n)
    k = 0
    for r in range(regions):
        for f in range(families):
            d = os.path.join(out_dir, f"region_{r:03d}", f"family_{f}")
            os.makedirs(d, exist_ok=True)
            for _ in range(files_per_store):
                with open(os.path.join(d, f"hfile_{names[k]:016x}"), "wb") as fh:
                    fh.truncate(int(sizes[k]))
                k += 1
    return {"rows": n, "files": n, "bytes": int(sizes.sum())}
