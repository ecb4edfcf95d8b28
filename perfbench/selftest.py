"""Self-test of the benchmark at a tiny scale.

    python3 perfbench/selftest.py

Checks three things and exits non-zero if any fails:

1. every metric BENCHMARK.json names is emitted, with its unit, by
   ``run.py --scale tiny`` on every workload with ``--trace 0`` (the
   end-to-end metrics) and ``--trace 1`` (the per-layer metrics), and
   each run reports ``correct: true``;
2. the generators write identical inputs for the same seed and
   different inputs for another seed;
3. the CDC model rejects a point read and an aggregate read whose row
   was corrupted on purpose, and accepts the true ones.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def _tree(root: str) -> list:
    """(relative path, size, table contents or None) of every file."""
    out = []
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            content = pq.read_table(path).to_pylist() if name.endswith(".parquet") else None
            out.append((os.path.relpath(path, root), os.path.getsize(path), content))
    return out


def _generate(base: str, seed: int) -> list:
    shutil.rmtree(base, ignore_errors=True)
    gen.fixture_tables(os.path.join(base, "sf"), seed, 0.001)
    gen.region_tree(os.path.join(base, "regions"), seed, 2, 2, 20)
    gen.cdc_base(os.path.join(base, "orders"), seed, 400, 4)
    gen.inventory_tree(os.path.join(base, "stores"), seed, 2, 2, 3)
    rng = np.random.default_rng([seed, 0])
    batch = gen.upsert_batch(rng, np.arange(400), 400, 20, 0.1).to_pylist()
    return _tree(base) + [("batch", 0, batch)]


def check_generators(work: str) -> list[str]:
    a = _generate(os.path.join(work, "a"), 7)
    b = _generate(os.path.join(work, "b"), 7)
    c = _generate(os.path.join(work, "c"), 8)
    errors = []
    if a != b:
        errors.append("generators: same seed gave different inputs")
    if a == c:
        errors.append("generators: different seeds gave identical inputs")
    return errors


def check_cdc_model(work: str) -> list[str]:
    from pyspark.sql import Row

    base = os.path.join(work, "model")
    gen.cdc_base(base, 3, 200, 2)
    model = checks.OrdersModel(base)
    key = 17
    true_row = Row(**{"o_orderkey": key, **model.df.loc[key].to_dict()})
    bad = true_row.asDict()
    bad["o_totalprice"] = bad["o_totalprice"] + 0.01
    bad_row = Row(**bad)
    agg = model.aggregate()
    true_agg = {"n": agg["n"], "price": str(agg["price"]), "max_key": agg["max_key"], "n_cust": agg["n_cust"]}
    bad_agg = dict(true_agg, price=str(agg["price"] + 1))
    errors = []
    if model.check_point(key, [true_row]) is not None:
        errors.append("cdc model: rejected a correct point read")
    if model.check_point(key, [bad_row]) is None:
        errors.append("cdc model: accepted a corrupted point read")
    if model.check_aggregate(true_agg) is not None:
        errors.append("cdc model: rejected a correct aggregate")
    if model.check_aggregate(bad_agg) is None:
        errors.append("cdc model: accepted a corrupted aggregate")
    return errors


def check_metrics() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: bench["end_to_end"], 1: bench["per_layer"]}
    errors = []
    for wl in [w["name"] for w in bench["workloads"]]:
        if wl not in WORKLOADS:
            errors.append(f"{wl}: not a workload of run.py")
            continue
        for trace, metrics in want.items():
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", wl,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                errors.append(f"{wl} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"]:
                errors.append(f"{wl} trace={trace}: correct={result['correct']} failed={result['failed']}")
            got = result["metrics"]
            for m in metrics:
                if m["name"] not in got:
                    errors.append(f"{wl} trace={trace}: metric {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    errors.append(f"{wl} trace={trace}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
            extra = set(got) - {m["name"] for m in metrics}
            if extra:
                errors.append(f"{wl} trace={trace}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"[selftest] {wl} trace={trace}: {len(got)} metrics", file=sys.stderr)
    return errors


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        errors = check_generators(work) + check_cdc_model(work) + check_metrics()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"[selftest] FAIL {e}", file=sys.stderr)
    print("[selftest] ok" if not errors else f"[selftest] {len(errors)} failures", file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
