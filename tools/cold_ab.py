"""Cold-box A/B for a single query: fresh JVM per sample, N samples.

VERDICT r8 next-step #5: `dedup_semantic` (1.03 -> 1.40 -> 1.66s over
three rounds) and `graph_pagerank` (1.94 -> 2.07 -> 2.28s) crept in the
shared-JVM bench, where cache state, JIT history and sibling queries
contaminate a single query's number. This harness isolates one query:
each sample is its own process/JVM that warms up on the SAME query once
(codegen + file listing), then times ITERS repeats and reports the min —
the same aggregation bench.py uses, minus the shared-session noise.

Usage: python tools/cold_ab.py <query> [samples] [sf_dir]
Prints per-sample minima and the min/median/max across samples.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, sys, time
name, sf_dir, root = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, root)
import __spark_entry__ as em
from db_migrator_spark.session import get_spark
spark = get_spark("cold-ab")
fn = em.queries()[name]
fn(spark, sf_dir).count()  # warm: codegen, listings, JIT on THIS query
best = None
for _ in range(5):
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    dt = time.perf_counter() - t0
    best = dt if best is None else min(best, dt)
print(json.dumps({"min": best}))
"""


def main() -> int:
    name = sys.argv[1]
    samples = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    mins: list[float] = []
    for i in range(samples):
        out = subprocess.run(
            [sys.executable, "-c", _CHILD, name, sf_dir, _ROOT],
            capture_output=True, text=True, timeout=600,
        )
        line = out.stdout.strip().splitlines()[-1]
        v = json.loads(line)["min"]
        mins.append(v)
        print(f"sample {i}: {v:.3f}s", flush=True)
    print(f"{name}: min={min(mins):.3f} median={statistics.median(mins):.3f} "
          f"max={max(mins):.3f} over {samples} cold JVMs")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
