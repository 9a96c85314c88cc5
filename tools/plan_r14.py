"""Capture .explain("formatted") for named queries into plans/r14/.

    python tools/plan_r14.py before q1 q2 ...
    python tools/plan_r14.py after  q1 q2 ...

Writes plans/r14/<query>_<tag>.txt — the optimization-round evidence the
judge diffs against the claims in OPTIMIZATION_r14.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r14")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as em
    from db_migrator_spark.session import get_spark

    spark = get_spark("plan-r14")
    qs = em.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain(formatted), {tag}, sf_dir={sf_dir}\n")
            fh.write(txt)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
