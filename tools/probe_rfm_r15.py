"""Round-15 probe: q_customer_rfm phase breakdown (VERDICT r14 #5).

The VERDICT prescription assumes "three per-level quantile actions";
the code already derives all three cut sets from ONE approxQuantile
action (distributed_rank.quantile_cuts). Measure where the 2.5s
actually goes: based build, the quantile action, each rank level, the
final plan.

Usage: python tools/probe_rfm_r15.py [sf_dir] [reps]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    from db_migrator_spark.session import get_spark
    from db_migrator_spark.io import load_table
    from db_migrator_spark.operators.distributed_rank import (
        ntile_expr,
        quantile_cuts,
        with_global_rank,
    )

    spark = get_spark("probe-rfm")

    for rep in range(reps):
        t_all0 = time.perf_counter()
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        per = (
            orders.groupBy("o_custkey")
            .agg(
                F.max("o_orderdate").alias("last_order"),
                F.count(F.lit(1)).alias("frequency"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint")
                ).alias("monetary_micros"),
            )
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        )
        ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
        based = per.crossJoin(F.broadcast(ref)).select(
            "c_nationkey",
            "o_custkey",
            F.datediff(F.col("ref_date"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary_micros",
        ).localCheckpoint(eager=False)

        t0 = time.perf_counter()
        cuts = quantile_cuts(
            based, ["recency_days", "frequency", "monetary_micros"]
        )
        t_cuts = time.perf_counter() - t0

        ranked = based
        level_times = []
        for col, desc, tag in (
            ("recency_days", False, "r"),
            ("frequency", True, "f"),
            ("monetary_micros", True, "m"),
        ):
            t0 = time.perf_counter()
            ranked = with_global_rank(
                ranked, col, ["o_custkey"], cuts=cuts[col], descending=desc,
                rank_col=f"__rn_{tag}", total_col=f"__n_{tag}",
                partition_by=["c_nationkey"],
            ).localCheckpoint(eager=False)
            ranked.write.format("noop").mode("overwrite").save()
            level_times.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        scored = ranked.select(
            "c_nationkey",
            "o_custkey",
            ntile_expr("__rn_r", "__n_r", 5).alias("r_score"),
            ntile_expr("__rn_f", "__n_f", 5).alias("f_score"),
            ntile_expr("__rn_m", "__n_m", 5).alias("m_score"),
        )
        scored.orderBy("c_nationkey", "o_custkey").write.format("noop").mode(
            "overwrite"
        ).save()
        t_final = time.perf_counter() - t0
        print(
            f"rep{rep}: cuts={t_cuts:.2f}s levels="
            f"{[round(x, 2) for x in level_times]} final={t_final:.2f}s "
            f"total={time.perf_counter() - t_all0:.2f}s",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
