"""Phase-level wall-clock breakdown for the fixture-heavy queries.

Monkeypatches the txnlog commit entry points and the streaming drain
helpers with timing wrappers, then runs selected queries end-to-end the
same way bench.py does (noop sink / collect) and prints where the wall
time went: fixture commits vs stream startup vs the query plan itself.

Usage: python tools/profile_phases.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PHASES: list[tuple[str, float]] = []


def _wrap(mod, name):
    fn = getattr(mod, name)

    def timed(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            PHASES.append((name, time.time() - t0))

    setattr(mod, name, timed)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]

    from pyspark.sql import SparkSession

    from dbimport_spark import recommended_confs, txnlog
    from dbimport_spark.plans import QUERIES

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_phases")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
    )
    for k, v in recommended_confs(shuffle_partitions=int(cpus)).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for fname in (
        "txn_append",
        "txn_upsert",
        "txn_delete_dv",
        "txn_set_property",
        "txn_widen_column",
        "txn_cleanup_log",
        "txn_vacuum",
        "txn_checkpoint",
    ):
        if hasattr(txnlog, fname):
            _wrap(txnlog, fname)

    import dbimport_spark.plans.streaming_queries as sq

    _wrap(sq, "_run_to_memory")
    if hasattr(sq, "_drain_to_parquet"):
        _wrap(sq, "_drain_to_parquet")

    # warmup
    spark.range(1000).selectExpr("sum(id)").collect()

    for name in names:
        for run in range(2):
            PHASES.clear()
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            total = time.time() - t0
            spark.catalog.clearCache()
            phases = list(PHASES)
            accounted = sum(s for _, s in phases)
            print(f"\n=== {name} run{run}: total {total:.2f}s "
                  f"(phases {accounted:.2f}s, rest {total - accounted:.2f}s)")
            for pname, sec in phases:
                print(f"  {sec:6.2f}  {pname}")

    spark.stop()


if __name__ == "__main__":
    main()
