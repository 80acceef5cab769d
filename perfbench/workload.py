"""The two halves of every workload: a CLI-shaped import and lake rounds
read by a change-feed consumer.  Each operation is timed, checked, and
run under a tracer span named after the layer it calls into."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import threading
import time

from pyspark.sql import functions as F

import lake
from gen import LINEITEM_KEYS, Aggregate, ImportInputs, LakeInputs, LakeRound
from oracle import expected_import_digest, table_digest
from tracing import STAGE_FIELDS, Tracer, dir_mb


class ImportRunner:
    """Runs ``python -m dbimport_spark`` in-process against a restored
    copy of the generated target and checks the result."""

    def __init__(self, spark, inputs: ImportInputs, keyed: bool, work: str, cpus: int):
        self.spark = spark
        self.inputs = inputs
        self.keyed = keyed
        self.mode = "UPSERT" if keyed else "INSERT"
        self.warehouse = os.path.join(work, "warehouse")
        self.table_dir = os.path.join(self.warehouse, "lineitem")
        self.argv = [
            self.warehouse, "lineitem", "-importfile", inputs.csv_path,
            "-import", self.mode, "-cpus", str(cpus),
        ] + (["-k", ",".join(LINEITEM_KEYS)] if keyed else [])
        self.expected_stats = {
            "found": inputs.expected["found"],
            "valid": inputs.expected["valid"],
            "invalid": inputs.expected["invalid"],
            **inputs.expected["upsert" if keyed else "insert"],
        }
        self._oracle: tuple[int, int] | None = None

    def restore(self) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)
        os.makedirs(self.warehouse, exist_ok=True)
        shutil.copytree(self.inputs.target_dir, self.table_dir)

    def run(self, tracer: Tracer) -> tuple[float, dict]:
        """One whole CLI import: (wall seconds, the printed stats line)."""
        from dbimport_spark import release_caches
        from dbimport_spark.__main__ import main

        self.restore()
        out = io.StringIO()
        with tracer.span("cli", "main"):
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(out):
                rc = main(self.argv)
            wall = time.perf_counter() - t0
        # the CLI leaves its coerced source cached; a CLI process would exit
        release_caches(self.spark)
        if rc != 0:
            raise RuntimeError(f"import exited {rc}: {out.getvalue().strip()}")
        return wall, json.loads(out.getvalue().strip().splitlines()[-1])

    def check(self, stats: dict) -> list[str]:
        """Problems with the last import: its stats line against the
        generator's counts, its table against the DuckDB oracle."""
        import duckdb

        problems = [
            f"stats {k}: got {stats.get(k)}, expected {v}"
            for k, v in self.expected_stats.items()
            if stats.get(k) != v
        ]
        if self._oracle is None:
            self._oracle = expected_import_digest(
                self.inputs.target_dir, self.inputs.csv_path, self.keyed
            )
        con = duckdb.connect()
        try:
            got = table_digest(con, self.table_dir)
        finally:
            con.close()
        if got != self._oracle:
            problems.append(f"table (rows, hash) {got} != oracle {self._oracle}")
        return problems

    def replay_layers(self, tracer: Tracer, work: str) -> dict:
        """Calls each layer's public function in the order the CLI does,
        one span per layer.  Every layer reads its input from a local
        checkpoint of the previous layer's output, so its span holds its
        own work only.  Returns the ratios and sizes the layers produce."""
        from dbimport_spark import release_caches
        from dbimport_spark.config import ImportDefinition, ImportMode, parse_key_column
        from dbimport_spark.operators import coerce, dedup, merge
        from dbimport_spark.operators.order import SRC_ORDER_COL
        from dbimport_spark.pipeline import run_import
        from dbimport_spark.schema.mapping import automap
        from dbimport_spark.sources.csv import CsvSource

        spark = self.spark
        self.restore()
        target = spark.read.parquet(self.table_dir)
        keys = list(LINEITEM_KEYS) if self.keyed else []
        with tracer.span("sources.csv", "read"):
            source = CsvSource().read(spark, self.inputs.csv_path).localCheckpoint()
        with tracer.span("operators.coerce", "apply"):
            valid, invalid = coerce.apply_mappings(
                source,
                automap(target.columns, [c for c in source.columns if c != SRC_ORDER_COL]),
                {f.name.lower(): f.dataType.simpleString() for f in target.schema.fields},
                keep_cols=[SRC_ORDER_COL],
            )
            valid = valid.localCheckpoint()
            n_invalid = invalid.count()
        n_valid = valid.count()
        out = {"operators.coerce.invalid_ratio": n_invalid / (n_valid + n_invalid)}
        if self.keyed:
            with tracer.span("operators.dedup", "join"):
                deduped = dedup.join_duplicates(valid, keys, order_col=SRC_ORDER_COL)
                deduped = deduped.drop(SRC_ORDER_COL).localCheckpoint()
            out["operators.dedup.kept_ratio"] = deduped.count() / n_valid
            with tracer.span("operators.merge", "upsert"):
                updated = merge.update_all_existing(target, deduped, keys)
                fresh = dedup.drop_duplicates_cross_table(deduped, target, keys)
                merge.insert_all(updated, fresh).write.format("noop").mode("overwrite").save()
        else:
            with tracer.span("operators.merge", "insert_all"):
                merge.insert_all(target, valid.drop(SRC_ORDER_COL)).write.format(
                    "noop"
                ).mode("overwrite").save()
        definition = ImportDefinition(
            import_mode=ImportMode(self.mode),
            key_columns=[parse_key_column(k) for k in keys],
        )
        fresh_source = CsvSource().read(spark, self.inputs.csv_path)
        with tracer.span("pipeline", "run_import"):
            new_target, _, _ = run_import(definition, fresh_source, target)
        shadow = os.path.join(work, "replay_write")
        with tracer.span("cli.write", "write"):
            new_target.write.mode("overwrite").parquet(shadow)
        out["cli.write.mb"] = dir_mb(shadow)
        shutil.rmtree(shadow, ignore_errors=True)
        release_caches(spark)
        return out


class ChangeFeedConsumer:
    """Long-lived ``readChangeFeed`` stream that keeps a per-status
    aggregate of the lake table by applying every change row with its
    sign (+1 insert, -1 delete)."""

    def __init__(self, spark, path: str, checkpoint: str):
        self.spark = spark
        self.agg: dict[str, list[int]] = {}
        self.batches = 0
        self.rows = 0
        self._lock = threading.Lock()
        sign = F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(F.lit(1))
        self._delta = [
            F.sum(sign).alias("n"),
            F.sum(sign * F.col("o_custkey")).alias("cust"),
            F.sum(sign * F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
            F.count(F.lit(1)).alias("rows"),
        ]
        self.query = (
            lake.change_feed(spark, path)
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def _apply(self, df, _batch_id) -> None:
        rows = df.groupBy("o_orderstatus").agg(*self._delta).collect()
        with self._lock:
            self.batches += 1
            for r in rows:
                cur = self.agg.setdefault(r["o_orderstatus"], [0, 0, 0])
                cur[0] += r["n"]
                cur[1] += r["cust"]
                cur[2] += r["cents"]
                self.rows += r["rows"]

    def catch_up(self) -> None:
        self.query.processAllAvailable()

    def snapshot_of_aggregate(self) -> Aggregate:
        with self._lock:
            return {k: tuple(v) for k, v in self.agg.items() if v[0] != 0}

    def stop(self) -> None:
        self.query.stop()


def snapshot_aggregate(spark, path: str, version: int) -> Aggregate:
    """The consumer's aggregate computed from scratch over the snapshot."""
    rows = (
        lake.snapshot(spark, path, version)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_custkey").alias("cust"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    )
    return {r["o_orderstatus"]: (r["n"], r["cust"], r["cents"]) for r in rows}


class LakeRunner:
    """A change-data-enabled lake table seeded from the generated orders,
    a consumer on its change feed, and the rounds applied to it."""

    READ_FILTER = "o_orderstatus = 'F' AND o_totalprice > 250000.0"

    def __init__(self, spark, inputs: LakeInputs, keyed: bool, work: str):
        self.spark = spark
        self.inputs = inputs
        self.keyed = keyed
        self.path = os.path.join(work, "lake", "orders")
        self.checkpoint = os.path.join(work, "lake", "consumer_checkpoint")
        self.next_round = 0
        self.consumer: ChangeFeedConsumer | None = None
        self.rewrite_commits: list[int] = []
        self._feed_mark = (0, 0, 0)  # (round, batches, rows) when marked
        self._feed_stages_mark: dict = {}  # the stream's stage totals then

    def seed(self) -> None:
        shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)
        lake.create(self.spark, self.path, self.spark.read.parquet(self.inputs.seed_path))

    def start_consumer(self, tracer: Tracer) -> None:
        """Starts the consumer's stream; it catches up in the background."""
        self.consumer = ChangeFeedConsumer(self.spark, self.path, self.checkpoint)
        tracer.register_stream(str(self.consumer.query.runId), "sources.lakecdc")

    def round(self, tracer: Tracer) -> dict:
        """One round: three commits, each followed by the consumer's
        catch-up, then a filtered snapshot read.  Returns the timings and
        the problems the round's check found."""
        spark = self.spark
        r: LakeRound = self.inputs.rounds[self.next_round]
        self.next_round += 1
        first = r.upsert if self.keyed else r.append_first
        first_df = spark.createDataFrame(first.to_pandas())
        append_df = spark.createDataFrame(r.append.to_pandas())
        steps = [
            ("upsert", lambda: lake.upsert(spark, self.path, first_df))
            if self.keyed
            else ("append", lambda: lake.append(spark, self.path, first_df)),
            ("delete", lambda: lake.delete_keys(spark, self.path, r.delete_keys)),
            ("append", lambda: lake.append(spark, self.path, append_df)),
        ]
        out = {"commit_s": [], "apply_s": [], "commit_mb": [], "problems": []}
        for op, fn in steps:
            before_v, before_mb = lake.version(self.path), dir_mb(self.path)
            with tracer.span("txnlog", op):
                t0 = time.perf_counter()
                v = fn()
                out["commit_s"].append(time.perf_counter() - t0)
            out["commit_mb"].append(dir_mb(self.path) - before_mb)
            if v != before_v + 1:
                out["problems"].append(f"{op} committed v{v} after v{before_v}")
            if op == "upsert":
                self.rewrite_commits.append(v)
            with tracer.span("sources.lakecdc", "catch_up"):
                t0 = time.perf_counter()
                self.consumer.catch_up()
                out["apply_s"].append(time.perf_counter() - t0)
        with tracer.span("txnlog", "read"):
            t0 = time.perf_counter()
            lake.snapshot(spark, self.path).filter(self.READ_FILTER).write.format(
                "noop"
            ).mode("overwrite").save()
            out["read_s"] = time.perf_counter() - t0
        out["problems"] += self.check(r.expected)
        return out

    def check(self, expected: Aggregate) -> list[str]:
        """The snapshot's aggregate against the generator's, and the
        consumer's against the snapshot's."""
        v = lake.version(self.path)
        snap = snapshot_aggregate(self.spark, self.path, v)
        got = self.consumer.snapshot_of_aggregate()
        problems = []
        if snap != expected:
            problems.append(f"snapshot aggregate {snap} at v{v} != generator's {expected}")
        if got != snap:
            problems.append(f"consumer aggregate {got} != snapshot aggregate {snap} at v{v}")
        return problems

    def mark_feed(self, tracer: Tracer) -> None:
        """Start counting the consumer's reads and, when tracing, its
        stream's stage totals from here (after warm-up, so the seed's
        initial read is not counted as a commit's)."""
        self._feed_mark = (self.next_round, self.consumer.batches, self.consumer.rows)
        if tracer.enabled:
            self._feed_stages_mark = tracer.job_stats().get("sources.lakecdc", {})

    def feed_per_commit(self) -> tuple[float, float]:
        """(micro-batches, change rows) the consumer read per commit since
        the mark."""
        r0, b0, n0 = self._feed_mark
        commits = 3 * (self.next_round - r0)
        return (self.consumer.batches - b0) / commits, (self.consumer.rows - n0) / commits

    def feed_stages_per_round(self, job_stats: dict) -> dict[str, float]:
        """The stream's stage totals per round since the mark."""
        now = job_stats.get("sources.lakecdc", {})
        n = max(1, self.next_round - self._feed_mark[0])
        return {f: (now.get(f, 0.0) - self._feed_stages_mark.get(f, 0.0)) / n for f in STAGE_FIELDS}

    def change_data_written(self) -> int:
        """Rewrite commits whose ``_change_data/v<N>`` directory exists."""
        base = os.path.join(self.path, "_change_data")
        return sum(os.path.isdir(os.path.join(base, f"v{v:08d}")) for v in self.rewrite_commits)

    def stop(self) -> None:
        if self.consumer is not None:
            self.consumer.stop()
