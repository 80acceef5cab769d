"""Import-and-lake benchmark for dbimport_spark.

    python3 perfbench/run.py --workload keyed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run starts one local Spark session,
generates its inputs from ``--seed`` under ``.perfbench_work/`` and then,
for at least two iterations and until ``--seconds`` would be exceeded,
alternates two timed halves:

* a CLI-shaped import (``dbimport_spark.__main__.main``) of a generated
  CSV into a restored lineitem-shaped table, UPSERT on the keyed
  workload and keyless INSERT on the keyless one;
* a lake round on a change-data-enabled table: a keyed upsert (keyed) or
  an append (keyless), a deletion-vector delete and an append, each
  followed by the catch-up of a long-lived change-feed consumer, then a
  filtered snapshot read.

Every import and every round is checked (see ``oracle.py`` and
``workload.py``); a failed check or a raised error counts as a failed
operation and makes ``correct`` false, and a metric left without samples
is left out.  The last stdout line is the result object; the line
before it and ``.perfbench_out/<workload>-<seed>-<trace>.json`` carry the
sample counts, box-load canaries and, with ``--trace 1``, the per-layer
split.  Exit status is 2 when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Sizes.  The reference-sized import (600k-row target, ~300k-row CSV) takes
# ~24 s warm per call at 4 cores, and ROADMAP's x10 import would take
# minutes.  A run, JVM start and warm-up included, has about a minute.
TARGET_ROWS = 12_000
SOURCE_ROWS = 6_000
LAKE_ROWS = 10_000
MAX_ROUNDS = 40
SETUP_REPEATS = 3
MIN_ITERATIONS = 2
SUSPECT_FACTOR = 1.5

# Workload -> whether its import and lake rounds are keyed.  The keyless
# one bypasses dedup, merge and the upsert's rewrite diff (README.md).
WORKLOADS = {"keyed": True, "keyless": False}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_count() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def driver_heap() -> str:
    """1 GiB, or an eighth of the machine's memory when that is less.  The
    inputs are a few MB; a larger heap only lets the JVM's resident size
    follow GC timing, which makes ``peak_rss_mb`` noisy."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(1024, total_kb // 1024 // 8)}m"


def start_session(work: str, cpus: int):
    from pyspark.sql import SparkSession

    from dbimport_spark import recommended_confs

    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.driver.memory", driver_heap())
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        )
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in recommended_confs(shuffle_partitions=cpus).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity_udf_fn(s):
    return s


def canaries(spark, cpus: int) -> dict:
    """One reading of each of bench.py's two box-load probes: a JVM
    shuffle over constant input, and a pandas_udf round trip on every
    core.  Their cost does not depend on the code under test."""
    from pyspark.sql import functions as F

    udf = F.pandas_udf(_identity_udf_fn, "long")

    def jvm():
        spark.range(0, 20_000_000, 1, cpus).selectExpr("id % 997 AS k", "id AS v").groupBy(
            "k"
        ).agg(F.sum("v").alias("s")).write.format("noop").mode("overwrite").save()

    def py():
        spark.range(0, 64_000 * cpus, 1, cpus).select(udf("id")).write.format("noop").mode(
            "overwrite"
        ).save()

    out = {}
    for name, fn in (("jvm_s", jvm), ("py_s", py)):
        t0 = time.perf_counter()
        fn()
        out[name] = time.perf_counter() - t0
    return out


def process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    """Lower each process's peak resident set (VmHWM) to its current
    resident set, so a later reading covers only what ran after this."""
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """Each process's peak resident set (VmHWM) in MB, by pid:name."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                name = fh.read().split(b"\0")[0].decode(errors="replace").rsplit("/", 1)[-1]
        except OSError:
            continue
        out[f"{pid}:{name}"] = kb / 1024
    return out


def program_processes() -> list[int]:
    """The driver JVM and its Python workers: every process below this
    one.  This process itself holds the benchmark's generator, oracle and
    checks, so it is left out."""
    return [p for p in process_tree(os.getpid()) if p != os.getpid()]


def summary(values: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples above it."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "median": statistics.median(vals) if vals else None}
    for pct in (99, 95, 90, 75):
        if n * (100 - pct) / 100 >= 10:
            out[f"p{pct}"] = vals[min(n - 1, int(n * pct / 100))]
            break
    return out


def mean(values) -> float | None:
    values = list(values)
    return statistics.fmean(values) if values else None


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def checked_import(importer, tracer) -> tuple[float | None, list[str]]:
    """One import and its check: (rows found per second, problems)."""
    try:
        wall, stats = importer.run(tracer)
        bad = importer.check(stats)
    except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
        return None, [f"import raised {exc!r}"]
    return (None if bad else stats["found"] / wall), bad


def checked_round(lake_runner, tracer) -> dict:
    """One lake round and its check; ``problems`` lists what failed."""
    try:
        return lake_runner.round(tracer)
    except Exception as exc:  # noqa: BLE001
        return {"problems": [f"lake round raised {exc!r}"]}


class Tally:
    """Operations attempted and failed, and the first problems seen."""

    ROUND_OPS = 7  # three commits, three catch-ups, one read

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def add(self, ops: int, problems: list[str]) -> None:
        self.attempted += ops
        if problems:
            self.failed += ops
            self.problems += problems


def run(args, work: str) -> tuple[dict, dict]:
    sys.path.insert(0, HERE)
    import gen
    from tracing import LAYER_MAP, Tracer
    from workload import ImportRunner, LakeRunner

    keyed = WORKLOADS[args.workload]
    cpus = cpu_count()
    report: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus}
    tally = Tally()

    t0 = time.perf_counter()
    spark = start_session(work, cpus)
    session_s = time.perf_counter() - t0
    lake_runner = None
    try:
        # Set-up proper, repeated: generate every input from the seed,
        # restore the import target, seed a fresh lake table.
        rep_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inputs_dir = os.path.join(work, "inputs")
            shutil.rmtree(inputs_dir, ignore_errors=True)
            imp_in = gen.generate_import(inputs_dir, args.seed, TARGET_ROWS, SOURCE_ROWS)
            lake_in = gen.generate_lake(inputs_dir, args.seed, LAKE_ROWS, MAX_ROUNDS, keyed)
            importer = ImportRunner(spark, imp_in, keyed, work, cpus)
            importer.restore()
            lake_runner = LakeRunner(spark, lake_in, keyed, work)
            lake_runner.seed()
            rep_s.append(time.perf_counter() - t0)

        # Warm-up, checked like the timed operations: one import (which
        # also builds the DuckDB oracle) and, beside it in a second thread,
        # the consumer's first catch-up and one lake round (the first, cold
        # import runs ~2x slower than the later ones).
        t0 = time.perf_counter()
        warm = Tracer(spark, enabled=False)
        traced = Tracer(spark, enabled=bool(args.trace))
        lake_runner.start_consumer(traced)
        with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
            lake_warm = pool.submit(checked_round, lake_runner, warm)
            tally.add(1, checked_import(importer, warm)[1])
            tally.add(Tally.ROUND_OPS, lake_warm.result()["problems"])
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(rep_s) + warmup_s
        lake_runner.mark_feed(traced)
        canary_setup = canaries(spark, cpus)
        reset_peak_rss(program_processes())
        iter_s = []

        # Timed loop.  With --trace 1 every other iteration runs under job
        # groups, so traced and untraced calls of the same run can be
        # compared; the import layer replay follows the loop.
        tracer = Tracer(spark, enabled=False)
        imports = {False: [], True: []}
        rounds = {False: [], True: []}
        loop_t0 = time.perf_counter()
        iteration = 0
        while True:
            it_t0 = time.perf_counter()
            on = bool(args.trace) and iteration % 2 == 1
            tr = traced if on else tracer
            rate, bad = checked_import(importer, tr)
            tally.add(1, bad)
            if rate is not None:
                imports[on].append(rate)
            if lake_runner.next_round < len(lake_runner.inputs.rounds):
                rnd = checked_round(lake_runner, tr)
                tally.add(Tally.ROUND_OPS, rnd["problems"])
                if not rnd["problems"]:
                    rounds[on].append(rnd)
            iteration += 1
            iter_s.append(time.perf_counter() - it_t0)
            elapsed = time.perf_counter() - loop_t0
            last = time.perf_counter() - it_t0
            if iteration >= MIN_ITERATIONS and elapsed + last > args.seconds:
                break
            if lake_runner.next_round >= len(lake_runner.inputs.rounds):
                break
        loop_s = time.perf_counter() - loop_t0
        rss = peak_rss_mb(program_processes())

        layer_extra: dict = {}
        job_stats: dict = {}
        if args.trace:
            try:
                layer_extra = importer.replay_layers(traced, work)
                tally.add(1, [])
            except Exception as exc:  # noqa: BLE001
                tally.add(1, [f"layer replay raised {exc!r}"])
            job_stats = traced.job_stats()
        canary_end = canaries(spark, cpus)
    finally:
        if lake_runner is not None:
            lake_runner.stop()
        stop_spark(spark)

    samples = {
        "import_rows_per_s": ("rows/s", imports[False]),
        "lake_commit_s": ("s", [statistics.fmean(r["commit_s"]) for r in rounds[False]]),
        "cdf_apply_s": ("s", [statistics.fmean(r["apply_s"]) for r in rounds[False]]),
        "lake_read_s": ("s", [r["read_s"] for r in rounds[False]]),
    }
    suspect = any(canary_end[k] > SUSPECT_FACTOR * canary_setup[k] for k in canary_setup)
    report.update(
        {
            "iterations": iteration,
            "loop_s": loop_s,
            "setup": {"session_s": session_s, "repeat_s": rep_s, "warmup_s": warmup_s},
            "samples": {k: summary(v) for k, (_, v) in samples.items()},
            "iteration_s": iter_s,
            "import_rows_per_s": imports,
            "round_commit_s": {k: [r["commit_s"] for r in v] for k, v in rounds.items()},
            "rss_mb": rss,
            "canary": {"setup": canary_setup, "end": canary_end, "suspect": suspect},
            "attempted": tally.attempted,
            "failed": tally.failed,
            "failed_op_ratio": tally.failed / tally.attempted,
            "problems": tally.problems[:20],
            "sizes": {
                "import_target_rows": TARGET_ROWS,
                "import_source_rows": SOURCE_ROWS,
                "import_csv_bytes": imp_in.csv_bytes,
                "lake_seed_rows": LAKE_ROWS,
            },
        }
    )
    if args.trace:
        result_metrics = trace_metrics(traced, job_stats, layer_extra, rounds, imports, lake_runner)
        report["layer_map"] = LAYER_MAP
        report["jobs"] = job_stats
    else:
        result_metrics = {
            name: {"value": statistics.median(vals), "unit": unit}
            for name, (unit, vals) in samples.items()
            if vals
        }
        result_metrics["setup_s"] = {"value": setup_s, "unit": "s"}
        result_metrics["peak_rss_mb"] = {"value": sum(rss.values()), "unit": "MB"}
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": result_metrics,
    }
    return result, report


def trace_metrics(traced, job_stats, layer_extra, rounds, imports, lake_runner) -> dict:
    """Per-layer metrics of a traced run.  Import layers are replayed once,
    so their numbers are per import; lake layers are averaged per commit
    or per traced round as named.  A metric with no sample (its operation
    failed) is left out."""
    from tracing import STAGE_FIELDS

    def secs(layer, op=None):
        return mean(traced.seconds(layer, op)) or 0.0

    def jobs(layer, op=None):
        row = job_stats.get(layer, {})
        n = len(traced.seconds(layer, op))
        return (row.get(f"{op}.jobs" if op else "jobs", 0.0) / n) if n else 0.0

    def unit_of(name):
        if name.endswith("_s"):
            return "s"
        if name.endswith(("_mb", ".mb")):
            return "MB"
        return "ratio" if name.endswith("_ratio") else "count"

    traced_rounds = rounds[True]
    vals = {
        "sources.csv.read_s": secs("sources.csv"),
        "sources.csv.jobs": jobs("sources.csv"),
        "operators.coerce.apply_s": secs("operators.coerce"),
        "operators.coerce.jobs": jobs("operators.coerce"),
        "operators.coerce.invalid_ratio": layer_extra.get("operators.coerce.invalid_ratio"),
        "operators.dedup.join_s": secs("operators.dedup"),
        "operators.dedup.jobs": jobs("operators.dedup"),
        "operators.dedup.kept_ratio": layer_extra.get("operators.dedup.kept_ratio", 0.0),
        "operators.merge.upsert_s": secs("operators.merge"),
        "operators.merge.jobs": jobs("operators.merge"),
        "operators.merge.shuffle_mb": job_stats.get("operators.merge", {}).get("shuffle_mb", 0.0),
        "pipeline.run_import_s": secs("pipeline"),
        "pipeline.run_import.jobs": jobs("pipeline"),
        "cli.write_s": secs("cli.write"),
        "cli.write.jobs": jobs("cli.write"),
        "cli.write.mb": layer_extra.get("cli.write.mb"),
    }
    for op in ("upsert", "delete", "append", "read"):
        vals[f"txnlog.{op}_s"] = secs("txnlog", op)
        vals[f"txnlog.{op}.jobs"] = jobs("txnlog", op)
    rewrites = len(lake_runner.rewrite_commits)
    vals["txnlog.cdf_written_ratio"] = (
        lake_runner.change_data_written() / rewrites if rewrites else 0.0
    )
    vals["txnlog.bytes_per_commit_mb"] = mean(x for r in traced_rounds for x in r["commit_mb"])
    batches, rows = lake_runner.feed_per_commit()
    vals["sources.lakecdc.batches_per_commit"] = batches
    vals["sources.lakecdc.rows_per_commit"] = rows
    vals["sources.lakecdc.apply_s"] = secs("sources.lakecdc")
    # import layers: per replayed import; txnlog: per traced round
    for layer in ("sources.csv", "operators.coerce", "operators.dedup", "operators.merge",
                  "pipeline", "cli.write", "txnlog"):
        row = job_stats.get(layer, {})
        div = len(traced_rounds) if layer == "txnlog" else 1
        for f in STAGE_FIELDS:
            vals[f"{layer}.{f}"] = row.get(f, 0.0) / div if div else None
    # the consumer's stream runs under one job group for the whole run
    for f, v in lake_runner.feed_stages_per_round(job_stats).items():
        vals[f"sources.lakecdc.{f}"] = v
    t_imp, u_imp = median(imports[True]), median(imports[False])
    t_commit = median(statistics.fmean(r["commit_s"]) for r in traced_rounds)
    u_commit = median(statistics.fmean(r["commit_s"]) for r in rounds[False])
    vals["trace.overhead.import_rows_per_s"] = (
        t_imp - u_imp if t_imp is not None and u_imp is not None else None
    )
    vals["trace.overhead.lake_commit_s"] = (
        t_commit - u_commit if t_commit is not None and u_commit is not None else None
    )
    units = {"sources.lakecdc.rows_per_commit": "rows", "trace.overhead.import_rows_per_s": "rows/s"}
    return {
        k: {"value": float(v), "unit": units.get(k, unit_of(k))}
        for k, v in vals.items()
        if v is not None
    }


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in and that JVM's Python workers,
    and wait for each to end."""
    from pyspark import SparkContext

    descendants = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import dbimport_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    try:
        result, report = run(args, work)
    except Exception as exc:  # noqa: BLE001 - set-up failed: one failed op, no metrics
        traceback.print_exc()
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        report = {"workload": args.workload, "seed": args.seed, "problems": [repr(exc)]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump({"result": result, "report": report}, fh, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
