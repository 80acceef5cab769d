"""Per-layer tracing from outside the program.

A span is a call into one module's public function, made by the
benchmark under a Spark job group that names the layer.  After the run
the Spark status store is read once: every job of a layer's groups, the
stages those jobs ran and the stages' task metrics are summed per layer.
Nothing inside the program is patched; the program only sees job groups,
which any Spark caller may set.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Layer -> (the end-to-end metric it should move, the workloads it should
# move it on).  Printed with every traced run so later changes can cite it.
LAYER_MAP = {
    "sources.csv": ("import_rows_per_s", "keyed, keyless"),
    "operators.coerce": ("import_rows_per_s", "keyed, keyless"),
    "operators.dedup": ("import_rows_per_s", "keyed only"),
    "operators.merge": ("import_rows_per_s", "keyed; keyless only through insert_all"),
    "pipeline": ("import_rows_per_s", "keyed, keyless (most on keyless)"),
    "cli.write": ("import_rows_per_s", "keyed, keyless"),
    "txnlog": ("lake_commit_s, lake_read_s", "keyed (upsert, delete, append); keyless (append, delete)"),
    "sources.lakecdc": ("cdf_apply_s", "keyed, keyless"),
}

STAGE_FIELDS = ("tasks", "executor_s", "spill_mb", "failed_tasks")


@dataclass
class Span:
    layer: str
    op: str
    start: float
    end: float
    group: str


@dataclass
class Tracer:
    """Records spans; when enabled, also sets one Spark job group per
    span.  A disabled tracer sets no group."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    stream_groups: dict[str, str] = field(default_factory=dict)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextlib.contextmanager
    def span(self, layer: str, op: str = ""):
        sc = self.spark.sparkContext
        group = f"{layer}#{op}#{next(self._ids)}"
        if self.enabled:
            sc.setJobGroup(group, f"perfbench {layer} {op}".strip())
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(layer, op, start, end, group))

    def register_stream(self, run_id: str, layer: str) -> None:
        """Streaming jobs run under their query's run id as job group."""
        self.stream_groups[run_id] = layer

    def seconds(self, layer: str, op: str | None = None) -> list[float]:
        return [
            s.end - s.start
            for s in self.spans
            if s.layer == layer and (op is None or s.op == op)
        ]

    def layer_of_group(self, group: str | None) -> tuple[str, str] | None:
        if group is None:
            return None
        if group in self.stream_groups:
            return self.stream_groups[group], ""
        if group.count("#") == 2:
            layer, op, _ = group.split("#")
            return layer, op
        return None

    def job_stats(self) -> dict:
        """{layer: {"jobs": n, "<op>.jobs": n, "tasks": n, "executor_s": s,
        "spill_mb": mb, "shuffle_mb": mb, "failed_tasks": n}} from the
        status store."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        job_rows = []
        for i in range(jobs.length()):
            jd = jobs.apply(i)
            g = jd.jobGroup()
            ids = jd.stageIds()
            job_rows.append(
                (jd.jobId(), g.get() if g.isDefined() else None,
                 [ids.apply(j) for j in range(ids.length())])
            )
        out: dict = defaultdict(lambda: defaultdict(float))
        stage_layer: dict[int, str] = {}
        for _, group, stage_ids in sorted(job_rows):
            lo = self.layer_of_group(group)
            if lo is None:
                out["unattributed"]["jobs"] += 1
                continue
            layer, op = lo
            out[layer]["jobs"] += 1
            if op:
                out[layer][f"{op}.jobs"] += 1
            for sid in stage_ids:
                stage_layer.setdefault(sid, layer)
        stages = store.stageList(
            None, False, False, getattr(store, "stageList$default$4")(), None
        )
        for i in range(stages.length()):
            s = stages.apply(i)
            layer = stage_layer.get(s.stageId())
            if layer is None or str(s.status()) == "SKIPPED":
                continue
            row = out[layer]
            row["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            row["failed_tasks"] += s.numFailedTasks()
            row["executor_s"] += s.executorRunTime() / 1000.0
            row["spill_mb"] += s.diskBytesSpilled() / 1e6
            row["shuffle_mb"] += s.shuffleWriteBytes() / 1e6
        return {k: dict(v) for k, v in out.items()}


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6
