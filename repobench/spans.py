"""Spans around the benchmark's calls into the engine, and the Spark
stage metrics of the jobs each span caused.

A span is ``<layer>.<call>`` with a start, an end, a parent and a pass
id. While a span is open its Spark jobs run under the span's own job
group, so every job belongs to the innermost open span and is counted
once. After a pass (outside its clock) the tracer reads each group's
jobs and stages from the Spark status store.

With tracing off, ``span`` records nothing, sets no job group and
nothing reads the status store.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Plan nodes that cross the Python/Arrow boundary.
PYTHON_NODES = ("Python", "Pandas", "Arrow")

STAGE_FIELDS = (
    "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_rows",
    "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "python_stages", "python_run_s",
)

_MB = 1 << 20


@dataclass
class Span:
    id: int
    name: str
    tag: str | None
    parent: int | None
    pass_id: int | None
    start: float
    end: float = 0.0
    #: rows the call published (copies) or checkpoints it freed
    count: int = 0
    jobs: int = 0
    #: wall time covered by this span's own Spark jobs
    job_wall_s: float = 0.0
    metrics: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end) for s in spans
    }


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id: int | None = None
        self.tracing_pass = enabled
        self._sc = spark.sparkContext if spark is not None else None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        #: storage samples of the current pass: (total MB, checkpoint MB)
        self.storage: list[tuple[float, float]] = []

    @property
    def active(self) -> bool:
        return self.enabled and self.tracing_pass

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            next(self._ids), name, tag, parent.id if parent else None,
            self.pass_id, time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"bench-{s.id}", s.name + (f"[{s.tag}]" if s.tag else ""))

    def begin_pass(self, pass_id: int, traced: bool) -> None:
        self.pass_id = pass_id
        self.tracing_pass = traced
        self.storage = []

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def sample_storage(self) -> None:
        """Block-manager storage held now by persisted RDDs: all of them,
        and the locally checkpointed ones."""
        if not self.active:
            return
        jsc = self._sc._jsc
        ckpt_ids = set()
        jmap = jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if jmap.get(rid).rdd().isLocallyCheckpointed():
                ckpt_ids.add(int(rid))
        total = ckpt = 0
        for info in jsc.sc().getRDDStorageInfo():
            size = info.memSize() + info.diskSize()
            total += size
            if info.id() in ckpt_ids:
                ckpt += size
        self.storage.append((total / _MB, ckpt / _MB))

    def collect(self, pass_id: int) -> None:
        """Attach each span's job and stage metrics (outside the clock)."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for s in self.pass_spans(pass_id):
            for job_id in tracker.getJobIdsForGroup(f"bench-{s.id}"):
                s.jobs += 1
                job = store.job(job_id)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    s.job_wall_s += (
                        job.completionTime().get().getTime()
                        - job.submissionTime().get().getTime()
                    ) / 1000.0
                for stage_id in tracker.getJobInfo(job_id).stageIds:
                    _add_stage(s.metrics, store, stage_id)

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": own[s.id]}) + "\n")


def _add_stage(m: dict, store, stage_id: int) -> None:
    st = store.lastStageAttempt(stage_id)
    if st.status().toString() != "COMPLETE":
        return  # skipped stages reuse an earlier stage's output
    run_s = st.executorRunTime() / 1000.0
    m["stages"] += 1
    m["tasks"] += st.numTasks()
    m["run_s"] += run_s
    m["cpu_s"] += st.executorCpuTime() / 1e9
    m["gc_s"] += st.jvmGcTime() / 1000.0
    m["input_rows"] += st.inputRecords()
    m["output_mb"] += st.outputBytes() / _MB
    m["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
    m["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
    m["spill_mb"] += st.diskBytesSpilled() / _MB
    if _has_python_node(store.operationGraphForStage(stage_id).rootCluster()):
        m["python_stages"] += 1
        m["python_run_s"] += run_s


def _has_python_node(cluster) -> bool:
    if any(k in cluster.name() for k in PYTHON_NODES):
        return True
    it = cluster.childClusters().iterator()
    while it.hasNext():
        if _has_python_node(it.next()):
            return True
    return False
