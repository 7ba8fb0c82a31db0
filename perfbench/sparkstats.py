"""Spark's own numbers for one call, read from its status stores.

A ``Window`` notes the last SQL execution id before a call; on exit it
waits for the listener bus to drain and then reads every SQL execution that
started inside the call: SQL node metrics from the SQL status store
(``sharedState().statusStore()``) and stage task metrics from the app status
store, joined by the stage ids each execution lists. Nothing here touches a
DataFrame's ``queryExecution``, so the numbers describe the plan that ran.

Both stores are live with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """Total of one formatted SQL metric value, in seconds for timings,
    bytes for sizes and plain numbers for counts. Timing and size values
    come as ``total (min, med, max (stageId: taskId))`` then a line
    starting with the total; counts come as ``1,000``. Averages have no
    total and give None."""
    line = text.strip().splitlines()[-1]
    if line.startswith("("):
        return None
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class Stage:
    stage_id: int
    status: str
    num_tasks: int
    run_s: float
    wall_s: float
    gc_s: float
    spill_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    task_records_read: list[int] = field(default_factory=list)


@dataclass
class CallStats:
    """What Spark recorded for the executions started inside one call."""

    execution_ids: list[int] = field(default_factory=list)
    # (node name, metric name) -> total over every execution of the call
    node_metrics: dict[tuple[str, str], float] = field(default_factory=dict)
    stages: list[Stage] = field(default_factory=list)

    @property
    def n_execs(self) -> int:
        return len(self.execution_ids)

    def node(self, prefix: str, metric: str) -> float:
        """Total of ``metric`` over plan nodes whose name starts with
        ``prefix`` (scan nodes carry their format: ``Scan parquet ...``)."""
        return sum(v for (n, m), v in self.node_metrics.items()
                   if m == metric and n.startswith(prefix))

    def sum(self, attr: str) -> float:
        return float(sum(getattr(s, attr) for s in self.stages))

    def core_util(self, cores: int, stages: list[Stage] | None = None,
                  wall_s: float | None = None) -> float:
        """Task run time over (wall x cores). The wall defaults to the
        summed wall of the stages themselves."""
        stages = self.stages if stages is None else stages
        busy = sum(s.run_s for s in stages)
        wall = sum(s.wall_s for s in stages) if wall_s is None else wall_s
        return busy / (wall * cores) if wall > 0 else 0.0

    def exchange_read_stages(self) -> list[Stage]:
        """Completed stages that read a shuffle: the post-exchange side."""
        return [s for s in self.stages
                if s.status == "COMPLETE" and s.shuffle_read_bytes > 0]

    def skew(self) -> float:
        """max / median rows read per post-exchange task."""
        rows = [r for s in self.exchange_read_stages() for r in s.task_records_read]
        med = statistics.median(rows) if rows else 0
        return max(rows) / med if med else 0.0


class SparkStats:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        self._drain()
        ids = [e.executionId() for e in _iter(self._sql.executionsList())]
        return max(ids, default=-1)

    def window(self, task_rows: bool = False) -> "Window":
        return Window(self, task_rows)

    def collect(self, after_id: int, task_rows: bool = False) -> CallStats:
        self._drain()
        out = CallStats()
        stage_ids: set[int] = set()
        for e in _iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= after_id:
                continue
            out.execution_ids.append(eid)
            stage_ids.update(int(s) for s in _iter(e.stages()))
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            for node in _iter(graph.allNodes()):
                for m in _iter(node.metrics()):
                    raw = values.get(m.accumulatorId())
                    if not raw.isDefined():
                        continue
                    value = parse_metric(raw.get())
                    if value is not None:
                        key = (node.name(), m.name())
                        out.node_metrics[key] = out.node_metrics.get(key, 0.0) + value
        for sid in sorted(stage_ids):
            out.stages.append(self._stage(sid, task_rows))
        return out

    def _stage(self, sid: int, task_rows: bool) -> Stage:
        sd = self._app.lastStageAttempt(sid)
        start, end = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
        st = Stage(
            stage_id=sid,
            status=str(sd.status().toString()),
            num_tasks=sd.numTasks(),
            run_s=sd.executorRunTime() / 1000.0,
            wall_s=(end - start) if start is not None and end is not None else 0.0,
            gc_s=sd.jvmGcTime() / 1000.0,
            spill_bytes=sd.diskBytesSpilled(),
            output_bytes=sd.outputBytes(),
            shuffle_read_bytes=sd.shuffleReadBytes(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
        )
        if task_rows and st.shuffle_read_bytes > 0:
            tasks = self._app.taskList(sid, sd.attemptId(), sd.numTasks() + 1)
            for t in _iter(tasks):
                tm = t.taskMetrics()
                if tm.isDefined():
                    st.task_records_read.append(
                        tm.get().shuffleReadMetrics().recordsRead()
                    )
        return st


class Window:
    """``with stats.window() as w: ...`` then read ``w.result``."""

    def __init__(self, stats: SparkStats, task_rows: bool = False):
        self._stats = stats
        self._task_rows = task_rows
        self.result: CallStats | None = None

    def __enter__(self) -> "Window":
        self._after = self._stats.last_execution_id()
        return self

    def __exit__(self, *exc) -> None:
        if exc[0] is None:
            self.result = self._stats.collect(self._after, self._task_rows)
