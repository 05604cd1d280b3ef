"""Per-layer figures from Spark's own event log.

The benchmark labels every job it starts with ``setJobDescription(label)``.
After the session stops, :func:`read_event_log` folds the uncompressed
event log into one :class:`LayerStats` per label: task metrics summed
over the label's stages, and the ``number of output rows`` of every
physical operator the label's queries ran (summed over the operators that
feed a Python worker, it is the label's ``python_rows``).
"""

from __future__ import annotations

import json
import pathlib
import statistics
from dataclasses import dataclass, field

# physical operators that ship rows through a Python worker
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInArrow")
MB = 1024.0 * 1024.0


@dataclass
class LayerStats:
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    python_rows: float = 0.0
    # stage id → run times (ms) of its tasks
    task_ms: dict[int, list[int]] = field(default_factory=dict)
    # (operator name, simpleString) → output rows, summed over the label's queries
    op_rows: dict[tuple[str, str], float] = field(default_factory=dict)

    def task_skew(self) -> float:
        """Longest ÷ median task run time in the stage with most task time."""
        if not self.task_ms:
            return 0.0
        ms = max(self.task_ms.values(), key=sum)
        med = statistics.median(ms)
        return max(ms) / med if med > 0 else 0.0

    def rows(self, node: str, contains: str = "") -> float:
        return sum(v for (n, s), v in self.op_rows.items() if n == node and contains in s)

    ADDITIVE = ("stages", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "python_rows")

    def per_rep(self, reps: int) -> dict[str, float]:
        """Additive figures divided by the number of repetitions run."""
        return {k: getattr(self, k) / reps for k in self.ADDITIVE}


def _walk(node: dict, out: list) -> None:
    out.append(node)
    for ch in node.get("children", []):
        _walk(ch, out)


def read_event_log(log_dir: pathlib.Path) -> dict[str, LayerStats]:
    """Fold every event-log file under ``log_dir`` by job description."""
    files = sorted(p for p in log_dir.rglob("*") if p.is_file()
                   and not p.name.startswith(".") and "appstatus" not in p.name)
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    # accumulator id → (SQL execution id, operator, plan string, metric name)
    acc_node: dict[int, tuple[int, str, str, str]] = {}
    acc_value: dict[int, float] = {}
    stats: dict[str, LayerStats] = {}

    def plan(exec_id: int, info: dict) -> None:
        nodes: list[dict] = []
        _walk(info, nodes)
        for n in nodes:
            for m in n.get("metrics", []):
                acc_node[m["accumulatorId"]] = (exec_id, n["nodeName"], n.get("simpleString", ""), m["name"])

    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    label = props.get("spark.job.description")
                    if label is None:
                        continue
                    for sid in e["Stage IDs"]:
                        stage_label.setdefault(sid, label)
                    if "spark.sql.execution.id" in props:
                        exec_label.setdefault(int(props["spark.sql.execution.id"]), label)
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if label is None or not tm:
                        continue
                    s = stats.setdefault(label, LayerStats())
                    s.tasks += 1
                    s.executor_cpu_s += tm["Executor CPU Time"] / 1e9
                    s.gc_s += tm["JVM GC Time"] / 1e3
                    s.shuffle_write_mb += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                    rd = tm["Shuffle Read Metrics"]
                    s.shuffle_read_mb += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / MB
                    s.spill_mb += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / MB
                    s.task_ms.setdefault(e["Stage ID"], []).append(tm["Executor Run Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    label = stage_label.get(info["Stage ID"])
                    if label is not None:
                        stats.setdefault(label, LayerStats()).stages += 1
                    for a in info.get("Accumulables", []):
                        # SQL metrics carry their running total as a string
                        try:
                            v = float(a.get("Value"))
                        except (TypeError, ValueError):
                            continue
                        acc_value[a["ID"]] = max(acc_value.get(a["ID"], 0), v)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plan(e["executionId"], e["sparkPlanInfo"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan(e["executionId"], e["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, v in e["accumUpdates"]:
                        acc_value[aid] = max(acc_value.get(aid, 0), v)

    for aid, (exec_id, node, simple, metric) in acc_node.items():
        label = exec_label.get(exec_id)
        if label is None or metric != "number of output rows" or aid not in acc_value:
            continue
        s = stats.setdefault(label, LayerStats())
        s.op_rows[(node, simple)] = s.op_rows.get((node, simple), 0) + acc_value[aid]
        if node in PYTHON_NODES:
            s.python_rows += acc_value[aid]
    return stats
