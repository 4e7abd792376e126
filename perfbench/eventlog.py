"""Per-job-group layer totals from an uncompressed Spark event log.

The benchmark runs each layer call under its own ``setJobGroup`` and
turns on ``spark.eventLog`` with ``compress=false`` (Spark 4.1 would
otherwise zstd-compress v2 logs). ``group_totals`` folds every
``SparkListenerTaskEnd`` into the job group its stage belongs to:
executor run/CPU/GC time, spill, write output bytes, shuffle
write/read bytes and times, per-reduce-task records read (for skew),
and the five Python-worker SQL accumulables. Scan input is the
driver-side ``size of files read`` metric of each SQL execution: the
tasks' own input bytes miss Parquet reads done off the task thread.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

MB = 1 << 20

#: Spark's Python-worker SQL metrics (PythonSQLMetrics) -> layer key.
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "to_py_mb",
    "data returned from Python workers": "from_py_mb",
}

# SQL metric type -> factor to seconds / MB. Spark 4.1 declares the
# Python timings as "timing" (ms); the plan's own declaration wins
# when the log carries it.
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / MB}
_DEFAULT_TYPE = {"py_start_s": "timing", "py_init_s": "timing",
                 "py_run_s": "timing", "to_py_mb": "size",
                 "from_py_mb": "size"}


@dataclass
class Totals:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_write_s: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    #: stage id -> records read by each of its shuffle-reading tasks
    reduce_records: dict[int, list[int]] = field(default_factory=dict)
    py: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(PY_METRICS.values(), 0.0))

    def add(self, other: Totals) -> None:
        for k, v in vars(other).items():
            if k == "py":
                for pk, pv in v.items():
                    self.py[pk] += pv
            elif k == "reduce_records":
                for sid, recs in v.items():
                    self.reduce_records.setdefault(sid, []).extend(recs)
            else:
                setattr(self, k, getattr(self, k) + v)

    def skew(self) -> float:
        """max / median records read per reduce task (1.0 = even), over
        the reduce stage that read the most records — the data shuffle,
        not the one-row-per-partition exchange under a count()."""
        if not self.reduce_records:
            return 0.0
        recs = sorted(max(self.reduce_records.values(), key=sum))
        mid = len(recs) // 2
        med = recs[mid] if len(recs) % 2 else (recs[mid - 1] + recs[mid]) / 2
        return recs[-1] / med if med else 0.0


def log_files(path: str) -> list[str]:
    """Event-log files under ``path``: a single log file, a v2 log dir
    (``events_<n>_<app>`` rolled files, read in index order), or an
    event-log root holding one application's log."""
    if os.path.isfile(path):
        return [path]
    rolled = glob.glob(os.path.join(path, "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    apps = [p for p in glob.glob(os.path.join(path, "*"))
            if not os.path.basename(p).startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log under {path}, "
                         f"found {len(apps)}")
    return log_files(apps[0])


def read_events(path: str) -> Iterator[dict]:
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulatorId -> (name, metricType) over a SQL plan tree."""
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for c in info.get("children", ()):
        _plan_metrics(c, out)


def _task_totals(ev: dict, acc: dict[int, tuple[str, str]]) -> Totals:
    t = Totals(tasks=1)
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        t.failed_tasks = 1
    m = ev.get("Task Metrics") or {}
    t.run_s = m.get("Executor Run Time", 0) / 1e3
    t.cpu_s = m.get("Executor CPU Time", 0) / 1e9
    t.gc_s = m.get("JVM GC Time", 0) / 1e3
    t.spill_mb = m.get("Disk Bytes Spilled", 0) / MB
    t.output_mb = (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    sw = m.get("Shuffle Write Metrics") or {}
    t.shuffle_write_mb = sw.get("Shuffle Bytes Written", 0) / MB
    t.shuffle_write_s = sw.get("Shuffle Write Time", 0) / 1e9
    sr = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_mb = (sr.get("Remote Bytes Read", 0)
                         + sr.get("Local Bytes Read", 0)) / MB
    t.fetch_wait_s = sr.get("Fetch Wait Time", 0) / 1e3
    if sr.get("Local Blocks Fetched", 0) + sr.get("Remote Blocks Fetched", 0):
        t.reduce_records[ev["Stage ID"]] = [sr.get("Total Records Read", 0)]
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        key = PY_METRICS.get(a.get("Name"))
        if key is None:
            continue
        mtype = acc.get(a["ID"], (None, _DEFAULT_TYPE[key]))[1]
        t.py[key] += int(a.get("Update", 0)) * _UNIT[mtype]
    return t


def group_totals(events: Iterable[dict]) -> dict[str | None, Totals]:
    """Task totals keyed by job group (``None`` for untagged jobs)."""
    stage_group: dict[int, str | None] = {}
    exec_group: dict[str, str | None] = {}
    acc: dict[int, tuple[str, str]] = {}
    driver: dict[tuple[str, int], int] = {}
    out: dict[str | None, Totals] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            if props.get("spark.sql.execution.id") is not None:
                exec_group.setdefault(props["spark.sql.execution.id"], group)
        elif "sparkPlanInfo" in ev:
            # SQLExecutionStart / SQLAdaptiveExecutionUpdate declare
            # each SQL metric's name and type (timing in ms vs ns, size).
            _plan_metrics(ev["sparkPlanInfo"], acc)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", ()):
                driver[(str(ev["executionId"]), acc_id)] = int(value)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            out.setdefault(group, Totals()).add(_task_totals(ev, acc))
    for (exec_id, acc_id), value in driver.items():
        if acc.get(acc_id, ("",))[0] == "size of files read":
            group = exec_group.get(exec_id)
            out.setdefault(group, Totals()).input_mb += value / MB
    return out


def merged(totals: dict[str | None, Totals], prefix: str = "") -> Totals:
    """Sum of every group whose name starts with ``prefix``."""
    acc = Totals()
    for g, t in totals.items():
        if g is not None and g.startswith(prefix):
            acc.add(t)
    return acc
