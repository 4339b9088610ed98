"""Shared machinery of the benchmark: process pinning, the metric
table, the span trace with Spark job attribution, and the result line.

Nothing here imports pyspark or numpy at module level, so ``run.py``
can pin thread counts and temp directories before either is loaded.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import statistics
import sys
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Metrics: names and units come from BENCHMARK.json; every workload
# reports every metric.
# ---------------------------------------------------------------------------

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

ALL = tuple(w["name"] for w in SPEC["workloads"])

def metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    return {m["name"]: m["unit"] for m in SPEC[kind]}


# ---------------------------------------------------------------------------
# Process pinning
# ---------------------------------------------------------------------------

def usable_cpus() -> int:
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def pin_environment(root: str, run_dir: str) -> int:
    """Pin Spark's ``local[]`` width and every BLAS/OpenMP pool to the
    usable cores, and point every temp directory (Python, the JVM,
    Spark's block manager) inside the checkout.  Must run before numpy
    or pyspark is imported.  Returns the core count."""
    cpus = usable_cpus()
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = str(cpus)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("MASTER", None)
    os.environ.pop("SPARK_GRAFT_NO_CKERNEL", None)
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = run_dir
    java_opts = f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )
    existing = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + existing if existing else "")
    if root not in sys.path:
        sys.path.insert(0, root)
    return cpus


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    idx = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[idx])


def fits(t_end: float, last_s: float) -> bool:
    """Whether another round as long as the last one ends by ``t_end``:
    timed loops run whole rounds and never overrun their window."""
    return time.perf_counter() + last_s <= t_end


def peak_rss_mib() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class GcMeter:
    """Counts collections and their pauses through ``gc.callbacks``,
    only while ``active`` (the timed loops)."""

    def __init__(self) -> None:
        self.active = False
        self.count = 0
        self.pause_s = 0.0
        self._t0 = 0.0
        gc.callbacks.append(self._cb)

    def _cb(self, phase: str, info: dict) -> None:
        if not self.active:
            return
        if phase == "start":
            self._t0 = time.perf_counter()
        elif phase == "stop" and self._t0:
            self.pause_s += time.perf_counter() - self._t0
            self.count += 1
            self._t0 = 0.0

    def close(self) -> None:
        if self._cb in gc.callbacks:
            gc.callbacks.remove(self._cb)


# ---------------------------------------------------------------------------
# Trace: in-memory spans; Spark jobs attributed through job groups
# ---------------------------------------------------------------------------

def cpu_jiffies() -> tuple[int, int, int]:
    """Host-wide (busy, idle, steal) clock ticks from ``/proc/stat``.  In a
    virtual machine ``steal`` is time the hypervisor gave the vCPUs to
    someone else: wall time stretches while busy time does not."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return busy, v[3] + v[4], v[7]


def steal_adjusted(wall: float, busy: int, steal: int) -> float:
    """Wall time less the share the hypervisor stole: the span needed
    ``busy`` ticks of CPU and waited ``steal`` more for it, so without
    the steal it would have taken ``wall * busy / (busy + steal)``."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


class Trace:
    """Spans around the benchmark's calls into each layer.

    Every span is timed (the untraced run needs the timings too).  With
    ``enabled`` the span also sets a unique Spark job group before the
    call and, once the listener bus has caught up, reads the group's
    jobs, stages, tasks and failed tasks from ``statusTracker``.  A
    span's count covers only jobs launched while it was the innermost
    span.  Spans stay in memory until :meth:`dump`."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._unresolved: list[dict] = []
        self.sc = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def _set_group(self, rec: dict | None) -> None:
        if not (self.enabled and self.sc is not None):
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        """Time the body.  ``rec["s"]`` is its steal-adjusted seconds, the
        figure every metric uses; ``start``/``end`` keep the raw wall clock."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        j0 = cpu_jiffies()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            j1 = cpu_jiffies()
            rec["busy_ticks"], rec["idle_ticks"], rec["steal_ticks"] = (
                b - a for a, b in zip(j0, j1))
            rec["s"] = steal_adjusted(rec["end"] - rec["start"], rec["busy_ticks"],
                                      rec["steal_ticks"])
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            if self.enabled:
                self._unresolved.append(rec)

    def resolve(self) -> None:
        """Read job/stage/task counts for every finished span."""
        if not (self.enabled and self.sc is not None and self._unresolved):
            return
        time.sleep(0.3)  # let the async listener bus deliver end events
        tracker = self.sc.statusTracker()
        for rec in self._unresolved:
            jobs = stages = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)
        self._unresolved.clear()

    def durations(self, name: str) -> list[float]:
        """Steal-adjusted seconds of every finished span of that name."""
        return [r["s"] for r in self.spans if r["name"] == name and "s" in r]

    def steal_share(self) -> float:
        """Share of the CPU the run asked for that the hypervisor stole,
        over the top-level spans."""
        top = [r for r in self.spans if r["parent"] is None and "s" in r]
        busy = sum(r["busy_ticks"] for r in top)
        steal = sum(r["steal_ticks"] for r in top)
        return steal / (busy + steal) if busy + steal else 0.0

    def per_call(self, name: str, field: str) -> float:
        """Mean of a Spark count per call of the named span."""
        recs = [r for r in self.spans if r["name"] == name and field in r]
        return sum(r[field] for r in recs) / len(recs) if recs else 0.0

    def total(self, field: str) -> int:
        return int(sum(r.get(field, 0) for r in self.spans))

    def self_times(self) -> dict[str, float]:
        """Self time per span name: its duration minus its children's."""
        child = {r["id"]: 0.0 for r in self.spans}
        for r in self.spans:
            if r["parent"] is not None and "end" in r:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for r in self.spans:
            if "end" in r:
                out[r["name"]] = out.get(r["name"], 0.0) + (
                    r["end"] - r["start"] - child[r["id"]])
        return out

    def dump(self, path: str, extra: dict) -> None:
        body = {"run": self.run_id, "spans": self.spans,
                "self_time_s": self.self_times(), **extra}
        with open(path, "w") as f:
            json.dump(body, f, indent=1, default=float)


# ---------------------------------------------------------------------------
# Correctness bookkeeping and the result line
# ---------------------------------------------------------------------------

class Ledger:
    """Operations attempted and failed: an operation fails when its answer
    does not pass its check.  An exception ends the run without a result."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)
                print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    @property
    def success_rate(self) -> float:
        return (self.attempted - self.failed) / max(self.attempted, 1)


def result_line(ledger: Ledger, values: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": ledger.failed == 0 and ledger.attempted > 0,
        "attempted": int(ledger.attempted),
        "failed": int(ledger.failed),
        "metrics": {name: {"value": float(values[name]), "unit": unit}
                    for name, unit in units.items()},
    })
