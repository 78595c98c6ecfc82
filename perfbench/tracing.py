"""Per-request layer record read from Spark's own status stores.

The traced run tags every request with a job group. After the request
returns, ``Tracer.record`` drains the listener bus and reads
``AppStatusStore`` (jobs and stages of that group) and
``SQLAppStatusStore`` (the SQL executions the request started: their
final physical plan and their aggregated operator metrics). Both
stores are populated with ``spark.ui.enabled=false``. Nothing in the
package is instrumented; the spans are recorded around the calls the
benchmark makes.
"""

from __future__ import annotations

import os
import re
import threading

MB = 1024 * 1024

#: aggregated SQL metric name -> layer metric it adds to
SQL_METRICS = {
    "scan time": "sources.scan_s",
    "size of files read": "sources.input_mb",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.start_s",
    "data sent to Python workers": "python.to_worker_mb",
    "data returned from Python workers": "python.from_worker_mb",
}

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0 / MB, "KiB": 1.0 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": MB,
}
_PLAN_NODE = re.compile(r"^[\s:|+\-*]*([A-Za-z][A-Za-z0-9]*)[ (]")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def parse_metric(text: str) -> float:
    """Value of one rendered SQL metric, in seconds or MiB.

    A metric updated by several tasks renders as a ``total (min, med,
    max (stageId: taskId))`` header line followed by ``<total> (...)``;
    a single-task one renders as the bare value.
    """
    lines = text.strip().splitlines()
    head = lines[-1] if lines[0].startswith("total (") else lines[0]
    parts = head.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def plan_counts(description: str) -> dict[str, int]:
    """Exchange, sort-merge-join and Python-node counts of the final
    physical plan (the AQE initial plan is skipped)."""
    tree = description.split("== Physical Plan ==", 1)[-1].split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Initial Plan ==", 1)[0]
    names = [m.group(1) for m in map(_PLAN_NODE.match, tree.splitlines()) if m]
    return {
        "plans.exchanges": sum(
            n.endswith("Exchange") and not n.startswith("Reused") for n in names
        ),
        "plans.sort_merge_joins": names.count("SortMergeJoin"),
        "plans.python_nodes": sum(bool(_PYTHON_NODE.search(n)) for n in names),
    }


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def descendants() -> list[int]:
    """This process and every process below it (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process tree, read from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / MB


class RssSampler:
    """Background peak-RSS sampler over the benchmark's process tree."""

    def __init__(self, period_s: float = 0.25):
        self.peak_mb = 0.0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """Reads one request's layer record after it completes and keeps
    its spans (request -> job -> stage) in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0
        self._n = 0
        self.spans: list[dict] = []

    def begin(self, name: str) -> str:
        """Tag the next request's jobs; skip SQL executions of untraced
        work that ran since the last record."""
        self._jsc.listenerBus().waitUntilEmpty()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        return group

    def build_jobs(self, group: str) -> int:
        """Jobs the group has launched so far: eager actions that ran
        while the query function was still building its plan."""
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def cache_state(self) -> tuple[int, float]:
        """(persisted RDD count, stored MiB) as the request left them."""
        infos = self._jsc.getRDDStorageInfo()
        stored = sum(i.memSize() + i.diskSize() for i in infos)
        return len(self.sc._jsc.getPersistentRDDs()), stored / MB

    def record(self, group: str, name: str, t0: float, t1: float) -> dict:
        """Layer metrics of one completed request (group ``group``,
        wall window [t0, t1] in epoch seconds); appends its spans."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v

        req_id = f"r{self._n}"
        job_iv: list[tuple[float, float]] = []
        seen_stages: set[int] = set()
        child_spans: list[dict] = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            js, je = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            add("exec.jobs", 1)
            stage_iv: list[tuple[float, float]] = []
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                attempts = store.stageData(sid, False, None, False, None)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) == "SKIPPED":
                        continue
                    add("exec.stages", 1)
                    add("exec.tasks", st.numCompleteTasks())
                    add("exec.run_s", st.executorRunTime() / 1e3)
                    add("exec.cpu_s", st.executorCpuTime() / 1e9)
                    add("exec.gc_s", st.jvmGcTime() / 1e3)
                    add("shuffle.write_mb", st.shuffleWriteBytes() / MB)
                    add("shuffle.read_mb", st.shuffleReadBytes() / MB)
                    add("shuffle.spill_mb", st.diskBytesSpilled() / MB)
                    ss = _opt_ms(st.submissionTime())
                    se = _opt_ms(st.completionTime())
                    if ss is not None and se is not None:
                        stage_iv.append((ss, se))
                        child_spans.append({
                            "id": f"{req_id}.s{sid}.{a}", "parent": f"{req_id}.j{jid}",
                            "name": f"stage {sid}", "start": ss, "end": se,
                            "self_s": se - ss,
                        })
            if js is not None and je is not None:
                job_iv.append((js, je))
                child_spans.append({
                    "id": f"{req_id}.j{jid}", "parent": req_id, "name": f"job {jid}",
                    "start": js, "end": je,
                    "self_s": (je - js) - union_s(stage_iv, js, je),
                })

        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            ex = opt.get()
            self._next_exec += 1
            for k, v in plan_counts(ex.physicalPlanDescription()).items():
                add(k, v)
            rendered = self._sql.executionMetrics(ex.executionId())
            mets = ex.metrics()
            # an AQE re-plan lists a node's metrics again under the same
            # accumulator: count each accumulator once
            seen_acc: set[int] = set()
            for i in range(mets.size()):
                m = mets.apply(i)
                key = SQL_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen_acc:
                    continue
                seen_acc.add(m.accumulatorId())
                text = rendered.get(m.accumulatorId())
                if text.isDefined():
                    add(key, parse_metric(text.get()))

        covered = union_s(job_iv, t0, t1)
        add("exec.driver_gap_s", (t1 - t0) - covered)
        self.spans.append({
            "id": req_id, "parent": None, "name": name, "start": t0, "end": t1,
            "self_s": (t1 - t0) - covered,
        })
        self.spans.extend(child_spans)
        return out

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()
