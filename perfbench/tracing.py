"""Spans recorded around the benchmark's calls into each layer, plus the
Spark work each call caused, read from Spark's own status store for a job
group set around the call.

Spans are kept in memory and written out as JSON lines when the run ends.
With tracing off, ``span`` only measures wall time: no job group is set and
nothing is recorded.
"""

from __future__ import annotations

import ast
import functools
import itertools
import json
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JError


@functools.lru_cache(maxsize=None)
def _functions_by_line(path: str) -> list[tuple[int, int, str]]:
    try:
        tree = ast.parse(Path(path).read_text())
    except (OSError, SyntaxError):
        return []
    return [
        (n.lineno, n.end_lineno or n.lineno, n.name)
        for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def call_site_function(call_site: str) -> str:
    """'collect at /x/lucene_spark/index.py:1041' → 'index.build_index' (the
    innermost function enclosing that line), or 'bench' for a call made by
    the benchmark itself."""
    try:
        path, line = call_site.rsplit(" at ", 1)[1].rsplit(":", 1)
        line_no = int(line)
    except (IndexError, ValueError):
        return "unknown"
    if "lucene_spark" not in Path(path).parts:
        return "bench"
    best = None
    for start, end, name in _functions_by_line(path):
        if start <= line_no <= end and (best is None or start >= best[0]):
            best = (start, name)
    return f"{Path(path).stem}.{best[1] if best else '<module>'}"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, qid: str | None = None, spark_group: bool = False):
        """Time a layer call.  The yielded dict receives 's' (wall seconds)
        on exit and, when tracing with ``spark_group``, the Spark counts."""
        rec: dict = {"name": name, "qid": qid}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["s"] = time.perf_counter() - t0
            return
        rec["id"] = next(self._ids)
        rec["parent"] = self._stack[-1]["id"] if self._stack else None
        if spark_group:
            rec["group"] = f"pb-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["s"]
            self._stack.pop()
            outer = next((r["group"] for r in reversed(self._stack) if "group" in r), None)
            if spark_group:
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec["spark"] = self.spark_counts(rec["group"])
            self.spans.append(rec)

    def spark_counts(self, group: str) -> dict:
        """Jobs, stages, tasks, executor time and shuffle bytes of one job
        group, with jobs and executor time split by the lucene_spark function
        named in each job's call site."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)  # the status store is fed asynchronously
        store = jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "by_site": {}, "stages_read": []}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            site = call_site_function(store.job(jid).name())
            per_site = out["by_site"].setdefault(site, {"jobs": 0, "executor_run_s": 0.0})
            out["jobs"] += 1
            per_site["jobs"] += 1
            for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:
                    continue  # skipped stage: its output was reused
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["stages_read"].append((int(sid), int(st.attemptId()), st.shuffleReadBytes()))
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                run_s = st.executorRunTime() / 1e3
                out["executor_run_s"] += run_s
                per_site["executor_run_s"] += run_s
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def task_shuffle_read_skew(self, stages_read) -> float:
        """max ÷ mean per-task shuffle-read bytes of the stage that read the
        most shuffle bytes among ``stages_read`` ((stage, attempt, bytes)
        from ``spark_counts``): the encode reduce stage of a build."""
        sid, att, total = max(stages_read, key=lambda s: s[2], default=(0, 0, 0))
        if total <= 0:
            return 0.0
        tasks = self.sc._jsc.sc().statusStore().taskList(sid, att, 1_000_000)
        reads = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                sr = m.get().shuffleReadMetrics()
                reads.append(sr.localBytesRead() + sr.remoteBytesRead())
        if not reads or sum(reads) == 0:
            return 0.0
        return max(reads) / (sum(reads) / len(reads))

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for rec in self.spans:
                out = dict(rec)
                if "spark" in out:
                    out["spark"] = {k: v for k, v in out["spark"].items() if k != "stages_read"}
                f.write(json.dumps(out) + "\n")
