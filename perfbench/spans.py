"""Tracing for the traced benchmark run, measured from outside the package.

`Tracer` keeps spans (layer, name, start, end, parent, step) in memory and
wraps the package's public calls in place: `catalog.load_table` and
`checks.engine.run_checks` at every module that bound them, and the
`TableStore` mutation/read methods on the class. It also counts py4j *call*
commands while a query builds; raw `send_command` traffic includes proxy
garbage-collection deletes, whose number is not repeatable.

`StepProbe` gathers per-step execution numbers after the step's timed
region: jobs from the step's job groups (`statusTracker`), task time and
bytes from the UI's REST stage endpoint, Catalyst phase times and plan
shape for query steps, and driver-log accumulator errors. A stage the UI
no longer (or not yet) serves is counted in `missing_stages`.

`NullTracer` is the untraced stand-in: it patches nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

PACKAGE = "taico_data_integration_spark"
TABLESTORE_METHODS = ("write", "merge_in", "delete_in", "read_point", "compact", "vacuum")
ACCUMULATOR_ERROR = "attempted to access non-existent accumulator"
JOIN_METRICS = {
    "BroadcastHashJoin": "joins_broadcast_hash",
    "SortMergeJoin": "joins_sort_merge",
    "ShuffledHashJoin": "joins_shuffled_hash",
    "BroadcastNestedLoopJoin": "joins_nested_loop",
}


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    parent: int | None
    step: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """Untraced runs: no patches, no spans, no job groups."""

    active = False
    self_s = 0.0

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        yield None

    @contextlib.contextmanager
    def step(self, step_id: str):
        yield None

    @contextlib.contextmanager
    def counting_py4j(self):
        yield None


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.step_id: str | None = None
        self.active = True
        self.py4j_calls = 0
        self._counting = False
        self.self_s = 0.0  # time spent in tracer bookkeeping
        self._undo: list[tuple[object, str, object]] = []
        self._next_id = 0
        self._seen_inodes: dict[str, set] = {}

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self.stack[-1].id if self.stack else None
        sp = Span(self._next_id, layer, name, time.perf_counter(), parent, self.step_id,
                  attrs=dict(attrs))
        self._next_id += 1
        self.stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self.spans.append(sp)

    @contextlib.contextmanager
    def step(self, step_id: str):
        prev, self.step_id = self.step_id, step_id
        try:
            yield
        finally:
            self.step_id = prev

    @contextlib.contextmanager
    def counting_py4j(self):
        self._counting = True
        try:
            yield
        finally:
            self._counting = False

    # -- patches -------------------------------------------------------
    def install(self) -> None:
        from taico_data_integration_spark import catalog
        from taico_data_integration_spark.checks import engine
        from taico_data_integration_spark.ops.incremental import TableStore

        self._rebind(catalog.load_table, self._wrap("catalog", "load_table", catalog.load_table))
        self._rebind(engine.run_checks, self._wrap_checks(engine.run_checks))
        for m in TABLESTORE_METHODS:
            orig = TableStore.__dict__[m]
            self._set(TableStore, m, self._wrap_store(m, orig))
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *a, **k):
            if self._counting and command.startswith("c\n"):
                self.py4j_calls += 1
            return send(command, *a, **k)

        self._set(client, "send_command", counted)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._undo.clear()

    def _set(self, obj, attr: str, value) -> None:
        self._undo.append((obj, attr, obj.__dict__.get(attr)))
        setattr(obj, attr, value)

    def _rebind(self, orig, wrapper) -> None:
        """Replace `orig` in every package module that imported it by name."""
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._set(mod, attr, wrapper)

    def _wrap(self, layer: str, name: str, fn):
        def wrapper(*a, **k):
            with self.span(layer, name):
                return fn(*a, **k)

        return wrapper

    def _wrap_checks(self, fn):
        sc = self.spark.sparkContext

        def wrapper(*a, **k):
            if not self.active:
                return fn(*a, **k)
            group = f"{self.step_id}:checks:{len(self.spans)}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, group)
            try:
                with self.span("checks", "run_checks", job_group=group):
                    return fn(*a, **k)
            finally:
                sc.setJobGroup(prev or "", prev or "")

        return wrapper

    def _wrap_store(self, method: str, fn):
        tracer = self

        def wrapper(store, *a, **k):
            if not tracer.active:
                return fn(store, *a, **k)
            outer = not any(s.layer == "tablestore" for s in tracer.stack)
            with tracer.span("tablestore", method) as sp:
                out = fn(store, *a, **k)
            t0 = time.perf_counter()
            if isinstance(out, tuple) and len(out) == 2 and isinstance(out[1], dict):
                sp.attrs["files_rewritten"] = out[1].get("files_rewritten", 0)
                sp.attrs["files_linked"] = out[1].get("files_linked", 0)
            sp.attrs["outer"] = outer
            if outer:
                sp.attrs["bytes_written"] = tracer._new_bytes(store.root)
            tracer.self_s += time.perf_counter() - t0
            return out

        return wrapper

    def _new_bytes(self, root: str) -> int:
        """Bytes of files under `root` not seen at an earlier call."""
        return tree_bytes(root, self._seen_inodes.setdefault(root, set()))

    # -- output --------------------------------------------------------
    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Per-layer self time over `spans`: each span's duration minus the
        part its direct children cover (children run nested, one at a time,
        so their union is their sum)."""
        child: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "layer": s.layer, "name": s.name, "parent": s.parent,
                    "step": s.step, "start_s": s.start - t0, "end_s": s.end - t0,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


class StepProbe:
    """Per-step job, stage, plan and log numbers (traced runs only)."""

    def __init__(self, spark, log_path: str, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.log_path = log_path
        self._log_pos = 0
        port = self.sc.uiWebUrl.rsplit(":", 1)[-1]
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def begin(self, step_id: str, phase: str) -> str:
        """Start a step: later driver-log lines belong to it."""
        self._log_pos = os.path.getsize(self.log_path)
        return self.group(step_id, phase)

    def group(self, step_id: str, phase: str) -> str:
        g = f"{step_id}:{phase}"
        self.sc.setJobGroup(g, g)
        return g

    def collect(self, step_id: str, groups: list[str], df=None) -> dict:
        """Numbers for one finished step; its time counts as tracer self time."""
        t0 = time.perf_counter()
        self.sc.setJobGroup("", "")
        checks = [s.attrs["job_group"] for s in self.tracer.spans
                  if s.step == step_id and s.layer == "checks"]
        tracker = self.sc.statusTracker()
        rec = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0, "executor_cpu_ms": 0.0,
               "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "build_jobs": 0, "check_jobs": 0, "check_suites": len(checks),
               "missing_stages": 0}
        for g in groups + checks:
            jobs = list(tracker.getJobIdsForGroup(g))
            rec["jobs"] += len(jobs)
            if g.endswith(":build"):
                rec["build_jobs"] += len(jobs)
            if ":checks:" in g:
                rec["check_jobs"] += len(jobs)
            for jid in jobs:
                info = self._wait(lambda: tracker.getJobInfo(jid),
                                  lambda i: i is not None and i.status != "RUNNING")
                for sid in (info.stageIds if info else []):
                    self._add_stage(rec, sid)
        rec["accumulator_errors"] = self._accumulator_errors()
        if df is not None:
            rec.update(self._plan(df))
        self.tracer.self_s += time.perf_counter() - t0
        return rec

    @staticmethod
    def _wait(get, ready, timeout: float = 5.0):
        deadline = time.monotonic() + timeout
        while True:
            v = get()
            if ready(v) or time.monotonic() > deadline:
                return v
            time.sleep(0.01)

    def _add_stage(self, rec: dict, sid: int) -> None:
        def fetch():
            try:
                with urllib.request.urlopen(f"{self.api}/stages/{sid}?details=false", timeout=5) as r:
                    return json.load(r)
            except urllib.error.HTTPError as e:
                if e.code == 404:  # not yet in, or already evicted from, the UI store
                    return None
                raise

        attempts = self._wait(fetch, lambda a: a is not None and all(
            x["status"] not in ("ACTIVE", "PENDING") for x in a))
        if attempts is None:
            rec["missing_stages"] += 1
            return
        for a in attempts:
            if a["status"] == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += a["numTasks"]
            rec["executor_run_ms"] += a["executorRunTime"]
            rec["executor_cpu_ms"] += a["executorCpuTime"] / 1e6
            rec["input_bytes"] += a["inputBytes"]
            rec["shuffle_read_bytes"] += a["shuffleReadBytes"]
            rec["shuffle_write_bytes"] += a["shuffleWriteBytes"]
            rec["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]

    def _accumulator_errors(self) -> int:
        with open(self.log_path, "rb") as f:
            f.seek(self._log_pos)
            chunk = f.read()
        self._log_pos += len(chunk)
        return chunk.decode("utf-8", "replace").count(ACCUMULATOR_ERROR)

    def _plan(self, df) -> dict:
        """Catalyst phase times of the query's own QueryExecution (the noop
        write plans a fresh one, so planning is forced here) and the plan
        shape from the package's `plans.explain.plan_summary`."""
        from taico_data_integration_spark.plans.explain import plan_summary

        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()

        def ms(phase: str) -> float:
            opt = phases.get(phase)
            return float(opt.get().durationMs()) if opt.isDefined() else 0.0

        summary = plan_summary(df)
        out = {"analysis_ms": ms("analysis"), "optimization_ms": ms("optimization"),
               "planning_ms": ms("planning"), "exchanges": summary["exchanges"]}
        for kind, metric in JOIN_METRICS.items():
            out[metric] = sum(1 for j in summary["joins"] if j == kind)
        return out


def read_hwm_kb(pid: int | str) -> int:
    """VmHWM (peak resident set) of a process, in KiB; 0 when gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            m = re.search(r"^VmHWM:\s+(\d+) kB", f.read(), re.M)
    except OSError:
        return 0
    return int(m.group(1)) if m else 0


def tree_bytes(root: str, seen: set | None = None) -> int:
    """Bytes of the files under `root`, each inode once (COW versions
    hard-link untouched files), skipping inodes already in `seen`."""
    seen = set() if seen is None else seen
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total
