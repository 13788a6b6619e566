"""Runtime tracing of the library's layer boundaries.

The tracer wraps public functions of the library from outside, at run time
(the library's files are not touched), and records one span per call:
name, start, end, parent span and the id of the workload operation that
caused it. Spans stay in memory and are written out at the end of the run.

Spans that may start Spark jobs also put those jobs in a job group of their
own, so the jobs, stages and tasks read back from Spark's status store after
the run can be attributed to the span and to its operation.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# (attribute, span name, whether the span gets its own Spark job group)
_ENGINE = [
    ("read_table", "engine.read_table", True),
    ("authorize_file", "engine.authorize_file", False),
    ("list_files", "engine.list_files", True),
    ("write_table", "engine.write_table", True),
    ("merge", "engine.merge", True),
    ("delete", "engine.delete", True),
    ("resolved_dnf", "acl.resolve", False),
]
_ACL = [
    ("permissions_for", "acl.permissions_for", True),
    ("compile_dnf", "acl.compile_dnf", False),
]
_DELTALOG = [
    ("latest_version", "deltalog.resolve", False),
    ("table_metadata_no_spark", "deltalog.resolve", False),
    ("table_protocol_no_spark", "deltalog.resolve", False),
    ("table_configuration_no_spark", "deltalog.resolve", False),
    ("_live_adds_no_spark", "deltalog.replay", False),
    ("snapshot_files", "deltalog.replay", True),
    ("write_commit", "deltalog.write_commit", False),
    ("write_commit_streamed", "deltalog.write_commit", True),
    ("_write_version_checksum_after_commit", "deltalog.write_version_checksum", False),
    ("write_version_checksum", "deltalog.write_version_checksum", False),
    ("write_checkpoint", "deltalog.write_checkpoint", True),
]
FUNCTION_MODULES = ("dedup", "text", "quality", "similarity")


class Tracer:
    """Span recorder. ``install`` wraps the library; ``op`` opens the root
    span of one workload operation."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        # span: [name, start, end, parent, op_id, job_group or None]
        self.spans: list[list] = []
        self.ops: list[dict] = []  # op_id -> {"kind", "span", "phases"?}
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._restore: list[tuple[object, str, object]] = []
        self.op_id = -1  # -1 = set-up

    # -- installation ---------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, group: bool) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer._call(name, group, fn, args, kwargs)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from delta_lake_proxy_spark import acl, deltalog, io, queries
        from delta_lake_proxy_spark.engine import Engine
        from delta_lake_proxy_spark.functions import dedup, quality, similarity, text
        from delta_lake_proxy_spark.streaming import metrics

        for attr, name, group in _ENGINE:
            self._wrap(Engine, attr, name, group)
        for attr, name, group in _ACL:
            self._wrap(acl, attr, name, group)
        for attr, name, group in _DELTALOG:
            self._wrap(deltalog, attr, name, group)
        mods = {"dedup": dedup, "text": text, "quality": quality, "similarity": similarity}
        for short in FUNCTION_MODULES:
            self._wrap_public(mods[short], f"functions.{short}")
        self._wrap_public(metrics, "streaming.metrics")
        # queries binds these by name at import, so patch that binding too
        self._wrap(io, "load_table", "io.load_table", True)
        queries.load_table = io.load_table
        queries.tumbling_metrics = metrics.tumbling_metrics
        queries.session_windows = metrics.session_windows

    def _wrap_public(self, module, name: str) -> None:
        for attr, obj in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and callable(obj)
                and getattr(obj, "__module__", None) == module.__name__
                and not isinstance(obj, type)
            ):
                self._wrap(module, attr, name, True)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- recording -------------------------------------------------------------

    def _call(self, name, group, fn, args, kwargs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        job_group = f"pb-{idx}" if group else None
        span = [name, time.perf_counter(), None, parent, self.op_id, job_group]
        self.spans.append(span)
        self._stack.append(idx)
        if job_group:
            self._push_group(job_group)
        try:
            return fn(*args, **kwargs)
        finally:
            span[2] = time.perf_counter()
            if job_group:
                self._pop_group()
            self._stack.pop()

    def _push_group(self, group: str) -> None:
        self._groups.append(group)
        self.sc.setJobGroup(group, group)

    def _pop_group(self) -> None:
        self._groups.pop()
        if self._groups:
            self.sc.setJobGroup(self._groups[-1], self._groups[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, kind: str, group: bool = True):
        """Root span of one workload operation. With ``group``, the jobs the
        benchmark itself starts in the op (e.g. the final ``collect``) go in
        the op's job group; driver-only ops skip it, as setting a group is
        a JVM round trip that would dwarf them."""
        self.op_id = len(self.ops)
        idx = len(self.spans)
        rec = {"kind": kind, "span": idx}
        self.ops.append(rec)
        job_group = f"pb-{idx}" if group else None
        span = [f"op.{kind}", time.perf_counter(), None, None, self.op_id, job_group]
        self.spans.append(span)
        self._stack.append(idx)
        if job_group:
            self._push_group(job_group)
        try:
            yield rec
        finally:
            span[2] = time.perf_counter()
            if job_group:
                self._pop_group()
            self._stack.pop()
            self.op_id = -1

    # -- read-back -------------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        return [
            (s[2] - s[1]) - child[i] if s[2] is not None else 0.0
            for i, s in enumerate(self.spans)
        ]

    def spark_stats(self) -> dict[str, dict]:
        """job group -> Spark work, read from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            g = s[5]
            if g is None:
                continue
            st = {"jobs": 0, "stages": 0, "tasks": 0, "exec_ms": 0.0, "cpu_ms": 0.0,
                  "shuffle_read": 0, "shuffle_write": 0, "first_stage_tasks": None,
                  "skew": None, "longest_stage_ms": -1.0}
            for job_id in tracker.getJobIdsForGroup(g):
                st["jobs"] += 1
                job = store.job(job_id)
                ids = job.stageIds()
                for k in range(ids.size()):
                    _stage_into(store, int(ids.apply(k)), st)
            out[g] = st
        return out

    def dump(self, path: str, workload: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "workload": workload, "id": i, "name": s[0], "start": s[1],
                    "end": s[2], "parent": s[3], "op": s[4], "self_s": selfs[i],
                    "job_group": s[5],
                }) + "\n")


def _stage_into(store, stage_id: int, st: dict) -> None:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 - a stage that never ran has no attempt data
        return
    if sd.status().toString() == "SKIPPED":  # reused shuffle output: no tasks ran
        return
    n = int(sd.numTasks())
    st["stages"] += 1
    st["tasks"] += n
    st["exec_ms"] += float(sd.executorRunTime())
    st["cpu_ms"] += float(sd.executorCpuTime()) / 1e6
    st["shuffle_read"] += int(sd.shuffleReadBytes())
    st["shuffle_write"] += int(sd.shuffleWriteBytes())
    if st["first_stage_tasks"] is None:
        st["first_stage_tasks"] = n
    run_ms = float(sd.executorRunTime())
    if run_ms > st["longest_stage_ms"]:
        st["longest_stage_ms"] = run_ms
        durs = []
        tasks = store.taskList(stage_id, int(sd.attemptId()), n)
        for k in range(tasks.size()):
            d = tasks.apply(k).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        if durs and statistics.median(durs) > 0:
            st["skew"] = max(durs) / statistics.median(durs)


def catalyst_phases(df) -> dict[str, float]:
    """analysis / optimization / planning ms from the DataFrame's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def layer_report(tracer: Tracer, extra: dict) -> dict[str, float]:
    """The per-layer metrics of one traced run (see BENCHMARK.json)."""
    selfs = tracer.self_times()
    spark = tracer.spark_stats()
    measured = [i for i, s in enumerate(tracer.spans) if s[4] >= 0]
    n_ops = max(1, len(tracer.ops))

    def spans(name):
        return [i for i in measured if tracer.spans[i][0] == name]

    def per_call_ms(name):
        idx = spans(name)
        return 1e3 * sum(selfs[i] for i in idx) / len(idx) if idx else 0.0

    def jobs_in(idx):
        return sum(spark.get(tracer.spans[i][5], {}).get("jobs", 0) for i in idx)

    m: dict[str, float] = {}
    reads = spans("engine.read_table")
    m["engine.read_table.ms"] = per_call_ms("engine.read_table")
    m["engine.read_table.eager_jobs"] = jobs_in(reads) / len(reads) if reads else 0.0
    listed, admitted = extra.get("files_listed", []), extra.get("files_admitted", [])
    m["engine.read_table.files_listed"] = statistics.mean(listed) if listed else 0.0
    m["engine.read_table.files_admitted"] = statistics.mean(admitted) if admitted else 0.0
    m["engine.read_table.admitted_ratio"] = (
        sum(admitted) / sum(listed) if listed and sum(listed) else 0.0
    )
    auths = spans("engine.authorize_file")
    m["engine.authorize_file.us"] = 1e3 * per_call_ms("engine.authorize_file")
    replays = [i for i in spans("deltalog.replay")
               if tracer.spans[i][3] is not None
               and tracer.spans[tracer.spans[i][3]][0] in ("engine.authorize_file", "engine.read_table")]
    lookups = len(auths) + len(reads)
    m["engine.snapshot_cache.hit_ratio"] = 1.0 - len(replays) / lookups if lookups else 0.0
    for op in ("list_files", "write_table", "merge", "delete"):
        m[f"engine.{op}.ms"] = per_call_ms(f"engine.{op}")

    resolves, misses = spans("acl.resolve"), spans("acl.permissions_for")
    m["acl.resolve.calls"] = len(resolves) / n_ops
    m["acl.permissions_for.calls"] = len(misses) / n_ops
    m["acl.cache_hit_ratio"] = 1.0 - len(misses) / len(resolves) if resolves else 0.0
    m["acl.permissions_for.ms"] = per_call_ms("acl.permissions_for")
    m["acl.compile_dnf.ms"] = per_call_ms("acl.compile_dnf")

    engine_ops = sum(len(spans(f"engine.{o}")) for o in
                     ("read_table", "authorize_file", "list_files", "write_table", "merge", "delete"))
    res = spans("deltalog.resolve")
    m["deltalog.resolutions_per_op"] = len(res) / engine_ops if engine_ops else 0.0
    m["deltalog.resolve.ms"] = (1e3 * sum(selfs[i] for i in res) / engine_ops) if engine_ops else 0.0
    m["deltalog.replay.ms"] = per_call_ms("deltalog.replay")
    m["deltalog.write_commit.ms"] = per_call_ms("deltalog.write_commit")
    m["deltalog.write_version_checksum.ms"] = per_call_ms("deltalog.write_version_checksum")
    m["deltalog.write_checkpoint.ms"] = per_call_ms("deltalog.write_checkpoint")
    m["deltalog.checkpoints"] = float(len(spans("deltalog.write_checkpoint")))
    m["deltalog.log_bytes_per_commit"] = float(extra.get("log_bytes_per_commit", 0.0))
    m["bytes_per_row_written"] = float(extra.get("bytes_per_row_written", 0.0))

    # Spark work per workload op: every job group opened inside the op
    per_op = defaultdict(lambda: {"jobs": 0, "stages": 0, "tasks": 0, "exec_ms": 0.0,
                                  "cpu_ms": 0.0, "shuffle_read": 0, "shuffle_write": 0})
    first_tasks, skews = [], []
    for i in measured:
        g = tracer.spans[i][5]
        if g is None or g not in spark:
            continue
        st, acc = spark[g], per_op[tracer.spans[i][4]]
        for k in acc:
            acc[k] += st[k]
    for op_id, rec in enumerate(tracer.ops):
        # first stage / longest stage of the op's heaviest span
        best = None
        for i in measured:
            s = tracer.spans[i]
            if s[4] == op_id and s[5] in spark and spark[s[5]]["first_stage_tasks"] is not None:
                if best is None or spark[s[5]]["longest_stage_ms"] > best["longest_stage_ms"]:
                    best = spark[s[5]]
        if best is not None:
            first_tasks.append(best["first_stage_tasks"])
            if best["skew"] is not None:
                skews.append(best["skew"])
    tot = {k: sum(v[k] for v in per_op.values()) for k in
           ("jobs", "stages", "tasks", "exec_ms", "cpu_ms", "shuffle_read", "shuffle_write")}
    m["spark.jobs"] = tot["jobs"] / n_ops
    m["spark.stages"] = tot["stages"] / n_ops
    m["spark.tasks"] = tot["tasks"] / n_ops
    m["spark.exec_ms"] = tot["exec_ms"] / n_ops
    m["spark.executor_cpu_ms"] = tot["cpu_ms"] / n_ops
    m["spark.shuffle_read_bytes"] = tot["shuffle_read"] / n_ops
    m["spark.shuffle_write_bytes"] = tot["shuffle_write"] / n_ops
    m["spark.first_stage_tasks"] = statistics.mean(first_tasks) if first_tasks else 0.0
    m["spark.stage_skew"] = statistics.median(skews) if skews else 0.0

    phases = [rec["phases"] for rec in tracer.ops if rec.get("phases")]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (
            statistics.mean(p[ph] for p in phases) if phases else 0.0
        )

    for short in FUNCTION_MODULES:
        idx = spans(f"functions.{short}")
        top = [i for i in idx if tracer.spans[tracer.spans[i][3]][0] != f"functions.{short}"]
        m[f"functions.{short}.ms"] = (
            1e3 * sum(tracer.spans[i][2] - tracer.spans[i][1] for i in top) / len(top)
            if top else 0.0
        )
        m[f"functions.{short}.eager_jobs"] = jobs_in(idx) / len(top) if top else 0.0
    idx = spans("streaming.metrics")
    m["streaming.metrics.ms"] = (
        1e3 * sum(tracer.spans[i][2] - tracer.spans[i][1] for i in idx) / len(idx)
        if idx else 0.0
    )
    loads = [i for i, s in enumerate(tracer.spans) if s[0] == "io.load_table" and s[4] < 0]
    m["io.load_table.ms"] = (
        1e3 * sum(selfs[i] for i in loads) / len(loads) if loads else 0.0
    )
    return m


def op_split(tracer: Tracer) -> dict[str, dict]:
    """Per op kind: mean op time, the part inside library calls (the op
    span's direct children) and the rest — for reads and registry rows, the
    rest is the Spark execution of the benchmark's ``collect``."""
    inside = defaultdict(float)
    for s in tracer.spans:
        if s[3] is not None and tracer.spans[s[3]][0].startswith("op."):
            inside[s[3]] += s[2] - s[1]
    acc = defaultdict(lambda: [0, 0.0, 0.0])
    for rec in tracer.ops:
        s = tracer.spans[rec["span"]]
        a = acc[rec["kind"]]
        a[0] += 1
        a[1] += s[2] - s[1]
        a[2] += inside[rec["span"]]
    return {
        k: {"n": n, "op_ms": 1e3 * t / n, "library_ms": 1e3 * lib / n,
            "outside_ms": 1e3 * (t - lib) / n}
        for k, (n, t, lib) in sorted(acc.items())
    }
