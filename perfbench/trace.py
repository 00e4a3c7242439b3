"""Traced-run mode: per-layer metrics measured from outside the program.

``Tracer.install`` wraps public functions where their callers look them up
(module attributes), so the program itself is unchanged:

    api.JobRegistry.run_sync, api.run_job,
    runner.read_source / registry.read_source, runner.split_errors,
    runner.build_plan, runner.apply_transformation /
    builder.apply_transformation, runner.write_sink,
    maintenance.compact_files and session.release_operator_caches.

Each wrapper records a span (name, start, end, parent, op id) in memory;
per-layer *self* time is a span's duration minus its child spans, so the
layers of one op add up to the op's wall time. Streaming micro-batches run
inside ``run_job`` (while it awaits the query); a registered
``StreamingQueryListener`` reports their trigger time, which is moved from
the runner's self time to the ``streaming`` layer. Engine counters come
from Spark's status store: every Spark job started during an op belongs to
that op (one closed-loop client).
"""

from __future__ import annotations

import functools
import os
import threading
import time
from dataclasses import dataclass, field

from perfbench.core import MIN_CYCLES, LoopResult, nproc, run_op

#: span name → layer
LAYER = {
    "api.run_sync": "api",
    "runner.run_job": "runner",
    "readers.read_source": "readers",
    "errors.split_errors": "errors",
    "builder.build_plan": "builder",
    "operators.stage": "operators",
    "writers.write_sink": "writers",
    "maintenance.compact_files": "maintenance",
    "session.release_operator_caches": "session",
    "op": "bench",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = -1
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus its children's."""
    out = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


def layer_of(span: Span) -> str:
    if span.name == "operators.stage" and span.attrs.get("type") == "NONE":
        return "builder"  # apply_transformation without a stage
    return LAYER.get(span.name, span.name.split(".")[0])


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per layer."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[layer_of(s)] = out.get(layer_of(s), 0.0) + t
    return out


class SpanRecorder:
    """Spans of the op in progress, recorded on the op's own thread only
    (callbacks from Spark's stream-execution threads are not ops)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        self._thread = None

    def begin_op(self, op_id: int) -> None:
        self.op = op_id
        self._thread = threading.get_ident()
        self._stack = []
        self.open("op")

    def end_op(self) -> None:
        while self._stack:
            self.close(self._stack[-1])
        self._thread = None

    def open(self, name: str, **attrs) -> int | None:
        if threading.get_ident() != self._thread:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               op=self.op, attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()

    def wrap(self, name: str, fn, attrs_in=None, attrs_out=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            idx = self.open(name, **(attrs_in(*a, **kw) if attrs_in else {}))
            try:
                res = fn(*a, **kw)
            except BaseException:
                self.close(idx)
                raise
            self.close(idx)
            if idx is not None and attrs_out is not None:
                self.spans[idx].attrs.update(attrs_out(res))
            return res
        return wrapper


# ---------------------------------------------------------------------------
# span attributes, taken outside the span's own interval
# ---------------------------------------------------------------------------

def _job_status(res) -> dict:
    code, st = res
    return {"read": st.get("recordsRead", 0),
            "failed": st.get("recordsFailed", 0)}


def _sink_path(df, ep, *a, **kw) -> dict:
    return {"path": ep.details.get("path")}


def _written(res) -> dict:
    return {"rows": int(res.get("records_written", 0))}


def _stage_type(df, spark, spec) -> dict:
    tr = spec.transformation
    return {"type": (tr.type if tr is not None else "NONE").upper()}


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


# ---------------------------------------------------------------------------
# the tracer
# ---------------------------------------------------------------------------

class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.rec = SpanRecorder()
        self._patches: list[tuple[object, str, object]] = []
        self._ops = 0
        self.op_wall: list[float] = []
        self.engine: list[dict] = []
        self.sink_stats: list[tuple[int, int, int]] = []  # files, bytes, rows
        self.progress: list[dict] = []
        self.active = False     # a traced op is running
        self.untraced: list = []
        self._next_job = self._first_unseen_job()

    # -- patching ----------------------------------------------------------

    def _patch(self, owner, attr: str, name: str, **kw) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.rec.wrap(name, orig, **kw))

    def install(self) -> None:
        from etl_load_spark import api, runner, session
        from etl_load_spark.operators import maintenance
        from etl_load_spark.plans import builder
        from etl_load_spark.sources import registry

        self._patch(api.JobRegistry, "run_sync", "api.run_sync",
                    attrs_out=_job_status)
        self._patch(api, "run_job", "runner.run_job")
        self._patch(runner, "read_source", "readers.read_source")
        self._patch(registry, "read_source", "readers.read_source")
        self._patch(runner, "split_errors", "errors.split_errors",
                    attrs_out=lambda r: {"routed": r.error_count})
        self._patch(runner, "build_plan", "builder.build_plan")
        for mod in (runner, builder):
            self._patch(mod, "apply_transformation", "operators.stage",
                        attrs_in=_stage_type)
        self._patch(runner, "write_sink", "writers.write_sink",
                    attrs_in=_sink_path, attrs_out=_written)
        self._patch(maintenance, "compact_files",
                    "maintenance.compact_files",
                    attrs_out=lambda m: {"files_after": m["files_after"]})
        self._patch(session, "release_operator_caches",
                    "session.release_operator_caches")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def run(self, cycles, seconds: float) -> LoopResult:
        """The closed loop with tracing on every other cycle: traced and
        untraced cycles interleave, so any drift over the run (JIT warming,
        growing state) hits both and their gap is the tracing overhead.
        Runs at least one cycle of each (``MIN_CYCLES`` is 2)."""
        listener = _progress_listener(self)
        self.spark.streams.addListener(listener)
        loop = LoopResult()
        t0 = time.perf_counter()
        for k, cycle in enumerate(cycles):
            traced = k % 2 == 1
            if traced:
                self.install()
            for op in cycle:
                if traced:
                    s = run_op(op, self.op_done, self.op_start)
                else:
                    s = run_op(op)
                    self.untraced.append(s)
                loop.samples.append(s)
            if traced:
                self.uninstall()
            loop.cycles += 1
            if loop.cycles >= MIN_CYCLES and \
                    time.perf_counter() - t0 >= seconds:
                break
        loop.wall_s = time.perf_counter() - t0
        time.sleep(1.0)  # let the listener bus deliver the last events
        self.spark.streams.removeListener(listener)
        return loop

    # -- per-op hooks (called outside the op's clock) ------------------------

    def op_start(self, op) -> None:
        # jobs of untraced ops since the last traced one are not this op's
        self._next_job = self._first_unseen_job(self._next_job)
        self.active = True
        self.rec.begin_op(self._ops)

    def op_done(self, op, sample) -> None:
        self.rec.end_op()
        self.active = False
        self.op_wall.append(sample.seconds)
        self._ops += 1
        for s in self.rec.spans:
            if s.op == self.rec.op and s.name == "writers.write_sink" \
                    and s.attrs.get("path") and os.path.isdir(s.attrs["path"]):
                files, size = _dir_stats(s.attrs["path"])
                self.sink_stats.append((files, size, s.attrs.get("rows", 0)))
        self.engine.append(self._engine_counters(sample.seconds))

    # -- engine counters -----------------------------------------------------

    def _first_unseen_job(self, start: int = 0) -> int:
        st = self.spark.sparkContext.statusTracker()
        while st.getJobInfo(start) is not None:
            start += 1
        return start

    def _engine_counters(self, wall: float) -> dict:
        """Sum the stage counters of every Spark job started since the
        previous op (job ids are sequential per SparkContext)."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        c = {"stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
             "wall": wall}
        while (info := st.getJobInfo(self._next_job)) is not None:
            self._next_job += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:  # noqa: BLE001 — never-run stage
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += int(sd.numCompleteTasks())
                c["task_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                c["spill_bytes"] += int(sd.memoryBytesSpilled()
                                        + sd.diskBytesSpilled())
                c["input_bytes"] += int(sd.inputBytes())
        return c

    def spans(self) -> list[dict]:
        """Every recorded span, for writing out when the run ends."""
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op, "attrs": s.attrs}
                for s in self.rec.spans]

    # -- metrics -------------------------------------------------------------

    def metrics(self) -> dict:
        n = max(len(self.op_wall), 1)
        spans = self.rec.spans
        layer = dict.fromkeys(set(LAYER.values()), 0.0)
        layer.update(layer_self_times(spans))
        stage = {}
        for s, t in zip(spans, self_times(spans)):
            if layer_of(s) == "operators":
                stage[s.attrs["type"]] = stage.get(s.attrs["type"], 0.0) + t
        prog = self.progress
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / 1e3  # noqa: E731
        trigger = dur("triggerExecution")
        # micro-batches execute while run_job awaits the streaming query
        layer["runner"] -= trigger
        layer["streaming"] = trigger

        def s(v, unit="s"):
            return {"value": v / n, "unit": unit}

        splits = [x for x in spans if x.name == "errors.split_errors"]
        jobs = [x for x in spans if x.name == "api.run_sync"
                and any(y.op == x.op for y in splits)]
        read = sum(x.attrs.get("read", 0) for x in jobs)
        failed = sum(x.attrs.get("failed", 0) for x in jobs)
        files = sum(f for f, _, _ in self.sink_stats)
        nbytes = sum(b for _, b, _ in self.sink_stats)
        rows = sum(r for _, _, r in self.sink_stats)
        compacts = [x for x in spans if x.name == "maintenance.compact_files"]
        eng = self.engine
        tot = lambda k: sum(e[k] for e in eng)  # noqa: E731
        wall = tot("wall")
        m = {
            "api.self_s": s(layer["api"]),
            "runner.self_s": s(layer["runner"]),
            "readers.read_s": s(layer["readers"]),
            "errors.split_s": s(layer["errors"]),
            "errors.routed_rows": s(sum(x.attrs.get("routed", 0)
                                        for x in splits), "rows"),
            "errors.good_ratio": {"value": (read - failed) / read
                                  if read else 0.0, "unit": "ratio"},
            "builder.plan_s": s(layer["builder"]),
            "writers.write_s": s(layer["writers"]),
            "writers.bytes_per_row": {"value": nbytes / rows if rows else 0.0,
                                      "unit": "B/row"},
            "writers.files_written": s(files, "files"),
            "session.release_caches_s": s(layer["session"]),
            "maintenance.compact_s": s(layer["maintenance"]),
            "maintenance.files_after": {
                "value": (sum(x.attrs.get("files_after", 0) for x in compacts)
                          / len(compacts)) if compacts else 0.0,
                "unit": "files"},
            "streaming.trigger_s": s(trigger),
            "streaming.plan_s": s(dur("queryPlanning")),
            "streaming.add_batch_s": s(dur("addBatch")),
            "streaming.wal_commit_s": s(dur("walCommit")),
            "streaming.state_rows": {
                "value": float(prog[-1]["state_rows"]) if prog else 0.0,
                "unit": "rows"},
            "engine.stages": s(tot("stages"), "stages"),
            "engine.tasks": s(tot("tasks"), "tasks"),
            "engine.task_s": s(tot("task_s")),
            "engine.cpu_s": s(tot("cpu_s")),
            "engine.core_busy": {"value": tot("task_s") / (wall * nproc())
                                 if wall else 0.0, "unit": "ratio"},
            "engine.shuffle_write_bytes": s(tot("shuffle_write_bytes"), "B"),
            "engine.spill_bytes": s(tot("spill_bytes"), "B"),
            "engine.input_bytes": s(tot("input_bytes"), "B"),
        }
        for t in STAGE_TYPES:
            m[f"operators.stage_s.{t}"] = s(stage.get(t, 0.0))
        traced = sum(self.op_wall) / n
        untraced = [x.seconds for x in self.untraced if x.ok]
        m["trace.op_s"] = {"value": traced, "unit": "s"}
        m["trace.overhead_s"] = {
            "value": traced - (sum(untraced) / len(untraced)
                               if untraced else traced), "unit": "s"}
        m["trace.unaccounted_s"] = {
            "value": traced - sum(layer.values()) / n, "unit": "s"}
        return m


#: transformation stages reported as ``operators.stage_s.<TYPE>``
STAGE_TYPES = ("TREND",)


def _progress_listener(tracer: Tracer):
    """Collects micro-batch progress (durations, state rows) while a traced
    op runs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if not tracer.active:
                return
            p = event.progress
            tracer.progress.append({
                "durationMs": dict(p.durationMs or {}),
                "state_rows": sum(int(o.numRowsTotal)
                                  for o in (p.stateOperators or [])),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
