"""Layer tracing from outside the engine.

``Tracer.install`` replaces every public function (and public class
method) of the engine's modules with a wrapper that records a span —
name, layer, start, end, parent, operation id — and runs the call under a
Spark job group of its own. Nothing in the engine changes: the wrappers
are rebound in the module namespaces for the traced window and the
originals are put back by ``uninstall``. Spans stay in memory until
``dump`` writes them out as JSON lines when the run ends.

After each operation the tracer reads Spark's status store (populated with
the UI off) for the jobs the operation started, and attributes each job to
the span whose job group it ran under, or, for jobs started on threads the
span's group does not reach (streaming batches, thread pools), to the
innermost span open when the job was submitted.

``StderrCapture`` routes the process's stdout and stderr (which the JVM and
the Python workers inherit) through a pipe, timestamps every Spark ERROR
line, and lets the tracer attribute it to the operation or span that was
running.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field

ENGINE_PACKAGE = "activity_files_spark"
ENTRY_MODULE = "__spark_entry__"
LAYERS = ("session", "data", "__spark_entry__", "operators", "functions",
          "codecs", "sources", "streaming", "plans")
ACTION_LAYER = "action"  # the benchmark's own action (collect / write)
# layers whose calls build a query's DataFrame (entry.build_s)
BUILDER_LAYERS = (ENTRY_MODULE, "operators")


def layer_of(module: str) -> str:
    if module == ENTRY_MODULE:
        return ENTRY_MODULE
    parts = module.split(".")
    return parts[1] if len(parts) > 1 else parts[0]


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    op_id: int
    start: float
    end: float = 0.0
    group: str = ""
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children_s


@dataclass
class OpStats:
    """What the status store says one operation ran."""

    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0
    layer_self_s: dict = field(default_factory=dict)
    build_s: float = 0.0
    spans: int = 0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._main = threading.main_thread()
        self._patched: list[tuple[object, str, object]] = []
        self._op_id = 0
        self._last_job = self._max_job_id()

    # ------------------------------------------------------------ spans
    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent.sid if parent else None,
                  self._op_id, time.time())
        sp.group = f"pb{sp.sid}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            parent.children_s += sp.end - sp.start
            self.sc.setJobGroup(parent.group, parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # spans are driver-main-thread only; pool threads call through
            if threading.current_thread() is not tracer._main:
                return fn(*args, **kwargs)
            sp = tracer._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sp)

        traced.__wrapped_by_perfbench__ = True
        return traced

    # ------------------------------------------------ install/uninstall
    def install(self) -> int:
        """Wrap the engine's public functions and methods in every module
        namespace that binds them. Returns how many callables were wrapped."""
        pkg = importlib.import_module(ENGINE_PACKAGE)
        mods = [importlib.import_module(m.name)
                for m in pkgutil.walk_packages(pkg.__path__, ENGINE_PACKAGE + ".")]
        mods.append(importlib.import_module(ENTRY_MODULE))
        wrappers: dict[int, object] = {}
        for mod in mods:
            short = mod.__name__.removeprefix(ENGINE_PACKAGE + ".")
            layer = layer_of(mod.__name__)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrappers[id(obj)] = self._wrap(obj, f"{short}.{attr}", layer)
                elif inspect.isclass(obj):
                    for m_name, m in list(vars(obj).items()):
                        if not m_name.startswith("_") and inspect.isfunction(m):
                            w = self._wrap(m, f"{short}.{attr}.{m_name}", layer)
                            self._patched.append((obj, m_name, m))
                            setattr(obj, m_name, w)
        # rebind every module-level name that refers to a wrapped function,
        # including `from x import y` copies in other modules
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)
        return len(wrappers) + sum(1 for o, _, _ in self._patched if inspect.isclass(o))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ----------------------------------------------------- operations
    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty(10_000)
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def op(self, name: str):
        """Context for one operation: an ``action``-layer span; on exit the
        operation's jobs are read from the status store."""
        tracer = self

        class _Op:
            def __enter__(self):
                tracer._op_id += 1
                self.first_span = len(tracer.spans)
                self.sp = tracer._open(name, ACTION_LAYER)
                return self

            def __exit__(self, *exc):
                tracer._close(self.sp)
                self.stats = tracer._collect(self.first_span)

        return _Op()

    def _innermost(self, spans: list[Span], t: float) -> Span:
        best = spans[0]
        for sp in spans:
            if sp.start <= t <= sp.end and sp.start >= best.start:
                best = sp
        return best

    def _has_builder_ancestor(self, sp: Span) -> bool:
        while sp.parent is not None:
            sp = self.spans[sp.parent]
            if sp.layer in BUILDER_LAYERS:
                return True
        return False

    def _collect(self, first_span: int) -> OpStats:
        spans = self.spans[first_span:]
        op_span = spans[0]
        by_group = {sp.group: sp for sp in spans}
        st = OpStats(spans=len(spans) - 1)
        for sp in spans:
            st.layer_self_s[sp.layer] = st.layer_self_s.get(sp.layer, 0.0) + sp.self_s
        # the builders are the outermost query-function and operator spans
        builders = [sp for sp in spans[1:] if sp.layer in BUILDER_LAYERS
                    and not self._has_builder_ancestor(sp)]
        build_end = max((sp.end for sp in builders), default=op_span.start)
        st.build_s = sum(sp.end - sp.start for sp in builders)

        self._bus.waitUntilEmpty(10_000)
        jobs = self._store.jobsList(None)
        seen_stages = set()
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            g = job.jobGroup()
            owner = by_group.get(g.get()) if g.isDefined() else None
            submitted = job.submissionTime()
            t_sub = submitted.get().getTime() / 1000.0 if submitted.isDefined() else op_span.end
            if owner is None:
                owner = self._innermost(spans, t_sub)
            st.jobs += 1
            if owner is not op_span and t_sub <= build_end:
                st.build_jobs += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                attempts = self._store.stageData(sid, False, None, False, None)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    st.stages += 1
                    st.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                    st.task_s += sd.executorRunTime() / 1e3
                    st.jvm_cpu_s += sd.executorCpuTime() / 1e9
                    st.gc_s += sd.jvmGcTime() / 1e3
                    st.shuffle_read_b += sd.shuffleReadBytes()
                    st.shuffle_write_b += sd.shuffleWriteBytes()
                    st.spill_b += sd.diskBytesSpilled()
                    st.input_b += sd.inputBytes()
                    st.output_b += sd.outputBytes()
        self._last_job = newest
        return st

    def owner_of(self, t: float) -> str:
        """Name of the operation and innermost span open at wall time ``t``."""
        best = None
        for sp in self.spans:
            if sp.start <= t <= (sp.end or float("inf")):
                if best is None or sp.start >= best.start:
                    best = sp
        if best is None:
            return "(between operations)"
        op = best
        while op.parent is not None:
            op = self.spans[op.parent]
        return op.name if op is best else f"{op.name} > {best.name}"

    def dump(self, path: str) -> None:
        """Write every span as one JSON line: name, layer, start, end,
        parent, operation id and self time."""
        import json

        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "sid": sp.sid, "name": sp.name, "layer": sp.layer, "start": sp.start,
                    "end": sp.end, "parent": sp.parent, "op_id": sp.op_id,
                    "self_s": sp.self_s}) + "\n")


class StderrCapture:
    """Route fds 1 and 2 through a pipe (the JVM and Python workers inherit
    them), copy every line to the real stderr, and keep the wall time of
    each Spark ERROR line. ``out`` is the real stdout for the result."""

    def __init__(self):
        self.errors: list[tuple[float, str]] = []
        self._lock = threading.Lock()
        sys.stdout.flush()
        sys.stderr.flush()
        self._real_out = os.dup(1)
        self._real_err = os.dup(2)
        r, w = os.pipe()
        os.dup2(w, 1)
        os.dup2(w, 2)
        os.close(w)
        self._r = r
        self.out = os.fdopen(self._real_out, "w", buffering=1)
        self._thread = threading.Thread(target=self._pump, daemon=True)
        self._thread.start()

    def _pump(self) -> None:
        err = os.fdopen(self._real_err, "wb", buffering=0)
        with os.fdopen(self._r, "rb", buffering=0) as src:
            buf = b""
            while True:
                chunk = src.read(65536)
                if not chunk:
                    break
                err.write(chunk)
                now = time.time()
                buf += chunk
                *lines, buf = buf.split(b"\n")
                for line in lines:
                    if b" ERROR " in line:
                        with self._lock:
                            self.errors.append((now, line.decode(errors="replace")))

    def errors_since(self, n: int) -> list[tuple[float, str]]:
        with self._lock:
            return self.errors[n:]

    def close(self) -> None:
        """Restore fds 1 and 2; the pump drains once every writer is gone."""
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(self._real_err, 1)
        os.dup2(self._real_err, 2)
        self._thread.join(timeout=5)
