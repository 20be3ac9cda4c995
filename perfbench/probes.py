"""Measurement hooks installed from the benchmark, never inside the program.

``OpTimer`` times every outermost ``Constraint.test`` call; it is the
only hook of an untraced run.  ``Tracer`` adds, for a traced run, a span
(layer, start, end, parent) around the public functions of each layer
module, a count of py4j round trips at the client boundary, and Spark
job/stage/task counts read from the public status tracker.  Hooks wrap
functions and methods by replacing their bindings at run time; the
program's files are untouched.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import Counter

#: Layer name of each module whose public functions are traced.  Every
#: module of ``datajudge_spark.operators`` is traced as ``operators.<name>``.
PIPELINE_LAYERS = {
    "datajudge_spark.pipeline.text": "pipeline.text",
    "datajudge_spark.pipeline.dedup": "pipeline.dedup",
    "datajudge_spark.pipeline.similarity": "pipeline.similarity",
    "datajudge_spark.pipeline.decontam": "pipeline.decontam",
    "datajudge_spark.pipeline.sampling": "pipeline.sampling",
    "datajudge_spark.plans": "plans",
}


def _constraint_classes():
    from datajudge_spark.constraints.base import Constraint

    seen, todo = [], [Constraint]
    while todo:
        cls = todo.pop()
        seen.append(cls)
        todo.extend(cls.__subclasses__())
    return seen


def _wrap_method(cls, name, make):
    if name in cls.__dict__:
        setattr(cls, name, make(cls.__dict__[name]))


class OpTimer:
    """Records ``(constraint, start, end)`` for each outermost
    ``Constraint.test`` call while ``active``."""

    def __init__(self):
        self.active = False
        self.ops: list[tuple[object, float, float]] = []
        self.on_op_end = None
        self._depth = threading.local()

    def install(self) -> None:
        for cls in _constraint_classes():
            _wrap_method(cls, "test", self._wrap)

    def _wrap(self, fn):
        @functools.wraps(fn)
        def test(constraint, *args, **kwargs):
            depth = getattr(self._depth, "n", 0)
            if depth or not self.active:
                self._depth.n = depth + 1
                try:
                    return fn(constraint, *args, **kwargs)
                finally:
                    self._depth.n = depth
            self._depth.n = 1
            start = time.perf_counter()
            try:
                result = fn(constraint, *args, **kwargs)
            finally:
                end = time.perf_counter()
                self._depth.n = 0
                self.ops.append((constraint, start, end))
            if self.on_op_end is not None:
                self.on_op_end(constraint, result)
            return result

        return test


class Tracer:
    """In-memory span recorder for the traced run."""

    def __init__(self):
        self.enabled = False
        self.pass_id = -1
        #: [layer, start, end, parent index, pass id]
        self.spans: list[list] = []
        self.py4j_calls = Counter()
        self._stack = threading.local()

    # -- spans ------------------------------------------------------------

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack.__dict__.setdefault("ids", [])
            span = [layer, time.perf_counter(), None,
                    stack[-1] if stack else None, self.pass_id]
            stack.append(len(self.spans))
            self.spans.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                stack.pop()

        return traced

    def install(self) -> None:
        """Wrap every layer's public entry points."""
        import datajudge_spark.operators as operators
        import datajudge_spark.pipeline  # noqa: F401  (loads the stages)
        import datajudge_spark.streaming as streaming
        from datajudge_spark.reference import DataReference
        from datajudge_spark.sources import DataSource

        layers = dict(PIPELINE_LAYERS)
        for info in pkgutil.iter_modules(operators.__path__):
            name = f"datajudge_spark.operators.{info.name}"
            importlib.import_module(name)
            layers[name] = f"operators.{info.name}"
        wrapped = {}
        for module_name, layer in layers.items():
            module = sys.modules[module_name]
            for name, obj in vars(module).items():
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == module_name):
                    wrapped[obj] = self.wrap(layer, obj)
        # rebind every reference to a wrapped function, including names
        # other modules imported with ``from ... import``
        for module_name, module in list(sys.modules.items()):
            if module_name.split(".")[0] != "datajudge_spark":
                continue
            for name, obj in list(vars(module).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    setattr(module, name, wrapped[obj])

        todo = [DataSource]
        while todo:
            cls = todo.pop()
            todo.extend(cls.__subclasses__())
            _wrap_method(cls, "get_df", lambda f: self.wrap("sources", f))
        _wrap_method(DataReference, "get_selection",
                     lambda f: self.wrap("reference", f))
        for cls in _constraint_classes():
            _wrap_method(cls, "test", lambda f: self.wrap("constraints.test", f))
            for hook in ("_get_factual_value", "_get_target_value"):
                _wrap_method(cls, hook,
                             lambda f: self.wrap("constraints.retrieve", f))
            _wrap_method(cls, "_compare",
                         lambda f: self.wrap("constraints.compare", f))
        _wrap_method(streaming.StreamingConstraintMonitor, "_process_batch",
                     lambda f: self.wrap("streaming.monitor", f))
        self._count_py4j()

    def _count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command
        counts = self.py4j_calls

        @functools.wraps(send)
        def send_command(client, *args, **kwargs):
            if self.enabled:
                counts[self.pass_id] += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        """Context in which the benchmark's own Spark calls are not traced."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    # -- aggregation --------------------------------------------------------

    def layer_totals(self, pass_ids) -> dict[str, dict[str, float]]:
        """Per layer: ``calls`` (spans not nested in the same layer),
        ``total`` (their wall time) and ``self`` (wall time minus child
        spans), summed over the given passes."""
        passes = set(pass_ids)
        child_time = [0.0] * len(self.spans)
        for span in self.spans:
            if span[3] is not None and span[2] is not None:
                child_time[span[3]] += span[2] - span[1]
        out: dict[str, dict[str, float]] = {}
        for i, (layer, start, end, parent, pid) in enumerate(self.spans):
            if pid not in passes or end is None:
                continue
            agg = out.setdefault(layer, {"calls": 0, "total": 0.0, "self": 0.0})
            agg["self"] += end - start - child_time[i]
            if parent is None or self.spans[parent][0] != layer:
                agg["calls"] += 1
                agg["total"] += end - start
        return out

    def inclusive_under(self, root: int, layer: str) -> float:
        """Wall time of ``layer`` spans (outermost) below span ``root``."""
        total = 0.0
        for i in range(root + 1, len(self.spans)):
            name, start, end, parent, _ = self.spans[i]
            if end is None or start > self.spans[root][2]:
                break
            if name != layer or (parent is not None
                                 and self.spans[parent][0] == layer):
                continue
            total += end - start
        return total


class JobCounter:
    """Counts Spark jobs, stages and completed tasks since the last call,
    from ``SparkContext.statusTracker()`` (job ids are sequential)."""

    #: Job ids looked ahead past one not (yet) known to the tracker.
    LOOKAHEAD = 4

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self._next = 0

    def take(self) -> tuple[int, int, int]:
        jobs = stages = tasks = 0
        while True:
            info = None
            for ahead in range(self.LOOKAHEAD):
                info = self._tracker.getJobInfo(self._next + ahead)
                if info is not None:
                    self._next += ahead + 1
                    break
            if info is None:
                return jobs, stages, tasks
            jobs += 1
            for stage_id in info.stageIds:
                stage = self._tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kib = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as status:
            for line in status:
                if line.startswith("VmHWM:"):
                    kib += int(line.split()[1])
    return kib / 1024.0
