"""Spans and counters around calls into the engine's layers.

The benchmark times the calls it makes into each layer itself (``span``),
and for calls one layer makes into another it installs wrappers over the
layers' public functions for the length of a traced run (``Wrappers``).
A wrapper replaces the function object on every loaded module of the
package that holds it — functions imported by name (``from ..sources import
load``) as well as module attributes resolved at call time — and
``uninstall`` puts every original back. Nothing in the package is edited.

Spans are kept in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import time
from collections import Counter
from contextlib import contextmanager
from typing import Callable

from stats import Span

PACKAGE = "synth_timeseries_data_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: dict[int, int] = {}  # span id -> operation index
        self.counts: Counter = Counter()
        self.seconds: Counter = Counter()
        self._stack: list[tuple[int, str]] = []
        self._ids = itertools.count(1)
        self.op: "int | None" = None

    @property
    def current(self) -> "str | None":
        """Name of the innermost open span."""
        return self._stack[-1][1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent))
            if self.op is not None:
                self.ops[sid] = self.op

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if self.ops.get(s.sid) == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = s._asdict()
                rec["op"] = self.ops.get(s.sid)
                f.write(json.dumps(rec) + "\n")


class Wrappers:
    """Span wrappers over functions of the package, removable as a set."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, module: str, attr: str, name: str,
             hook: "Callable | None" = None) -> None:
        original = getattr(importlib.import_module(module), attr)
        tracer = self.tracer

        @functools.wraps(original)
        def traced(*args, **kwargs):
            tracer.counts[name + ".calls"] += 1
            with tracer.span(name):
                if hook is None:
                    return original(*args, **kwargs)
                return hook(original, args, kwargs)

        self.replace(original, traced)

    def replace(self, original: object, replacement: object) -> None:
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if mname != PACKAGE and not mname.startswith(PACKAGE + "."):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, replacement)
                    self._patched.append((mod, attr, original))

    def patch_attr(self, owner: object, attr: str, replacement: object) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def install_layer_wrappers(tracer: Tracer) -> Wrappers:
    """Wrap the public functions of every layer the benchmark reports on.

    Counters beyond ``<span>.calls``: ``sources.load.misses`` (the call
    grew the session's resolved-relation cache), ``materialize.<fn>.builds``
    and ``materialize.materialized.build_s`` (the memo ran its builder),
    and ``session.tune_for_input.conf_writes`` (session conf writes made
    while tune_for_input is the innermost span)."""
    from pyspark.sql.conf import RuntimeConfig

    from synth_timeseries_data_spark.sources import tables

    w = Wrappers(tracer)

    def load_hook(original, args, kwargs):
        spark = args[0] if args else kwargs["spark"]
        before = len(tables._LOAD_CACHE.get(spark, {}))
        out = original(*args, **kwargs)
        if len(tables._LOAD_CACHE.get(spark, {})) > before:
            tracer.counts["sources.load.misses"] += 1
        return out

    def memo_hook(kind: str):
        def hook(original, args, kwargs):
            args = list(args)
            build = args[2] if len(args) > 2 else kwargs.pop("build")
            built = []

            def counted_build():
                built.append(1)
                return build()

            t0 = time.perf_counter()
            out = original(args[0], args[1], counted_build, **kwargs)
            if built:
                tracer.counts[f"materialize.{kind}.builds"] += 1
                tracer.seconds[f"materialize.{kind}.build_s"] += (
                    time.perf_counter() - t0
                )
            return out

        return hook

    pkg = PACKAGE
    w.wrap(f"{pkg}.session", "tune_for_input", "session.tune_for_input")
    w.wrap(f"{pkg}.sources.tables", "load", "sources.load", load_hook)
    w.wrap(f"{pkg}.sources.tables", "table_rows", "sources.table_rows")
    w.wrap(f"{pkg}.functions.materialize", "materialized",
           "materialize.materialized", memo_hook("materialized"))
    w.wrap(f"{pkg}.functions.materialize", "persisted",
           "materialize.persisted", memo_hook("persisted"))
    w.wrap(f"{pkg}.queries.generation", "_sweep", "generation.sweep")
    w.wrap(f"{pkg}.queries.benchmark", "score_generated", "benchmark.score_generated")
    w.wrap(f"{pkg}.sinks", "publish_version", "sinks.publish_version")
    w.wrap(f"{pkg}.functions.neardup_index", "minhash_delta_pairs",
           "neardup_index.minhash_delta_pairs")

    conf_set = RuntimeConfig.set

    @functools.wraps(conf_set)
    def counted_set(self, key, value):
        if tracer.current == "session.tune_for_input":
            tracer.counts["session.tune_for_input.conf_writes"] += 1
        return conf_set(self, key, value)

    w.patch_attr(RuntimeConfig, "set", counted_set)
    return w


class JobCounter:
    """Spark jobs, stages and tasks of one operation, read from the
    StatusTracker through a job group set for that operation."""

    def __init__(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def totals(self, name: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(name)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}
