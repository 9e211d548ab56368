"""Span tracer for the traced benchmark run.

Spans are recorded from OUTSIDE the package: :meth:`Tracer.wrap` rebinds a
module or class attribute to a wrapper that opens a span around the
original, so calls made by the package itself (``DataFrameClient`` calling
``DataFrameEngine.save``) nest as child spans. Nothing is rebound in an
untraced run. Spans live in memory and are summarised when the run ends.

A span records name, start, end, parent span and op id. A layer's self time
is its span minus the time its direct children cover.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def busy_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.busy_s - self.child_s


@dataclass
class Tracer:
    """In-memory span store. ``enabled`` gates recording: it is on only
    while a measured op runs in a traced run."""

    enabled: bool = False
    op_id: int = -1
    spans: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    # work done after an op's timer stops (file walks, byte counts), so
    # counting never lands inside a span
    deferred: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _originals: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.op_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.busy_s

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Rebind ``owner.attr`` to a span-recording wrapper. ``after``,
        when given, is called as ``after(result, args, kwargs)`` once the
        op's timer has stopped (see :meth:`run_deferred`)."""
        fn = getattr(owner, attr)
        self._originals.append((owner, attr, fn))

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                self.deferred.append(functools.partial(after, result, args, kwargs))
            return result

        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    def run_deferred(self) -> None:
        pending, self.deferred = self.deferred, []
        for fn in pending:
            fn()

    def per_call_ms(self, name: str) -> tuple[int, float, float]:
        """(calls, mean busy ms, mean self ms) over every span ``name``."""
        spans = [s for s in self.spans if s.name == name]
        if not spans:
            return 0, 0.0, 0.0
        n = len(spans)
        return (
            n,
            1000.0 * sum(s.busy_s for s in spans) / n,
            1000.0 * sum(s.self_s for s in spans) / n,
        )


class SparkCounters:
    """Per-op Spark scheduler and cache readings. Each op runs under its
    own job group; after the op, ``statusTracker`` lists that group's jobs,
    their stages and task counts, and the SparkContext storage info gives
    the persisted-RDD count and the memory they hold."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs: list = []
        self.stages: list = []
        self.tasks: list = []
        self.failed_tasks = 0
        self.persisted_rdds: list = []
        self.storage_mb: list = []

    def begin(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", "perfbench op", False)

    def end(self, op_id: int) -> None:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(f"perfbench-op-{op_id}")
        n_stages = n_tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                n_stages += 1
                n_tasks += stage.numTasks
                self.failed_tasks += stage.numFailedTasks
        self.jobs.append(len(job_ids))
        self.stages.append(n_stages)
        self.tasks.append(n_tasks)
        jsc = self.sc._jsc
        self.persisted_rdds.append(jsc.getPersistentRDDs().size())
        self.storage_mb.append(
            sum(info.memSize() for info in jsc.sc().getRDDStorageInfo()) / 2**20
        )


def _parquet_files(path: str) -> list:
    out = []
    for dp, _, fns in os.walk(path):
        out += [os.path.join(dp, f) for f in fns if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return out


def _selected_version_files(engine, name: str, external_key, use_last: bool) -> int:
    """Data files in the versions a load of ``name`` selects, read from the
    warehouse manifest and directory tree (never through the engine)."""
    with open(os.path.join(engine.warehouse, "_manifest.json")) as fh:
        ds = json.load(fh)["datasets"][name]
    if use_last:
        external_key = ds.get("latest")
    versions = [external_key] if external_key is not None else ds["versions"]
    return sum(len(_parquet_files(os.path.join(ds["path"], f"__version={v}"))) for v in versions)


def install_package_spans(tracer: Tracer) -> None:
    """Wrap the client and engine entry points. Counts that need file
    walks run as deferred hooks after the op's timer stops."""
    from pandas_db_sdk_spark import client, engine

    Engine, Client = engine.DataFrameEngine, client.DataFrameClient

    def args_of(fn, args, kwargs) -> dict:
        bound = inspect.signature(fn).bind(*args, **kwargs)
        bound.apply_defaults()
        return bound.arguments

    def after_save(result, args, kwargs):
        vdir = os.path.join(result["path"], f"__version={result['version']}")
        files = _parquet_files(vdir)
        tracer.count("engine.save.files_written", len(files))
        tracer.count("engine.save.bytes_written", sum(os.path.getsize(f) for f in files))
        tracer.count("engine.save.partition_dirs", len({os.path.dirname(f) for f in files}))
        manifest = os.path.getsize(os.path.join(args[0].warehouse, "_manifest.json"))
        tracer.counters["engine.manifest_bytes"] = max(
            tracer.counters.get("engine.manifest_bytes", 0), manifest
        )

    def after_load(result, args, kwargs):
        a = args_of(Engine.load, args, kwargs)
        tracer.count(
            "engine.load.files_scanned",
            _selected_version_files(a["self"], a["dataframe_name"], a["external_key"], a["use_last"]),
        )

    def after_load_pruned(result, args, kwargs):
        a = args_of(Engine.load_pruned, args, kwargs)
        tracer.count("engine.load_pruned.files_kept", len(result.inputFiles()))
        tracer.count(
            "engine.load_pruned.files_selected",
            _selected_version_files(a["self"], a["dataframe_name"], a["external_key"], a["use_last"]),
        )

    def after_put(result, args, kwargs):
        tracer.count("client.bytes_in", int(args[1].memory_usage(deep=True).sum()))

    def after_get(result, args, kwargs):
        tracer.count("client.bytes_out", int(result.memory_usage(deep=True).sum()))

    tracer.wrap(Client, "load_dataframe", "client.load_dataframe", after_put)
    tracer.wrap(Client, "get_dataframe", "client.get_dataframe", after_get)
    tracer.wrap(Client, "list_dataframes", "client.list_dataframes")
    tracer.wrap(Engine, "save", "engine.save", after_save)
    tracer.wrap(Engine, "load", "engine.load", after_load)
    tracer.wrap(Engine, "load_pruned", "engine.load_pruned", after_load_pruned)
    tracer.wrap(Engine, "sql", "engine.sql.plan")
    tracer.wrap(Engine, "list_datasets", "engine.list_datasets")
