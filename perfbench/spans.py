"""Spans around the calls into the engine's layers, and what they add up to.

The tracer records a span (name, start, end, parent, query id) for each call
the benchmark wraps.  Wrapping happens here, in the benchmark: ``install``
replaces the public entry points of each layer module, and the pyspark
transfer methods, with timing wrappers, and returns a function that puts the
originals back.  Nothing inside the engine is edited.  Spans stay in memory
and are written out by the caller when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterable

# Layer name -> module whose public DataFrame-level functions get a span.
OPERATOR_MODULES = {
    "operators.graph": "aleph2_contrib_spark.operators.graph",
    "operators.dedup": "aleph2_contrib_spark.operators.dedup",
    "operators.itemsets": "aleph2_contrib_spark.operators.itemsets",
}
# Layer name -> public methods that write through the sinks.  Only the
# outermost of nested write calls gets a span.
WRITE_LAYER = "sources.write"
WRITE_METHODS = {
    ("aleph2_contrib_spark.sources.storage", "TimePartitionedTable"): (
        "write", "write_to_buffer", "promote_buffer", "optimize", "compact",
    ),
    ("aleph2_contrib_spark.sources.txlog", "TransactionalTable"): (
        "append", "merge_by_key", "apply_cdc", "overwrite", "restore", "update_by_spec",
        "delete_by_spec", "upsert_by_spec", "optimize", "compact", "vacuum",
    ),
    ("aleph2_contrib_spark.sources.batch_writer", "BatchWriteService"): (
        "store_object", "store_objects", "poll", "flush",
    ),
}
# Transfers between the driver's Python process and the JVM.
TO_DRIVER = "transfer.to_driver"
FROM_DRIVER = "transfer.from_driver"
BUILD = "spark.build"  # the query function, up to the DataFrame it returns
COLLECT = "spark.collect"  # the final collect() of that DataFrame
LOAD_TABLE = "sources.load_table"
PARQUET_READ = "sources.parquet_read"  # DataFrameReader.parquet, from anywhere


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    qid: str = ""
    rows: int = 0
    index: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans while ``recording`` is set; otherwise wrappers pass through.

    Each thread has its own stack of open spans.  A span opened on another
    thread, such as a streaming sink the JVM calls back, hangs under the
    span the main thread has open.
    """

    spans: list[Span] = field(default_factory=list)
    recording: bool = False
    qid: str = ""
    _main: list[int] = field(default_factory=list)
    _main_thread: int = field(default_factory=threading.get_ident)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main_thread:
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        return self._main[-1] if self._main else None

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            s = Span(name, time.perf_counter(), parent=self._parent(stack), qid=self.qid, index=len(self.spans))
            self.spans.append(s)
        stack.append(s.index)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def inside(self, layer: str) -> bool:
        p = self._parent(self._stack())
        while p is not None:
            if layer_of(self.spans[p]) == layer:
                return True
            p = self.spans[p].parent
        return False

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children[s.index], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append(s.duration - covered)
    return out


def layer_of(span: Span) -> str:
    """Span names are ``<layer>:<function>``, e.g. ``operators.graph:kcore``."""
    return span.name.split(":", 1)[0]


def _has_ancestor(spans: list[Span], s: Span, pred: Callable[[Span], bool]) -> bool:
    p = s.parent
    while p is not None:
        if pred(spans[p]):
            return True
        p = spans[p].parent
    return False


def layer_totals(spans: list[Span]) -> dict[str, float]:
    """Per-layer sums over all spans (divide by the pass count for per-pass).

    ``<layer>.s`` counts only a layer's outermost spans, so a layer calling
    itself is not counted twice; ``<layer>.self_s`` sums self times.
    ``sources.load_table.parquet_reads`` counts the parquet reads made
    inside ``load_table``: its reader cache's misses.  Each
    outermost operator call counts as a hybrid driver call when it moved
    rows to the driver, and as a distributed call otherwise.
    """
    selfs = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s, self_s in zip(spans, selfs):
        layer = layer_of(s)
        if layer in (BUILD, COLLECT):
            out[f"{layer}_s"] += s.duration
            continue
        out[f"{layer}.calls"] += 1
        out[f"{layer}.self_s"] += self_s
        out[f"{layer}.rows"] += s.rows
        if not _has_ancestor(spans, s, lambda a: layer_of(a) == layer):
            out[f"{layer}.s"] += s.duration
        if layer == PARQUET_READ and _has_ancestor(spans, s, lambda a: layer_of(a) == LOAD_TABLE):
            out["sources.load_table.parquet_reads"] += 1
        if layer.startswith("operators.") and not _has_ancestor(
            spans, s, lambda a: layer_of(a).startswith("operators.")
        ):
            took_driver = any(
                layer_of(d) == TO_DRIVER and _has_ancestor(spans, d, lambda a: a is s)
                for d in spans[s.index + 1 :]
                if d.start < s.end
            )
            out["hybrid.driver_calls" if took_driver else "hybrid.distributed_calls"] += 1
    return dict(out)


def _is_dataframe_api(fn: Callable) -> bool:
    try:
        params = inspect.signature(fn).parameters.values()
    except (TypeError, ValueError):
        return False
    return any("DataFrame" in str(p.annotation) or "SparkSession" in str(p.annotation) for p in params)


def _wrap(tracer: Tracer, layer: str, fn: Callable, counts_rows: bool = False, nested: bool = True):
    name = f"{layer}:{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.recording or (not nested and tracer.inside(layer)):
            return fn(*args, **kwargs)
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            if counts_rows:
                moved = out if layer == TO_DRIVER else (args[1] if len(args) > 1 else kwargs.get("data"))
                s.rows = _row_count(moved)
        return out

    return wrapper


def _row_count(obj) -> int:
    for attr in ("num_rows", "shape"):
        v = getattr(obj, attr, None)
        if v is not None:
            return int(v if attr == "num_rows" else v[0])
    try:
        return len(obj)
    except TypeError:
        return 0


def _targets(package_prefixes: Iterable[str]) -> list:
    return [
        m
        for name, m in list(sys.modules.items())
        if m is not None and any(name == p or name.startswith(p + ".") for p in package_prefixes)
    ]


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap each layer's entry points; return the function that unwraps them."""
    import importlib

    from pyspark import RDD
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader
    from pyspark.sql.session import SparkSession

    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, wrapped) -> None:
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapped)

    # Module-level functions: replace the definition and every binding of it
    # that another module of the program imported by name.
    functions: list[tuple[str, object, str]] = [
        (LOAD_TABLE, importlib.import_module("aleph2_contrib_spark.sources.tables"), "load_table"),
    ]
    fq = importlib.import_module("aleph2_contrib_spark.functions.query")
    functions += [("functions.query", fq, n) for n in ("apply_query", "compile_query")]
    fu = importlib.import_module("aleph2_contrib_spark.functions.update")
    functions += [("functions.update", fu, n) for n in ("apply_update", "delete_by_spec", "upsert_by_spec", "seed_row_df")]
    for layer, modname in OPERATOR_MODULES.items():
        mod = importlib.import_module(modname)
        for n, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == modname
                and not n.startswith("_")
                and not n.endswith("_oracle_sql")
                and _is_dataframe_api(fn)
            ):
                functions.append((layer, mod, n))
    holders = _targets(("aleph2_contrib_spark", "__spark_entry__"))
    for layer, mod, n in functions:
        orig = getattr(mod, n)
        wrapped = _wrap(tracer, layer, orig)
        for holder in holders:
            for attr, value in list(vars(holder).items()):
                if value is orig:
                    patch(holder, attr, wrapped)

    for (modname, cls_name), methods in WRITE_METHODS.items():
        cls = getattr(importlib.import_module(modname), cls_name)
        for m in methods:
            if m in vars(cls):
                patch(cls, m, _wrap(tracer, WRITE_LAYER, getattr(cls, m), nested=False))

    pipeline = importlib.import_module("aleph2_contrib_spark.plans.pipeline")
    patch(pipeline.Pipeline, "run", _wrap(tracer, "plans.pipeline", pipeline.Pipeline.run))
    patch(DataFrameReader, "parquet", _wrap(tracer, PARQUET_READ, DataFrameReader.parquet))
    for owner, attr in ((DataFrame, "toPandas"), (DataFrame, "toArrow"), (DataFrame, "collect"), (RDD, "collect")):
        patch(owner, attr, _wrap(tracer, TO_DRIVER, getattr(owner, attr), counts_rows=True, nested=False))
    patch(
        SparkSession,
        "createDataFrame",
        _wrap(tracer, FROM_DRIVER, SparkSession.createDataFrame, counts_rows=True, nested=False),
    )

    def uninstall() -> None:
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return uninstall


def parse_event_log(path: str, groups: set[str]) -> dict[str, float]:
    """Task metrics summed over the jobs whose job group is in ``groups``."""
    stage_group: dict[int, str] = {}
    out = defaultdict(float)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in groups:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                out["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                out["spark.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return dict(out)


class TriggerLog:
    """Micro-batch progress, from a ``StreamingQueryListener`` on the session."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches: list[dict[str, float]] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                batches.append({"input_rows": p.numInputRows, **{k: v / 1e3 for k, v in p.durationMs.items()}})

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.batches = batches
        self._spark = spark
        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def drain(self) -> None:
        """Wait until the JVM has delivered every event posted so far."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def close(self) -> None:
        self.drain()
        self._spark.streams.removeListener(self._listener)


def trigger_totals(batches: list[dict[str, float]]) -> dict[str, float]:
    """Sums over micro-batches, and the median trigger time."""
    keys = {
        "streaming.trigger_s": "triggerExecution",
        "streaming.add_batch_s": "addBatch",
        "streaming.query_planning_s": "queryPlanning",
        "streaming.wal_commit_s": "walCommit",
        "streaming.input_rows": "input_rows",
    }
    out = {k: sum(b.get(v, 0.0) for b in batches) for k, v in keys.items()}
    out["streaming.triggers"] = float(len(batches))
    trig = [b.get("triggerExecution", 0.0) for b in batches]
    out["streaming.trigger_p50_s"] = statistics.median(trig) if trig else 0.0
    return out
