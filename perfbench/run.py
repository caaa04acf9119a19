"""Closed-loop benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload hybrid_ops --seed 1 --seconds 24 --trace 0

A run writes the seeded inputs (``inputs.py``) into its own directory under
``.perfbench_runs/``.  It sets the engine up once: it launches the JVM,
starts a session on ``local[<cores>]`` and makes one untimed pass over the
workload's queries.  Then it times whole passes in that session, as many as
take ``--seconds`` on the reference host.  One client:
each query is submitted only after the previous result is collected.  Every
timed output is checked against the DuckDB oracle
(``__spark_entry__.oracle_sql()``) on the same inputs.  ``--trace 1`` makes
the same run with spans around each layer's entry points (``spans.py``) and
reports per-layer metrics instead.

Every metric is printed by name with its unit; the last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.  Spans
and per-query samples go to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from inputs import TABLES, write_inputs  # noqa: E402
from spans import (  # noqa: E402
    BUILD,
    COLLECT,
    Tracer,
    TriggerLog,
    install,
    layer_totals,
    parse_event_log,
    trigger_totals,
)

# Query names from the engine's registry (``__spark_entry__.queries()``), in
# pass order.  Why each list was chosen is in ``perfbench/NOTES.md``.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # Each query goes through a driver_cap site of operators/graph.py,
    # dedup.py or itemsets.py: eager probe/persist jobs, driver transfer and
    # numpy work before collect().
    "hybrid_ops": (
        "graph_kcore",
        "graph_link_prediction",
        "graph_scc",
        "dedup_minhash_pairs",
        "mining_frequent_itemsets",
    ),
    # Writes beside reads, and no hybrid driver path.  Writes: micro-batch
    # triggers of a file stream (streaming.runner) applied through the
    # transaction log's CDC sink (sources.txlog), the batch writer over the
    # time-partitioned store (sources.batch_writer, sources.storage), and
    # the update DSL (functions.update).  Reads: Spark SQL planning, parquet
    # scan and shuffle through sources.tables, functions.query and
    # plans.pipeline.
    "stream_write": (
        "streaming_cdc_apply",
        "crud_batch_writer_roundtrip",
        "update_upsert_by_spec",
        "dsl_nested_bool",
        "pipeline_group_stats",
    ),
}

SCALE = 0.01  # 60k lineitem rows
# Seconds one warm pass takes on the reference host (4 cores).  A run times
# ``round(--seconds / NOMINAL_PASS_S)`` whole passes, and at least two, so
# that its structure does not depend on how busy the host is.
NOMINAL_PASS_S = {"hybrid_ops": 4.2, "stream_write": 10.5}
MIN_TIMED_PASSES = 2
PROGRAM_FILES = ("__spark_entry__.py", "aleph2_contrib_spark", "tools/check_correctness.py")

END_TO_END = {
    "pass_wall_s": "s",
    "query_p50_s": "s",
    "setup_s": "s",
    "ok_rate": "ratio",
    "py_peak_rss_mb": "MB",
    "jvm_peak_rss_mb": "MB",
}
PER_LAYER = {
    "spark.build_s": "s",
    "spark.collect_s": "s",
    "spark.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.leaked_rdds": "count",
    "transfer.to_driver.calls": "count",
    "transfer.to_driver.s": "s",
    "transfer.to_driver.rows": "rows",
    "transfer.from_driver.calls": "count",
    "transfer.from_driver.s": "s",
    "transfer.from_driver.rows": "rows",
    "operators.graph.calls": "count",
    "operators.graph.s": "s",
    "operators.graph.self_s": "s",
    "operators.dedup.calls": "count",
    "operators.dedup.s": "s",
    "operators.dedup.self_s": "s",
    "operators.itemsets.calls": "count",
    "operators.itemsets.s": "s",
    "operators.itemsets.self_s": "s",
    "hybrid.driver_calls": "count",
    "hybrid.distributed_calls": "count",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.parquet_reads": "count",
    "sources.reader_cache_hit_ratio": "ratio",
    "sources.write.calls": "count",
    "sources.write.s": "s",
    "sources.bytes_written": "bytes",
    "functions.query.s": "s",
    "functions.update.s": "s",
    "plans.pipeline.s": "s",
    "streaming.triggers": "count",
    "streaming.trigger_s": "s",
    "streaming.trigger_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.input_rows": "rows",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.pass_wall_s": "s",
    "trace.accounted_ratio": "ratio",
    "pass.drift_ratio": "ratio",
}


@dataclass
class Sample:
    """One timed query execution."""

    name: str
    qid: str
    seconds: float = 0.0
    rows: list = field(default_factory=list)
    cols: list = field(default_factory=list)
    error: str = ""
    eager_jobs: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    leaked_rdds: int = 0


def isolate(run_dir: str) -> dict[str, str]:
    """Give the run its own temp, Spark-local, warehouse and input dirs."""
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # Python workers unpickle functions defined in __spark_entry__.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(run_dir)
    return dirs


def driver_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 6))


def session_conf(dirs: dict[str, str], trace: bool) -> dict[str, str]:
    heap = driver_heap_mb()
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.maxResultSize": f"{heap // 2}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} "
            f"-XX:ErrorFile={dirs['tmp']}/hs_err_pid%p.log"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs["eventlog"]
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_session(conf: dict[str, str]):
    from aleph2_contrib_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def timed_passes(workload: str, seconds: float) -> int:
    return max(MIN_TIMED_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


def median_pass_s(samples: list[Sample]) -> float:
    """Wall time of a median pass: each query's median over the timed passes, summed.

    A burst of load on the host slows one query of one pass; this leaves it
    out where the median of whole passes would not.
    """
    by_query: dict[str, list[float]] = {}
    for s in samples:
        by_query.setdefault(s.name, []).append(s.seconds)
    return sum(statistics.median(t) for t in by_query.values())


def untimed_pass(spark, queries, names, data_dir) -> None:
    for name in names:
        try:
            queries[name](spark, data_dir).collect()
        except Exception:  # the timed passes count and report the failure
            pass
        spark.catalog.clearCache()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # The gateway JVM exits when its stdin closes.
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_pass(spark, queries, names, data_dir, p: int, tracer: Tracer | None) -> tuple[list[Sample], float]:
    """One closed-loop pass over ``names``; returns its samples and wall time."""
    sc = spark.sparkContext
    status = sc.statusTracker()
    span = tracer.span if tracer else (lambda _name: nullcontext())
    samples = []
    t_pass = time.perf_counter()
    for name in names:
        s = Sample(name, f"pass{p}.{name}")
        if tracer:
            sc.setJobGroup(s.qid, name)
            tracer.qid = s.qid
        t0 = time.perf_counter()
        try:
            with span(BUILD):
                if tracer:
                    tracer.recording = True
                try:
                    df = queries[name](spark, data_dir)
                finally:
                    if tracer:
                        tracer.recording = False
            if tracer:
                s.eager_jobs = len(status.getJobIdsForGroup(s.qid))
            with span(COLLECT):
                s.rows = df.collect()
            s.cols = list(df.columns)
        except Exception as e:  # a failed query is counted, and the loop goes on
            s.error = f"{type(e).__name__}: {e}"[:500]
        s.seconds = time.perf_counter() - t0
        if tracer:
            s.leaked_rdds = sc._jsc.getPersistentRDDs().size()
        spark.catalog.clearCache()
        samples.append(s)
    wall = time.perf_counter() - t_pass
    if tracer:  # read after the pass, so the pass wall time leaves it out
        for s in samples:
            jobs = status.getJobIdsForGroup(s.qid)
            infos = [status.getJobInfo(j) for j in jobs]
            stages = [status.getStageInfo(sid) for i in infos if i for sid in i.stageIds]
            ran = [st for st in stages if st and st.numCompletedTasks > 0]
            s.jobs, s.stages, s.tasks = len(jobs), len(ran), sum(st.numCompletedTasks for st in ran)
    return samples, wall


def load_check_correctness():
    """The repo's oracle-gate normalisation (``tools/check_correctness.py``)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_mismatches(samples: list[Sample], names, data_dir: str) -> dict[str, str]:
    """qid -> why the output is wrong, for every failed or mismatched sample."""
    import duckdb

    import __spark_entry__ as entry

    cc = load_check_correctness()
    oracles = entry.oracle_sql()
    expected: dict[str, tuple] = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name in names:
            try:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                expected[name] = (cols, rows, cc.canon(rows, cols))
            except Exception as e:  # the oracle cannot vouch for this query
                expected[name] = (None, None, f"oracle error: {type(e).__name__}: {e}"[:300])
    finally:
        con.close()
    bad = {}
    for s in samples:
        cols, rows, want = expected[s.name]
        if s.error:
            bad[s.qid] = s.error
        elif cols is None:
            bad[s.qid] = want
        else:
            got = [tuple(r) for r in s.rows]
            if got and any(isinstance(v, (list, tuple, dict)) for v in got[0]):
                bad[s.qid] = "array/map-typed result columns"
            elif cc.decimal_cols(s.cols, got) or cc.decimal_cols(cols, rows):
                bad[s.qid] = "decimal-typed result columns"
            elif len(got) != len(rows):
                bad[s.qid] = f"rowcount spark={len(got)} oracle={len(rows)}"
            elif sorted(s.cols) != sorted(cols):
                bad[s.qid] = f"columns spark={sorted(s.cols)} oracle={sorted(cols)}"
            elif cc.canon(got, s.cols) != want:
                bad[s.qid] = "values differ from the oracle"
    return bad


def per_layer(tracer: Tracer, samples: list[Sample], passes: list[float], sums: dict, setup_s, start_s) -> dict:
    """Per-layer metrics per timed pass; ``sums`` adds totals from outside the spans."""
    n = len(passes)
    totals = layer_totals(tracer.spans)
    out = {k: 0.0 for k in PER_LAYER}
    for k, v in {**totals, **sums}.items():
        if k in out:
            out[k] = v / n
    for k in ("eager_jobs", "jobs", "stages", "tasks", "leaked_rdds"):
        out[f"spark.{k}"] = sum(getattr(s, k) for s in samples) / n
    reads = totals.get("sources.load_table.parquet_reads", 0.0)
    loads = totals.get("sources.load_table.calls", 0.0)
    out["sources.parquet_reads"] = reads / n
    out["sources.reader_cache_hit_ratio"] = 1.0 - reads / loads if loads else 0.0
    out["streaming.trigger_p50_s"] = sums.get("streaming.trigger_p50_s", 0.0)  # a median, not a sum
    out["session.start_s"] = start_s
    out["session.warm_s"] = setup_s - start_s
    out["trace.pass_wall_s"] = median_pass_s(samples)
    out["trace.accounted_ratio"] = (out["spark.build_s"] + out["spark.collect_s"]) * n / sum(passes)
    out["pass.drift_ratio"] = (max(passes) - min(passes)) / statistics.median(passes)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-seed{seed}-pid{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = isolate(run_dir)
    try:
        return measure(workload, seed, seconds, trace, dirs)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run is using it
            pass


def measure(workload: str, seed: int, seconds: float, trace: bool, dirs: dict[str, str]) -> dict:
    t_phase = time.perf_counter()
    phases = {}

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    phase("import")
    data_dir = dirs["inputs"]
    write_inputs(data_dir, seed, SCALE)
    phase("inputs")
    names = WORKLOADS[workload]
    queries = entry.queries()
    conf = session_conf(dirs, trace)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(conf)
        triggers = TriggerLog(spark)
        start_s = time.perf_counter() - t0
        untimed_pass(spark, queries, names, data_dir)
        setup_s = time.perf_counter() - t0
        phase("setup")
        triggers.drain()
        triggers.batches.clear()

        tracer = Tracer() if trace else None
        uninstall = install(tracer) if trace else None
        passes: list[float] = []
        samples: list[Sample] = []
        written = 0
        ticks = cpu_ticks()
        try:
            for _ in range(timed_passes(workload, seconds)):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                before = tree_bytes(dirs["tmp"]) if trace else 0
                got, wall = run_pass(spark, queries, names, data_dir, len(passes), tracer)
                if trace:
                    written += tree_bytes(dirs["tmp"]) - before
                samples += got
                passes.append(wall)
        finally:
            if uninstall:
                uninstall()
        triggers.close()
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_rss = peak_rss_mb(jvm_pid())
        app_id = spark.sparkContext.applicationId
        phase("timed")
    finally:
        stop_jvm(spark)
    phase("stop")

    bad = oracle_mismatches(samples, names, data_dir)
    phase("oracle")
    times = [s.seconds for s in samples]
    e2e = {
        "pass_wall_s": median_pass_s(samples),
        "query_p50_s": statistics.median(times),
        "setup_s": setup_s,
        "ok_rate": 1.0 - len(bad) / len(samples),
        "py_peak_rss_mb": py_rss,
        "jvm_peak_rss_mb": jvm_rss,
    }
    record = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "attempted": len(samples),
        "failed": len(bad),
        "failures": bad,
        "phases_s": phases,
        # Share of CPU time the hypervisor gave to other guests while the
        # timed passes ran: a slow run with a high share was a busy host.
        "host_steal_share": steal / total if total else 0.0,
        "setup_s": setup_s,
        "session_start_s": start_s,
        "passes_s": passes,
        "samples": [{"qid": s.qid, "seconds": s.seconds, "rows": len(s.rows)} for s in samples],
        "end_to_end": e2e,
        "triggers": triggers.batches,
    }
    streaming = trigger_totals(triggers.batches)
    if streaming["streaming.triggers"]:
        record["trigger_p50_s"] = streaming["streaming.trigger_p50_s"]
    if trace:
        sums = {
            **parse_event_log(os.path.join(dirs["eventlog"], app_id), {s.qid for s in samples}),
            **streaming,
            "sources.bytes_written": written,
        }
        record["per_layer"] = per_layer(tracer, samples, passes, sums, setup_s, start_s)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{workload}-seed{seed}-trace{int(trace)}.json")
    if tracer:
        tracer.dump(out, record)
    else:
        with open(out, "w") as f:
            json.dump(record, f)
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in {ROOT}: missing {', '.join(missing)}", file=sys.stderr)
        return 2

    rec = run(args.workload, args.seed, args.seconds, bool(args.trace))
    units = PER_LAYER if args.trace else END_TO_END
    values = rec["per_layer"] if args.trace else rec["end_to_end"]
    print(f"workload {args.workload} seed {args.seed}: {len(rec['passes_s'])} timed passes, "
          f"{rec['attempted']} samples, passes_s {[round(p, 3) for p in rec['passes_s']]}, "
          f"host steal {rec['host_steal_share']:.1%}")
    for name, unit in units.items():
        print(f"{name:32s} {values[name]:14.6f} {unit}")
    print(f"{'error_rate':32s} {rec['failed'] / rec['attempted']:14.6f} ratio")
    if "trigger_p50_s" in rec:
        print(f"{'trigger_p50_s':32s} {rec['trigger_p50_s']:14.6f} s")
    for qid, why in rec["failures"].items():
        print(f"FAILED {qid}: {why}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
