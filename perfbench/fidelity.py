"""Compare the generated inputs with a directory of the engine's fixtures.

    python3 perfbench/fidelity.py <fixture_dir>

The fixture directory holds the same ten tables at the benchmark's scale
(0.01).  The script prints, as markdown tables, per-table column statistics
of both, and for every workload query the result rows, the Spark jobs
started before ``collect()`` and the rows moved to the driver, on both.
It is a one-off check that the generated traffic resembles the fixtures';
the benchmark itself never reads them.
"""

from __future__ import annotations

import os
import shutil
import sys
from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import TO_DRIVER, Tracer, install, layer_of  # noqa: E402


def column_stats(path: str) -> dict[str, str]:
    """column -> 'distinct; min..max' (numbers and times) or 'distinct; mean length'."""
    t = pq.read_table(path)
    out = {"rows": str(t.num_rows)}
    for name in t.column_names:
        col = t[name]
        if pa.types.is_list(col.type):
            out[name] = f"mean len {pc.mean(pc.list_value_length(col)).as_py():.1f}"
            continue
        distinct = pc.count_distinct(col).as_py()
        if pa.types.is_string(col.type):
            out[name] = f"{distinct} distinct; mean len {pc.mean(pc.utf8_length(col)).as_py():.1f}"
        else:
            mm = pc.min_max(col)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            out[name] = f"{distinct} distinct; {lo}..{hi}"
    return out


def query_traffic(spark, queries, data_dir: str, p: int) -> dict[str, tuple[int, int, int]]:
    """query -> (result rows, eager jobs, rows moved to the driver); ``p`` keeps job groups apart."""
    out = {}
    for names in run.WORKLOADS.values():
        tracer = Tracer()
        uninstall = install(tracer)
        try:
            samples, _ = run.run_pass(spark, queries, names, data_dir, p, tracer)
        finally:
            uninstall()
        moved: dict[str, int] = defaultdict(int)
        for s in tracer.spans:
            if layer_of(s) == TO_DRIVER:
                moved[s.qid] += s.rows
        for s in samples:
            out[s.name] = (-1 if s.error else len(s.rows), s.eager_jobs, moved[s.qid])
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__, file=sys.stderr)
        return 2
    fixture = os.path.abspath(argv[0])
    run_dir = os.path.join(run.ROOT, ".perfbench_runs", f"fidelity-pid{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = run.isolate(run_dir)
    spark = None
    try:
        run.write_inputs(dirs["inputs"], 1, run.SCALE)
        print("| table | column | fixture | generated |\n| --- | --- | --- | --- |")
        for t in run.TABLES:
            fx = column_stats(os.path.join(fixture, f"{t}.parquet"))
            gen = column_stats(os.path.join(dirs["inputs"], f"{t}.parquet"))
            for col in dict.fromkeys([*fx, *gen]):
                print(f"| {t} | {col} | {fx.get(col, '-')} | {gen.get(col, '-')} |")

        sys.path.insert(0, run.ROOT)
        import __spark_entry__ as entry

        queries = entry.queries()
        spark = run.start_session(run.session_conf(dirs, trace=False))
        got = {d: query_traffic(spark, queries, d, p) for p, d in enumerate((fixture, dirs["inputs"]))}
        print("\n| query | rows (fixture / generated) | eager jobs | rows to driver |\n| --- | --- | --- | --- |")
        for name, (rows, jobs, moved) in got[fixture].items():
            g_rows, g_jobs, g_moved = got[dirs["inputs"]][name]
            print(f"| `{name}` | {rows} / {g_rows} | {jobs} / {g_jobs} | {moved} / {g_moved} |")
    finally:
        run.stop_jvm(spark)
        os.chdir(run.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
