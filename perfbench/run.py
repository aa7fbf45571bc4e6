"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query-heavy --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The command starts its own Spark
session (local[<cores>], 4 GB driver, UI off, scratch under
.perfbench_work/ in the checkout), generates the workload's inputs from
the seed, sets up, measures for --seconds of timed work, checks every
output, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 records a span
around every call into the engine, attributes Spark's status-store
counters to the spans, writes the spans to
.perfbench_out/spans-<workload>-seed<seed>.json and reports the
per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "4g"

# Engine calls whose Spark counters are reported, and the counters.
CALLS = ("build.build_index", "query.bm25_topk", "streaming.process_batch",
         "streaming.delete_docs")
BUILD_STAGES = ("docids.id_plan_s", "partition.plan_s", "postings.pairs_s",
                "postings.waves_s", "docids.docs_s", "postings.hot_merge_s",
                "build.dictionary_s", "build.driver_s")
# Figures of ingest-mixed's write path.
STREAMING = ("streaming.commit_plain_s", "streaming.commit_merge_s",
             "streaming.merges", "streaming.live_segments_max",
             "streaming.bytes_written_per_input_byte",
             "streaming.load_index_snapshot_s")


def _setup_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT, os.path.join(ROOT, "tests")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = paths[:2]


def start_session(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("capsbm25-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the traced run reads every job, stage and SQL execution back
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it forked, and
    wait until each has ended."""
    from perfbench.rss import tree_pids

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in tree_pids(os.getpid())[1:]:
        os.kill(pid, 9)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(run, spans) -> dict[str, float]:
    out: dict[str, float] = {}
    builds = run.extra.get("build_stages", [])
    for name in BUILD_STAGES:
        out[name] = _median(b[name] for b in builds)
    from perfbench.trace import COUNTERS

    for call in CALLS:
        # the timed operations' calls; set-up calls (op_id -1) only where
        # the workload times none, as for the query workloads' build
        mine = ([s for s in spans if s.name == call and s.op_id >= 0]
                or [s for s in spans if s.name == call])
        for c in COUNTERS:
            out[f"{call}.{c}"] = _median(s.counters[c] for s in mine)
    streaming = run.extra.get("streaming", {})
    for name in STREAMING:
        out[name] = float(streaming.get(name, 0.0))
    # 0 where the run traced every operation (ingest-mixed: its steps
    # differ in kind, so a traced/untraced pair would not compare)
    traced = [t for t, on in zip(run.op_s, run.op_traced) if on]
    plain = [t for t, on in zip(run.op_s, run.op_traced) if not on]
    out["trace.op_p50_overhead_ms"] = (
        (_median(traced) - _median(plain)) * 1e3 if traced and plain else 0.0)
    return out


def json_layers(layers: dict[str, float]) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of the JSON line, with units."""
    return {k: (v, _unit(k)) for k, v in layers.items()}


def report(workload, run, session_s, rss, cores, wall_s) -> dict:
    """Print the end-to-end metrics under the workload's own names, with
    units and sample counts; return the ones BENCHMARK.json lists."""
    from perfbench.stats import tail

    setup_s = session_s + sum(run.setup.values())
    n = len(run.op_s)
    items = run.extra.get("items", 0)
    busy = run.extra.get("items_s", sum(run.op_s))
    throughput = items / busy if busy else 0.0
    op_ms = [t * 1e3 for t in run.op_s]
    p50 = _median(op_ms)
    lines = [f"setup_s {setup_s:.3f} s (n=1; session {session_s:.2f} s, "
             + ", ".join(f"{k} {v:.2f} s" for k, v in run.setup.items()) + ")"]

    def tail_line(name, ms):
        t = tail(ms)
        if t is None:
            return f"{name} n/a ({len(ms)} calls; a tail needs 10 calls beyond its percentile)"
        p, v, beyond = t
        return f"{name} {v:.1f} ms (p{p:g}, {beyond} calls beyond, n={len(ms)})"

    if workload == "build-batch":
        lines += [f"build_turns_per_s {throughput:.1f} turns/s (n={n} builds)",
                  f"build_p50_ms {p50:.1f} ms (n={n})",
                  tail_line("build_tail_ms", op_ms)]
    elif workload.startswith("query-"):
        if run.extra.get("build_s"):
            lines.append(f"build_turns_per_s {run.extra['build_turns'] / run.extra['build_s']:.1f}"
                         " turns/s (n=1, the set-up's index build)")
        lines += [f"query_p50_ms {p50:.1f} ms (n={n} calls)",
                  tail_line("query_tail_ms", op_ms),
                  f"queries_per_s {throughput:.3f} queries/s (n={items} queries)"]
    else:
        commits = [t * 1e3 for t in run.extra.get("commit_s", [])]
        q_ms = [t * 1e3 for t in run.extra.get("query_s", [])]
        lines += [f"ingest_turns_per_s {throughput:.1f} turns/s (n={items} turns)",
                  f"commit_p50_s {_median(commits) / 1e3:.3f} s (n={len(commits)})",
                  tail_line("commit_tail_ms", commits),
                  f"query_p50_ms {_median(q_ms):.1f} ms (n={len(q_ms)} calls)",
                  tail_line("query_tail_ms", q_ms),
                  f"step_p50_ms {p50:.1f} ms (n={n} commit+query[+delete] steps)"]
    lines.append("op_s " + " ".join(f"{t:.3f}" for t in run.op_s))
    lines.append(f"run_wall_s {wall_s:.1f} s (setup {setup_s:.1f} s, timed "
                 f"{sum(run.op_s):.1f} s, the rest checks and teardown)")
    ib = run.extra.get("index_bytes_per_input_byte", 0.0)
    peak_mb = rss.peak_mb
    lines += [f"index_bytes_per_input_byte {ib:.4f} B/B (n=1)",
              f"peak_rss_mb {peak_mb:.1f} MB (n=1, process tree; peaks "
              + ", ".join(f"{k} {v / 2**20:.0f} MB"
                          for k, v in sorted(rss.peak_by_kind.items())) + ")",
              f"peak_python_rss_mb {rss.peak_python_mb:.1f} MB (n=1, driver + "
              "Python workers)",
              f"error_rate {run.ledger.failed}/{run.ledger.attempted}"]
    for reason in run.ledger.reasons[:10]:
        lines.append(f"  failure: {reason}")
    print(f"== {workload} seed={run.seed} trace={int(run.trace)} cores={cores} "
          f"driver_memory={DRIVER_MEMORY}")
    for line in lines:
        print("  " + line)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (p50, "ms"),
        "throughput_per_s": (throughput, "1/s"),
        "index_bytes_per_input_byte": (ib, "B/B"),
        "peak_python_rss_mb": (rss.peak_python_mb, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    ticks_start = _cpu_ticks()

    shutil.rmtree(WORK, ignore_errors=True)
    _setup_env()
    from perfbench.expect import Expect
    from perfbench.rss import PeakRss
    from perfbench.trace import (Tracer, attribute, drain_listener_bus,
                                 read_sql, read_status)
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    # the oracle's process is forked before the JVM starts and is left
    # out of the memory figure
    oracle = Expect()
    try:
        with PeakRss(exclude=frozenset({oracle.pid})) as rss:
            t0 = time.perf_counter()
            spark = start_session(cores)
            session_s = time.perf_counter() - t0
            try:
                run = Run(spark=spark, work=WORK, cores=cores, seed=args.seed,
                          seconds=args.seconds, tracer=Tracer(bool(args.trace)),
                          trace=bool(args.trace), oracle=oracle)
                try:
                    WORKLOADS[args.workload](run)
                except Exception as e:  # a failed set-up is a counted failure
                    run.ledger.record("set-up", False, repr(e))
                if args.trace:
                    drain_listener_bus(spark)
                    jobs, stages = read_status(spark)
                    attribute(run.tracer.spans, jobs, stages, read_sql(spark), cores)
            finally:
                oracle.close()
                stop_session(spark)
    finally:
        oracle.close()
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    e2e = report(args.workload, run, session_s, rss, cores,
                 time.perf_counter() - t_start)
    # host contention: the share of CPU time the hypervisor gave to others
    print(f"  cpu_steal_share {ticks[7] / max(sum(ticks), 1):.3f} "
          "(whole run, all CPUs, from /proc/stat)")
    if args.trace:
        layers = per_layer(run, run.tracer.spans)
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
        run.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                "per_layer": layers,
                                "end_to_end": {k: v for k, (v, _) in e2e.items()}})
        print(f"  spans: {len(run.tracer.spans)} written to {os.path.relpath(path, ROOT)}")
        for k, v in layers.items():
            print(f"  {k} {v:.6g}")
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in json_layers(layers).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": run.ledger.failed == 0,
                      "attempted": run.ledger.attempted,
                      "failed": run.ledger.failed, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in last and "per_input_byte" not in name:
        return "B"
    if "per_input_byte" in name:
        return "B/B"
    if last in ("core_utilisation", "python_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
