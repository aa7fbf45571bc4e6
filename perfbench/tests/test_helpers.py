"""Tests for the benchmark's own helpers:
    python -m pytest perfbench/tests -q"""

import json
import os
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

import pandas as pd
import pytest

from perfbench import expect, stats
from perfbench.rss import PeakRss, rss_bytes, tree_pids
from perfbench.trace import (COUNTERS, Span, StageRecord, Tracer, attribute,
                             drain_listener_bus, parse_sql_metric, read_sql,
                             read_status)
from perfbench.workloads import Ledger, topk_matches

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------ tail percentile

def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 19) is None
    p, v, beyond = stats.tail([float(i) for i in range(1, 21)])
    assert (p, v, beyond) == (50.0, 10.0, 10)


@pytest.mark.parametrize("n,p", [(39, 50.0), (40, 75.0), (100, 90.0),
                                 (199, 90.0), (200, 95.0), (1000, 99.0),
                                 (10000, 99.9)])
def test_tail_takes_highest_ladder_step(n, p):
    values = [float(i) for i in range(1, n + 1)]
    got_p, v, beyond = stats.tail(values)
    assert got_p == p
    assert beyond >= 10
    # nearest rank: the value has exactly n - beyond samples at or below it
    assert sum(x <= v for x in values) == n - beyond


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0] * 10
    assert stats.tail(values) == stats.tail(sorted(values))


# --------------------------------------------------------- attribution

def _stage(job, t0, t1, run_s=1.0):
    return StageRecord(job_id=job, stage_id=job, submitted=t0, completed=t1,
                       tasks=2, executor_run_s=run_s, scan_bytes=100)


def test_attribution_by_interval_innermost_span():
    outer = Span("op", 0.0, 10.0, None, 0)
    inner = Span("query.bm25_topk", 2.0, 6.0, 0, 0)
    later = Span("query.bm25_topk", 20.0, 30.0, None, 1)
    spans = [outer, inner, later]
    stages = [_stage(0, 1.0, 1.5), _stage(1, 3.0, 4.0), _stage(2, 3.5, 5.0),
              _stage(3, 12.0, 13.0)]  # between spans: nobody's
    jobs = [(0, 1.0), (1, 3.0), (2, 3.5), (3, 12.0)]
    attribute(spans, jobs, stages, [], cores=2)
    assert inner.counters["jobs"] == 2 and inner.counters["tasks"] == 4
    assert outer.counters["jobs"] == 1
    assert later.counters["jobs"] == 0
    # stages busy over [3, 5] of the 4 s span: 2 s of driver gap
    assert inner.counters["driver_gap_s"] == pytest.approx(2.0)
    assert inner.counters["core_utilisation"] == pytest.approx(2.0 / (4 * 2))
    assert later.counters["driver_gap_s"] == pytest.approx(10.0)
    assert set(inner.counters) == set(COUNTERS)


def test_parse_sql_metric():
    assert parse_sql_metric("0 ms") == 0.0
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n12.6 s (3.1 s, 3.2 s, 3.2 s "
        "(stage 0.0: task 1))") == pytest.approx(12.6)
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n3.8 KiB (976.0 B, 976.0 B, "
        "976.0 B (stage 0.0: task 3))") == pytest.approx(3.8 * 1024)


def test_two_job_call_attributed_by_time(spark):
    """A call that submits its second job from a pool thread (as the
    engine's build does) gets both jobs; work outside it gets none."""
    sc = spark.sparkContext
    jobs_before = len(read_status(spark)[0])
    tr = Tracer()
    with tr.span("first", 0):
        sc.parallelize(range(100), 2).count()
    sc.parallelize(range(10), 1).count()  # outside every span
    with tr.span("two-job call", 1):
        sc.parallelize(range(1000), 3).count()
        t = threading.Thread(target=lambda: sc.parallelize(range(500), 2).count())
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    drain_listener_bus(spark)
    jobs, stages = read_status(spark, first_job=jobs_before)
    attribute(tr.spans, jobs, stages, read_sql(spark), cores=2)
    first, call = tr.spans
    assert len(jobs) == 4
    assert (first.counters["jobs"], first.counters["tasks"]) == (1, 2)
    assert (call.counters["jobs"], call.counters["tasks"]) == (2, 5)
    assert call.counters["executor_run_s"] >= 0
    assert 0 <= call.counters["driver_gap_s"] <= call.wall_s
    # every stage completed before the store was read
    assert all(st.completed > st.submitted for st in stages)


def test_tracer_records_parent_and_op_id(tmp_path):
    tr = Tracer()
    with tr.span("op", 7):
        with tr.span("build.build_index", 7):
            pass
    tr.enabled = False
    with tr.span("ignored", 8):
        pass
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("op", None, 7), ("build.build_index", 0, 7)]
    assert tr.spans[1].start >= tr.spans[0].start
    assert tr.spans[1].end <= tr.spans[0].end
    path = tmp_path / "spans.json"
    tr.write(str(path))
    assert len(json.loads(path.read_text())["spans"]) == 2


# ---------------------------------------------------------- /proc RSS

def test_rss_sampler_sees_child_memory():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time; b = bytearray(96 << 20); b[::4096] = b'x' * len(b[::4096]);"
         " print('ready', flush=True); time.sleep(30)"],
        stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline().strip() == b"ready"
        assert child.pid in tree_pids(os.getpid())
        assert rss_bytes(child.pid) >= 96 << 20
        with PeakRss(interval_s=0.02) as rss:
            time.sleep(0.1)
        assert rss.peak_bytes >= rss_bytes(os.getpid()) + (96 << 20)
        # the child is a Python process: it counts with the workers
        assert rss.peak_python_bytes >= rss_bytes(os.getpid()) + (96 << 20)
    finally:
        child.kill()
        child.wait(timeout=30)
    assert child.pid not in tree_pids(os.getpid())
    assert rss_bytes(child.pid) == 0


def test_rss_sampler_leaves_out_excluded_processes():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time; b = bytearray(96 << 20); b[::4096] = b'x' * len(b[::4096]);"
         " print('ready', flush=True); time.sleep(30)"],
        stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline().strip() == b"ready"
        assert child.pid not in tree_pids(os.getpid(), frozenset({child.pid}))
        with PeakRss(interval_s=0.02) as whole, \
                PeakRss(interval_s=0.02, exclude=frozenset({child.pid})) as rest:
            time.sleep(0.1)
        assert whole.peak_bytes - rest.peak_bytes >= 90 << 20
    finally:
        child.kill()
        child.wait(timeout=30)


# ----------------------------------------------------- output checking

def _rows(hits):
    return pd.DataFrame(
        [(q, d, s, r) for q, hs in hits.items()
         for r, (d, s) in enumerate(hs, 1)],
        columns=["query_id", "doc_id", "score", "rank"])


WANT = {0: [(4, 2.5), (1, 1.25)], 1: [], 2: [(7, 0.5)]}


def test_correct_result_passes():
    ok, _ = topk_matches(_rows(WANT), WANT)
    assert ok


@pytest.mark.parametrize("wrong", [
    {0: [(1, 2.5), (4, 1.25)], 1: [], 2: [(7, 0.5)]},          # rank order
    {0: [(4, 2.5), (1, 1.25)], 1: [], 2: [(7, 0.5 + 1e-6)]},   # score
    {0: [(4, 2.5)], 1: [], 2: [(7, 0.5)]},                     # missing hit
    {0: [(4, 2.5), (1, 1.25)], 1: [(3, 1.0)], 2: [(7, 0.5)]},  # extra hit
])
def test_wrong_result_counts_as_failure(wrong):
    ledger = Ledger()
    ledger.record("bm25_topk", *topk_matches(_rows(WANT), WANT))
    ledger.record("bm25_topk", *topk_matches(_rows(wrong), WANT))
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert ledger.reasons and ledger.reasons[0].startswith("bm25_topk")


def test_exception_counts_as_failure():
    ledger = Ledger()
    assert ledger.attempt("ok", lambda: (True, ""))
    assert not ledger.attempt("boom", lambda: 1 / 0)
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert "ZeroDivisionError" in ledger.reasons[0]


def test_oracle_child_matches_the_oracle():
    from oracle import OracleIndex

    from capsbm25 import fixtures as fx

    pdf = fx.gen_transcripts_pdf(30, 3)
    local = OracleIndex(pdf)
    queries = [(0, fx.HOT_TERM, 5), (1, fx.OOV_TERM, 3), (2, "w0001 w0002", 10)]
    child = expect.Expect()
    try:
        assert child.call(expect.load, "c", 30, 3) == local.N
        assert child.call(expect.topk, "c", queries) == {
            q: local.topk(t, k) for q, t, k in queries}
        # excluded conversations leave the candidates, not the statistics
        gone = sorted(set(pdf["conv_id"]))[:3]
        live = {d for d, c in enumerate(local.doc_meta["conv_id"]) if c not in gone}
        assert child.call(expect.topk, "c", queries[:1], frozenset(gone)) == {
            0: local.topk(fx.HOT_TERM, 5, doc_filter=live)}
        # submitted calls answer in order, whichever result is asked first
        later = child.submit(expect.topk, "c", queries[1:])
        first = child.submit(expect.topk, "c", queries[:1])
        assert later() == {q: local.topk(t, k) for q, t, k in queries[1:]}
        assert first() == {0: local.topk(fx.HOT_TERM, 5)}
        # a subset of the corpus, by (conv_id, turn_idx)
        keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))[::2]
        assert child.call(expect.load, "half", 30, 3, keys) == len(keys)
        with pytest.raises(RuntimeError, match="KeyError"):
            child.call(expect.topk, "missing", queries)
        # a wrong expected result is a counted failure
        want = child.call(expect.topk, "c", queries)
        wrong = {q: [(d + 1, s) for d, s in h] for q, h in want.items()}
        ledger = Ledger()
        ledger.record("bm25_topk", *topk_matches(_rows(wrong), want))
        assert ledger.failed == 1
    finally:
        child.close()
    assert child.pid not in tree_pids(os.getpid())


# ------------------------------------------ BENCHMARK.json consistency

def test_benchmark_json_names_match_the_script(capsys):
    from perfbench import run as bench

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    fake = SimpleNamespace(extra={}, op_s=[1.0, 2.0], op_traced=[False, True],
                           setup={"inputs": 1.0}, seed=1, trace=False,
                           ledger=Ledger())
    rss = SimpleNamespace(peak_mb=100.0, peak_python_mb=50.0, peak_by_kind={})
    e2e = bench.report("query-heavy", fake, 1.0, rss, 4, 10.0)
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in e2e.values()]
    layers = bench.json_layers(bench.per_layer(fake, []))
    assert [m["name"] for m in spec["per_layer"]] == list(layers)
    assert [m["unit"] for m in spec["per_layer"]] == [u for _, u in layers.values()]
    names = {w["name"] for w in spec["workloads"]}
    from perfbench.workloads import WORKLOADS
    assert names <= set(WORKLOADS)
