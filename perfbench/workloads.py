"""The benchmark's workloads.

Each workload generates its inputs from the seed with the engine's own
corpus generator, writes them to parquet, and hands the engine only
those files. All run closed-loop from one client: the next call starts
when the previous one has returned. Every call's output is checked
outside the timed region, against the pure-Python oracle
(tests/oracle.py, run in a child process: perfbench/expect.py) or the
index validator. An exception in an operation or its check counts in
`Ledger.failed` like a wrong result does.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from capsbm25 import fixtures as fx
from capsbm25.build import build_index, load_postings
from capsbm25.config import BuildConfig
from capsbm25.query import bm25_topk
from capsbm25.validate import validate_index
from perfbench import expect
from perfbench.trace import Tracer, covered

# Corpus of the build and query workloads, in conversations (about 7
# turns each). The sf0.1 shape is 30k conversations; a run of
# that size does not fit the benchmark's time budget (perfbench/README.md,
# "Sizing").
CONVS = 4000
WARMUP_CONVS = 100      # a small cold build pays worker start-up and JIT
# query calls before the timed ones: the first few calls in a session
# run slower while the JVM compiles the query path
WARM_QUERIES = 2
HEAVY_BATCH = 30        # queries per query-heavy call: 120 term slots
HEAVY_TERMS = 40        # query-heavy draws from the most frequent Zipf terms
# query-heavy's batch comes from this seed, not the run's. How the head
# terms fall into queries sets how evenly the kernel's tasks are loaded:
# the batch of seed 42 runs about 20% slower per call than that of seed
# 44 over the same index, which made one seed's run differ from the next
# by more than the bound. The run's seed still draws the corpus.
HEAVY_SEED = 42
SELECTIVE_K = (1, 10, 100)
INGEST_BATCH_TURNS = 48  # one committed segment: tier 5 at merge_factor 2
INGEST_BATCHES = 3       # a run stops early when the schedule runs out
INGEST_CONVS = INGEST_BATCH_TURNS * INGEST_BATCHES // 4  # 2-12 turns each, 7 mean
MERGE_FACTOR = 2         # every second commit merges two segments
DELETE_CONVS = 1         # conversations per delete_docs call
ATOL = 1e-9


def build_config() -> BuildConfig:
    # a fixed plan whatever the core count: one shuffle partition per
    # core of a 4-core box, two waves
    return BuildConfig(shuffle_partitions=4, num_waves=2)


@dataclass
class Ledger:
    """Operations attempted and failed. A wrong result is a failure."""
    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, what: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(f"{what}: {why or 'wrong result'}")

    def attempt(self, what: str, fn) -> bool:
        """Run fn, which returns (ok, why); an exception is a failure."""
        try:
            ok, why = fn()
        except Exception as e:
            ok, why = False, repr(e)
        self.record(what, ok, why)
        return ok


@dataclass
class Run:
    """What a workload needs from the command line and the session."""
    spark: object
    work: str            # scratch directory inside the checkout
    cores: int
    seed: int
    seconds: float
    tracer: Tracer
    trace: bool
    oracle: object       # expect.Expect, the oracle child
    ledger: Ledger = field(default_factory=Ledger)
    op_s: list[float] = field(default_factory=list)
    op_traced: list[bool] = field(default_factory=list)
    setup: dict = field(default_factory=dict)   # phase -> seconds
    extra: dict = field(default_factory=dict)   # workload-specific figures

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def ops(self, alternate: bool = True, min_ops: int = 1):
        """Operation ids until `seconds` of timed work are done, and at
        least `min_ops`. In a traced run with `alternate`, every other
        operation is traced, so the untraced half measures the tracing
        overhead within the same run; otherwise all are traced."""
        i = 0
        # a backstop for a run in which every operation fails, and so
        # adds no timed work
        deadline = time.perf_counter() + 4 * self.seconds
        while i < min_ops or (sum(self.op_s) < self.seconds
                              and time.perf_counter() < deadline):
            self.tracer.enabled = self.trace and (not alternate or i % 2 == 1)
            yield i
            i += 1
        self.tracer.enabled = self.trace

    def timed(self, name: str, op_id: int, fn):
        """Call fn inside a span; return (result, seconds)."""
        with self.tracer.span(name, op_id):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return out, dt

    def add_op(self, seconds: float) -> None:
        self.op_s.append(seconds)
        self.op_traced.append(self.tracer.enabled)


def _phase(run: Run, name: str, fn):
    t0 = time.perf_counter()
    out = fn()
    run.setup[name] = run.setup.get(name, 0.0) + time.perf_counter() - t0
    return out


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in pdf["text"]))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def write_corpus(run: Run, pdf: pd.DataFrame, name: str):
    path = run.path("inputs", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return run.spark.read.parquet(path)


def _records(queries: pd.DataFrame) -> list[tuple[int, str, int]]:
    return [(int(q.query_id), q.text, int(q.k))
            for q in queries.itertuples(index=False)]


# ---------------------------------------------------------------- checks

def topk_matches(got: pd.DataFrame, want: dict[int, list[tuple[int, float]]]
                 ) -> tuple[bool, str]:
    """Engine top-k rows (query_id, doc_id, score, rank) against the
    oracle's ranked (doc_id, score) lists per query id: doc ids equal in
    rank order, scores within ATOL."""
    got = got.sort_values(["query_id", "rank"])
    extra = set(got["query_id"].tolist()) - set(want)
    if extra:
        return False, f"rows for unknown query ids {sorted(extra)[:5]}"
    for qid, hits in want.items():
        g = got[got["query_id"] == qid]
        if g["doc_id"].tolist() != [d for d, _ in hits]:
            return False, f"query {qid}: doc ids differ"
        if hits and not np.allclose(g["score"].to_numpy(float),
                                    [s for _, s in hits], rtol=0, atol=ATOL):
            return False, f"query {qid}: scores differ"
    return True, ""


def _topk_frame(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows],
                        columns=["query_id", "doc_id", "score", "rank"])


def check_build(run: Run, out_dir: str, n_docs: int, name: str,
                n_oracle: int) -> tuple[bool, str]:
    """validate_index, the doc count, and df/cf of sampled terms against
    oracle `name`, which holds `n_oracle` docs."""
    from pyspark.sql import functions as F

    v = validate_index(run.spark, out_dir)
    if v["violations"]:
        return False, f"validate_index: {v['violations']} violations"
    if n_docs != n_oracle:
        return False, f"N={n_docs}, oracle {n_oracle}"
    want = run.oracle.call(expect.term_stats, name, run.seed)
    rows = (load_postings(run.spark, out_dir)
            .where(F.col("term").isin(list(want)))
            .select("term", "df", "cf").collect())
    got = {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}
    want = {t: dc for t, dc in want.items() if dc[0]}
    if got != want:
        bad = sorted(t for t in set(got) | set(want) if got.get(t) != want.get(t))
        return False, f"df/cf differ for {bad[:5]}"
    return True, ""


def build_stages(res, wall_s: float) -> dict[str, float]:
    """Stage seconds of one build (BuildResult.metrics), and the part of
    the call's wall time no stage covered. Waves, the hot-term merge and
    the doc-stats unpack run concurrently, so the covered time is the
    union of the stage intervals in the build manifest, plus the id plan
    that precedes them."""
    from capsbm25.build import Manifest

    m = res.metrics

    def sec(*prefixes):
        return sum(v.get("sec", 0.0) for k, v in m.items() if k.startswith(prefixes))

    spans = [(r["started_ts"], r["finished_ts"])
             for r in Manifest(res.out_dir).records() if r["status"] == "done"]
    return {
        "docids.id_plan_s": sec("id_plan"),
        "partition.plan_s": sec("plan"),
        "postings.pairs_s": sec("pairs"),
        "postings.waves_s": sec("wave="),
        "docids.docs_s": sec("docs"),
        "postings.hot_merge_s": sec("hot_merge"),
        "build.dictionary_s": sec("dictionary"),
        "build.driver_s": wall_s - sec("id_plan") - covered(spans),
    }


def _warm_build(run: Run, cfg) -> None:
    """A cold build of a small corpus, so that Python-worker start-up
    and JIT fall in set-up, not in the first measured build. No span:
    its jobs belong to no layer."""
    pdf = _phase(run, "inputs", lambda: fx.gen_transcripts_pdf(
        WARMUP_CONVS, run.seed + 1))
    df = _phase(run, "inputs", lambda: write_corpus(run, pdf, "warmup"))
    _phase(run, "warmup", lambda: build_index(
        run.spark, df, run.path("idx-warmup"), cfg))
    shutil.rmtree(run.path("idx-warmup"), ignore_errors=True)


# ------------------------------------------------------------- workloads

def build_batch(run: Run) -> None:
    """Repeated build_index of one corpus into fresh directories."""
    cfg = build_config()
    pdf = _phase(run, "inputs", lambda: fx.gen_transcripts_pdf(CONVS, run.seed))
    df = _phase(run, "inputs", lambda: write_corpus(run, pdf, "corpus"))
    _warm_build(run, cfg)

    n_oracle = run.oracle.call(expect.load, "corpus", CONVS, run.seed)
    input_bytes = text_bytes(pdf)
    sizes, stages = [], []
    for i in run.ops():
        out_dir = run.path(f"idx-{i}")

        def build_and_check():
            res, dt = run.timed("build.build_index", i, lambda: build_index(
                run.spark, df, out_dir, cfg))
            run.add_op(dt)
            if run.tracer.enabled:
                stages.append(build_stages(res, dt))
            sizes.append(dir_bytes(out_dir) / input_bytes)
            return check_build(run, out_dir, res.N, "corpus", n_oracle)

        run.ledger.attempt("build_index", build_and_check)
        shutil.rmtree(out_dir, ignore_errors=True)
    run.extra.update(items=len(pdf) * len(run.op_s),
                     index_bytes_per_input_byte=float(np.median(sizes)) if sizes else 0.0,
                     build_stages=stages)


def _query_setup(run: Run, warm: pd.DataFrame):
    """Corpus, index and a warm query path, shared by the query
    workloads. A small cold build takes the worker start-up; the index
    build after it is timed as the set-up's `index` phase; `warm` then
    runs WARM_QUERIES times through bm25_topk. Returns what the checks
    need too."""
    cfg = build_config()
    pdf = _phase(run, "inputs", lambda: fx.gen_transcripts_pdf(CONVS, run.seed))
    df = _phase(run, "inputs", lambda: write_corpus(run, pdf, "corpus"))
    _warm_build(run, cfg)
    out_dir = run.path("idx")
    with run.tracer.span("build.build_index", -1):
        t0 = time.perf_counter()
        res = _phase(run, "index", lambda: build_index(run.spark, df, out_dir, cfg))
        build_s = time.perf_counter() - t0
    run.extra["build_s"] = build_s
    run.extra["build_turns"] = len(pdf)
    if run.tracer.enabled:
        run.extra["build_stages"] = [build_stages(res, build_s)]
    with run.tracer.span("build.load_postings", -1):
        postings = _phase(run, "index", lambda: load_postings(run.spark, out_dir))
    results = [(warm, _phase(run, "warmup", lambda: bm25_topk(
        run.spark, postings, warm, res.N, res.avgdl, cfg).collect()))
        for _ in range(WARM_QUERIES)]
    run.extra["index_bytes_per_input_byte"] = dir_bytes(out_dir) / text_bytes(pdf)
    return cfg, res, postings, out_dir, results


def _query_loop(run: Run, batches: list[pd.DataFrame], cfg, res, postings
                ) -> list:
    """Back-to-back bm25_topk calls; returns (queries, rows) per call."""
    results, n_queries = [], 0
    for i in run.ops():
        q = batches[i % len(batches)]
        try:
            rows, dt = run.timed("query.bm25_topk", i, lambda: bm25_topk(
                run.spark, postings, q, res.N, res.avgdl, cfg,
                mode="auto").collect())
        except Exception as e:  # an engine failure is a counted failure
            run.ledger.record("bm25_topk", False, repr(e))
            continue
        run.add_op(dt)
        n_queries += len(q)
        results.append((q, rows))
    run.extra["items"] = n_queries
    return results


def _check_queries(run: Run, out_dir: str, res, results: list) -> None:
    """The set-up build and every query result, after the timed calls:
    the oracle child computes the expected hits while Spark validates
    the index."""
    n_oracle = run.oracle.submit(expect.load, "corpus", CONVS, run.seed)
    wants = [run.oracle.submit(expect.topk, "corpus", _records(q))
             for q, _ in results]
    run.ledger.attempt("build_index", lambda: check_build(
        run, out_dir, res.N, "corpus", n_oracle()))
    for (_, rows), want in zip(results, wants):
        run.ledger.attempt("bm25_topk", lambda: topk_matches(
            _topk_frame(rows), want()))


def selective_queries(seed: int, n: int) -> list[pd.DataFrame]:
    """Single-query frames drawn from the reference set, k drawn from
    SELECTIVE_K."""
    rng = random.Random(seed)
    ref = fx.gen_queries(seed)
    out = []
    for i in range(n):
        _, text, _ = rng.choice(ref)
        out.append(pd.DataFrame({"query_id": [i], "text": [text],
                                 "k": [rng.choice(SELECTIVE_K)]})
                   .astype({"query_id": np.int32, "k": np.int32}))
    return out


def heavy_queries(seed: int) -> list[pd.DataFrame]:
    """One batch of HEAVY_BATCH queries, each of 2-5 of the HEAVY_TERMS
    most frequent terms plus the hot term: candidate sets close to N.
    Terms are dealt in turn from a seeded permutation, so every head term
    appears in exactly three queries and the batch's total posting
    volume is the same for every seed."""
    rng = random.Random(seed)
    head = list(fx.VOCAB[:HEAVY_TERMS])
    rng.shuffle(head)
    sizes = [2, 5, 3, 5, 4, 5] * (HEAVY_BATCH // 6)
    rows, at = [], 0
    for j, n in enumerate(sizes):
        terms = [head[(at + t) % len(head)] for t in range(n)]
        at += n
        rows.append((j, " ".join(terms + [fx.HOT_TERM]), 10))
    return [pd.DataFrame(rows, columns=["query_id", "text", "k"])
            .astype({"query_id": np.int32, "k": np.int32})]


def query_selective(run: Run) -> None:
    """Single reference-set queries over a prebuilt index."""
    queries = selective_queries(run.seed, 256)
    cfg, res, postings, out_dir, results = _query_setup(run, queries[-1])
    results += _query_loop(run, queries, cfg, res, postings)
    _check_queries(run, out_dir, res, results)


def query_heavy(run: Run) -> None:
    """30-query batches of head terms over a prebuilt index."""
    queries = heavy_queries(HEAVY_SEED)
    cfg, res, postings, out_dir, results = _query_setup(run, queries[0])
    results += _query_loop(run, queries, cfg, res, postings)
    _check_queries(run, out_dir, res, results)


def ingest_batches(seed: int) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """The ingest corpus and its batches: consecutive runs of
    INGEST_BATCH_TURNS turns in (conv_id, turn_idx) order, so every
    batch lands in the same merge tier and every second commit merges.
    A conversation may span two batches."""
    pdf = (fx.gen_transcripts_pdf(INGEST_CONVS, seed)
           .sort_values(["conv_id", "turn_idx"], kind="mergesort")
           .reset_index(drop=True))
    batches = [pdf.iloc[b * INGEST_BATCH_TURNS:(b + 1) * INGEST_BATCH_TURNS]
               .reset_index(drop=True) for b in range(INGEST_BATCHES)]
    if len(batches[-1]) < INGEST_BATCH_TURNS:
        raise ValueError("ingest corpus too small for its batches")
    return pdf, batches


def _check_segments(run: Run, out_dir: str, got: list, ingested: pd.DataFrame,
                    deleted: set, queries: pd.DataFrame, name: str
                    ) -> tuple[bool, str]:
    """A top-k over a streaming index against the oracle over the docs
    the index physically holds: compactions drop deleted docs and
    shrink the scoring stats, pending deletes only leave the candidate
    set. Engine doc ids are allocated per batch and stay sparse after a
    compaction, so hits are compared by (conv_id, turn_idx): both sides
    are mapped to positions in (conv_id, turn_idx) order, the oracle's
    doc ids."""
    from capsbm25 import streaming as sm

    keys = sm.segment_docs(run.spark, out_dir).select(
        "doc_id", "conv_id", "turn_idx").toPandas()
    if sm.load_stream_stats(out_dir)["N"] != len(keys):
        return False, "stats N differs from the segments' doc count"
    held = set(zip(keys["conv_id"], keys["turn_idx"]))
    if not held <= set(zip(ingested["conv_id"], ingested["turn_idx"])):
        return False, "the segments hold docs that were never ingested"
    order = sorted(held)
    run.oracle.call(expect.load, name, INGEST_CONVS, run.seed, order)
    pos = {k: i for i, k in enumerate(order)}
    keys["doc_id_oracle"] = [pos[k] for k in zip(keys["conv_id"], keys["turn_idx"])]
    rows = _topk_frame(got).merge(keys[["doc_id", "doc_id_oracle"]], on="doc_id")
    if len(rows) != len(got):
        return False, "hits on doc ids the segments do not hold"
    rows["doc_id"] = rows["doc_id_oracle"]
    want = run.oracle.call(expect.topk, name, _records(queries), frozenset(deleted))
    return topk_matches(rows, want)


def ingest_mixed(run: Run) -> None:
    """Seeded batches through streaming.process_batch with merge-on-
    commit at merge_factor 2, so every second commit runs a tiered
    merge. After each commit come, in order: on a plain commit, a
    delete_docs of conversations already committed; load_index_snapshot;
    and a reference-set query with the pending tombstones as
    doc_exclude. The next commit's merge applies those tombstones. The
    run ends with a full compaction, checked against the oracle over
    the surviving conversations."""
    from capsbm25 import streaming as sm

    rng = random.Random(run.seed)
    cfg = build_config()
    pdf, parts = _phase(run, "inputs", lambda: ingest_batches(run.seed))
    batches = [_phase(run, "inputs", lambda: write_corpus(run, p, f"batch{b}"))
               for b, p in enumerate(parts)]
    warm_pdf = _phase(run, "inputs", lambda: fx.gen_transcripts_pdf(
        WARMUP_CONVS // 20, run.seed + 1))
    warm_df = _phase(run, "inputs", lambda: write_corpus(run, warm_pdf, "warmup"))
    queries = fx.queries_pdf(run.seed)
    # one cold commit and query into a throwaway index
    warm_dir = run.path("idx-warmup")
    _phase(run, "warmup", lambda: sm.process_batch(
        run.spark, warm_df, 0, warm_dir, cfg, auto_compact=True,
        merge_factor=MERGE_FACTOR))
    _phase(run, "warmup", lambda: bm25_topk(
        run.spark, sm.load_segment_postings(run.spark, warm_dir),
        queries.head(2), *sm.stream_corpus_stats(warm_dir), cfg).collect())
    shutil.rmtree(warm_dir, ignore_errors=True)

    out_dir = run.path("idx")
    plain, merged, snaps, queries_s = [], [], [], []
    live_max = merges = 0
    ingested: list[pd.DataFrame] = []
    deleted: set = set()
    # every step stops at its first failure; later steps still run
    for i in run.ops(alternate=False, min_ops=MERGE_FACTOR):
        if i >= len(parts):
            break
        step = {"s": 0.0}

        def commit():
            nonlocal merges, live_max
            before = sm.load_stream_stats(out_dir).get("tier_gen", 0)
            _, dt = run.timed("streaming.process_batch", i, lambda: sm.process_batch(
                run.spark, batches[i], i, out_dir, cfg, auto_compact=True,
                merge_factor=MERGE_FACTOR))
            step["s"] += dt
            ingested.append(parts[i])
            stats = sm.load_stream_stats(out_dir)
            n_merges = stats.get("tier_gen", 0) - before
            merges += n_merges
            (merged if n_merges else plain).append(dt)
            live_max = max(live_max, len(stats["segments"]))
            return True, ""

        def delete():
            corpus = pd.concat(ingested, ignore_index=True)
            # the last conversation may continue in the next batch
            whole = set(corpus["conv_id"]) - {corpus["conv_id"].iloc[-1]}
            victims = rng.sample(sorted(whole - deleted), DELETE_CONVS)
            r, dt = run.timed("streaming.delete_docs", i, lambda: sm.delete_docs(
                run.spark, out_dir, victims))
            step["s"] += dt
            deleted.update(victims)
            want = int(corpus["conv_id"].isin(victims).sum())
            return r["deleted"] == want, f"deleted {r['deleted']}, expected {want}"

        def query():
            (post, tomb), snap_s = run.timed(
                "streaming.load_index_snapshot", i,
                lambda: sm.load_index_snapshot(run.spark, out_dir))
            N, avgdl = sm.stream_corpus_stats(out_dir)
            exclude = tomb.select("doc_id") if tomb is not None else None
            rows, q_s = run.timed("query.bm25_topk", i, lambda: bm25_topk(
                run.spark, post, queries, N, avgdl, cfg,
                doc_exclude=exclude).collect())
            snaps.append(snap_s)
            queries_s.append(q_s)
            step["s"] += snap_s + q_s
            return _check_segments(run, out_dir, rows,
                                   pd.concat(ingested, ignore_index=True),
                                   deleted, queries, "segments")

        ok = run.ledger.attempt("process_batch", commit)
        if ok and i % MERGE_FACTOR == 0:
            ok = run.ledger.attempt("delete_docs", delete)
        if ok:
            ok = run.ledger.attempt("bm25_topk", query)
        if ok:
            run.add_op(step["s"])

    def compact_and_check():
        with run.tracer.span("streaming.compact_segments", len(run.op_s)):
            sm.compact_segments(run.spark, out_dir, cfg, policy="full")
        corpus = pd.concat(ingested, ignore_index=True)
        surviving = corpus[~corpus["conv_id"].isin(deleted)].reset_index(drop=True)
        N, avgdl = sm.stream_corpus_stats(out_dir)
        if N != len(surviving):
            return False, f"N={N} after compaction, {len(surviving)} survive"
        rows = bm25_topk(run.spark, sm.load_segment_postings(run.spark, out_dir),
                         queries, N, avgdl, cfg).collect()
        ok, why = _check_segments(run, out_dir, rows, surviving, set(), queries,
                                  "compacted")
        # compactions leave replaced segment directories on disk for a
        # later clean-up, so the index size counts the live segments only
        live = sum(dir_bytes(os.path.join(out_dir, "segments", f"seg={seg['id']}"))
                   for seg in sm.load_stream_stats(out_dir)["segments"])
        run.extra["index_bytes_per_input_byte"] = live / text_bytes(surviving)
        return ok, why

    # bytes on disk after the ingest and its merges, before the closing
    # compaction: replaced segments included
    written = dir_bytes(out_dir)
    if ingested:
        run.ledger.attempt("compact_segments", compact_and_check)
    ingested_bytes = sum(text_bytes(p) for p in ingested)
    commit_s = plain + merged
    run.extra.update(
        items=sum(len(p) for p in ingested), items_s=sum(commit_s),
        commit_s=commit_s, query_s=queries_s,
        streaming={
            "streaming.commit_plain_s": float(np.median(plain)) if plain else 0.0,
            "streaming.commit_merge_s": float(np.median(merged)) if merged else 0.0,
            "streaming.merges": merges,
            "streaming.live_segments_max": live_max,
            "streaming.bytes_written_per_input_byte":
                written / ingested_bytes if ingested_bytes else 0.0,
            "streaming.load_index_snapshot_s": float(np.median(snaps)) if snaps else 0.0,
        })


WORKLOADS = {
    "build-batch": build_batch,
    "query-selective": query_selective,
    "query-heavy": query_heavy,
    "ingest-mixed": ingest_mixed,
}
