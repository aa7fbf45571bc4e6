"""Build orchestrator — the analog of ``Suffix_Array::construct()``
(/root/reference/src/Suffix_Array.cpp:466-494: a stage sequencer with
per-stage wall-clock instrumentation), plus what the reference lacks:
partition-grained checkpoint/resume, lineage, and build metrics.

One construction path. Stages (each records a manifest row; resume skips
rows marked done, and refuses a manifest it cannot verify):

  id_plan     the ingest contract (docids.compute_id_plan: conv_id a
              non-null string without NUL, turn_idx a non-null integer
              in 0..9,999,999,999; one ValueError per broken rule) and
              the doc-id plan — splitters + offsets — from one bounded
              key-scan job, before any exchange
  plan        seeded sample -> PartitionPlan, persisted verbatim
              into the manifest (lineage: the exact shuffle plan; the
              doc-id plan rides this record too)
  pairs       id assignment + run packing + doc-stats emission in one
              Arrow pass after one exchange of the corpus text; ids
              come from the persisted id plan (identical to
              assign_doc_ids — differential-tested), and the pass also
              emits packed per-doc (conv_id, turn_idx, dl) rows under
              pairs/wave=-1. Runs are staged to <out>/pairs partitioned
              by wave — the double-buffer analog (Suffix_Array.hpp:33-34)
              and the resume anchor
  docs        unpack pairs/wave=-1 into the doc_stats table (source
              turn_idx type kept) — a cheap narrow job overlapped with
              the build's tail (N and avgdl are already exact from the
              pairs observation)
  wave=K      range shuffle + sort + assemble for part_ids in wave K,
              written to <out>/postings/wave=K; one sequential loop of
              idempotent, individually checkpointed Spark jobs
  hot_merge   salted-partial stitch -> <out>/postings/wave=9999
  dictionary  narrow (term, part_id, df, cf, tlen) side index

Every wave is verified by a read-back checksum (xxhash64 aggregate) —
the spirit of the reference's is_sorted() validation hook
(Suffix_Array.cpp:512-536) applied to the persisted artifact.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capsbm25.config import BuildConfig
from capsbm25.partition import PartitionPlan, plan_from_sample
from capsbm25.catalog import arrow_collect, write_table
from capsbm25.postings import (
    assemble_postings,
    extract_pairs,
    extract_runs,
    merge_hot_partials,
)


@dataclass
class BuildResult:
    out_dir: str
    N: int
    avgdl: float
    plan: PartitionPlan
    metrics: dict


class Manifest:
    """Append-only JSONL build manifest (per-stage lineage + metrics)."""

    def __init__(self, out_dir: str):
        self.path = os.path.join(out_dir, "build_manifest.jsonl")
        # appends can come from concurrent stage threads (waves, the
        # async doc_stats write) — serialize them so two records can't
        # interleave bytes within one line
        self._lock = threading.Lock()

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            lines = [ln for ln in f if ln.strip()]
        out = []
        for ln in lines:
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                # a crash mid-append tears the then-final line; add()
                # starts recovery appends on a fresh line, so a torn
                # fragment can later sit MID-file. Skipping it (with a
                # warning) keeps resume working after the exact failure
                # it exists for — a torn row was never marked done, so
                # its stage simply re-runs.
                import logging

                logging.getLogger(__name__).warning(
                    "skipping torn manifest line in %s: %.60r",
                    self.path, ln)
        return out

    def done(self, stage: str) -> dict | None:
        for r in self.records():
            if r["stage"] == stage and r["status"] == "done":
                return r
        return None

    def add(self, stage: str, status: str, started: float, **kw) -> dict:
        rec = {
            "stage": stage,
            "status": status,
            "started_ts": started,
            "finished_ts": time.time(),
            **kw,
        }
        # a crash-torn final line has no trailing newline; appending
        # directly onto it would garble BOTH records (and the torn
        # fragment would no longer be last, so records() would raise) —
        # start on a fresh line whenever the file doesn't end with one
        with self._lock:
            lead = ""
            if os.path.exists(self.path):
                with open(self.path, "rb") as f:
                    f.seek(0, os.SEEK_END)
                    if f.tell():
                        f.seek(-1, os.SEEK_END)
                        lead = "" if f.read(1) == b"\n" else "\n"
            with open(self.path, "a") as f:
                f.write(lead + json.dumps(rec) + "\n")
        return rec



def _checksum(df: DataFrame) -> tuple[int, int]:
    cols = [F.col(c) for c in ("term", "df", "cf")]
    row = df.agg(
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(row["h"]), int(row["n"])


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: BuildConfig | None = None,
    resume: bool = False,
    stop_after_wave: int | None = None,
) -> BuildResult:
    """Build the full index under out_dir. stop_after_wave is a fault-
    injection hook for the kill-and-resume test."""
    cfg = cfg or BuildConfig()
    from capsbm25.session import configure_session

    # engine-owned session tunings (listing threshold, concurrent
    # writers) — previously bench-only, so user sessions paid a
    # distributed-listing job per partitioned read (see session.py)
    configure_session(spark, out_dir)
    if not resume and os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    man = Manifest(out_dir)
    metrics: dict = {}

    def timed(stage, fn):
        t0 = time.time()
        done = man.done(stage)
        if resume and done:
            metrics[stage] = {"skipped": True}
            return done
        kw = fn() or {}
        rec = man.add(stage, "done", t0, **kw)
        metrics[stage] = {"sec": round(rec["finished_ts"] - t0, 3), **kw}
        return rec

    stats_path = os.path.join(out_dir, "doc_stats")
    pairs_path = os.path.join(out_dir, "pairs")
    postings_path = os.path.join(out_dir, "postings")
    corpus_json = os.path.join(out_dir, "corpus_stats.json")

    def refuse_resume(why: str):
        raise RuntimeError(
            f"cannot resume the build at {out_dir}: {why}; a pre-fused "
            "layout — rebuild with resume=False")

    def read_corpus_stats() -> dict:
        if not os.path.exists(corpus_json):
            refuse_resume("its done stages left no corpus_stats.json")
        with open(corpus_json) as f:
            return json.load(f)

    # --- ingest contract + doc-id plan. check_ingest_schema (no job)
    #     runs on every call, resume included, and yields the turn_idx
    #     type the doc_stats table keeps; compute_id_plan checks schema
    #     and values in its one key-scan job, before any exchange. The
    #     id plan is persisted in the plan and docs manifest records; a
    #     resume past the pairs stage reuses it (the corpus is not read
    #     again), an earlier resume recomputes it, which checks the
    #     corpus. A resume that finds a done plan or pairs stage without
    #     a persisted plan cannot verify its staged ids and refuses. ---
    #
    #     One doc-stats path: run extraction (the pairs stage) already
    #     tokenizes every doc after the id exchange, which carries
    #     conv_id/turn_idx as its sort keys, so the same pass emits
    #     packed per-segment doc-stats rows (part_id=-1, staged under
    #     pairs/wave=-1; postings._doc_stats_frame). An Observation on
    #     the pairs write yields N/avgdl before the waves, and the docs
    #     stage unpacks the staging rows into the doc_stats table on a
    #     pool thread behind the waves.
    from capsbm25.docids import IdPlan, check_ingest_schema, compute_id_plan

    turn_ddl = check_ingest_schema(transcripts)
    docs_rec = man.done("docs")
    docs_future = None
    corpus: dict | None = None
    pool = ThreadPoolExecutor(max_workers=2)
    try:
        t_idplan = time.time()
        id_plan = None
        if resume:
            for rec in (man.done("plan"), docs_rec):
                if rec and rec.get("id_plan"):
                    id_plan = IdPlan.from_json(rec["id_plan"])
                    break
            if id_plan is None and (man.done("plan") or man.done("pairs")):
                refuse_resume("a done plan/pairs stage but no persisted "
                              "id_plan")
        if id_plan is None or not man.done("pairs"):
            # the pairs stage has yet to read the corpus: check the
            # ingest contract on it, and hold a resumed corpus to the
            # row count the persisted plan was built on
            fresh = compute_id_plan(transcripts, cfg)
            if id_plan is not None and fresh.n_rows != id_plan.n_rows:
                raise RuntimeError(
                    f"corpus changed since the interrupted build: its id "
                    f"plan counted {id_plan.n_rows} rows, the corpus now "
                    f"has {fresh.n_rows} — rebuild with resume=False")
            id_plan = fresh
        metrics["id_plan"] = {"sec": round(time.time() - t_idplan, 3)}

        if resume and docs_rec:
            metrics["docs"] = {"skipped": True}
            corpus = read_corpus_stats()

        # adaptive partitioning resolves HERE, the first point N is known
        # (resume-safe: a fresh build reads N off the id plan's exact
        # count, a resumed build off the persisted corpus_stats — the
        # same number, so both resolve to the identical part count)
        N = corpus["N"] if corpus is not None else id_plan.n_rows
        cfg = cfg.resolve_parts(N)

        # --- stage: plan (samplesort splitters + hot terms; lineage) ---
        def stage_plan():
            target = cfg.num_part_ids * cfg.samples_per_part
            frac = cfg.sample_fraction or min(1.0, target / max(1, N * 20))
            # only the term/tf distribution matters for splitters;
            # row-local ids keep the sample scan narrow (no id shuffle)
            sample_src = transcripts.sample(
                fraction=frac, seed=cfg.seed
            ).select(
                F.monotonically_increasing_id().alias("doc_id"), "text"
            )
            sample = extract_pairs(sample_src, cfg)
            plan = plan_from_sample(
                arrow_collect(sample.select("term", "tf")), cfg)
            # id_plan persisted here too (it is computed before this
            # stage): a resume whose crash predates the docs record
            # still reuses the exact id plan
            return {"plan": plan.to_json(), "sample_fraction": frac,
                    "id_plan": id_plan.to_json()}

        timed("plan", stage_plan)
        plan = PartitionPlan.from_json(man.done("plan")["plan"])

        # --- stage: pairs (staged, wave-partitioned — the resume anchor;
        #     FUSED: the id exchange feeds run packing directly, so
        #     tokenize + tf + dl + id assignment + part assignment + RUN
        #     PACKING happen in ONE Arrow pass over the shuffled corpus:
        #     what lands on disk / crosses the wave shuffles is one
        #     delta+varint run per (term, part_id, task), not raw pairs,
        #     and the corpus text is never written between scan and
        #     runs) ---
        def stage_pairs():
            from pyspark.sql import Observation

            # interleave part_ids across waves (mod, not contiguous
            # blocks): normal parts carry many small terms
            # (run-count-heavy), salted hot parts carry few fat runs
            # (pair-mass-heavy) — contiguous blocks put all of one kind
            # in one wave and the wave durations skewed ~6x at 10M
            # turns; interleaving balances both axes.
            # Doc-stats rows ride part_id=-1 -> wave=-1, a staging dir
            # the wave loop below never assembles.
            pw = extract_runs(
                transcripts.select("conv_id", "turn_idx", "text"),
                cfg, plan=plan, id_plan=id_plan,
            ).withColumn(
                "wave",
                F.when(F.col("part_id") < 0, F.lit(-1))
                .otherwise(F.col("part_id") % cfg.num_waves).cast("int"),
            )
            obs = Observation("pairs")
            real = F.col("part_id") >= 0
            pw = pw.observe(
                obs,
                F.count(F.when(real, F.lit(1))).alias("runs"),
                F.sum(F.when(real, F.col("n"))).alias("pairs"),
                F.sum(F.when(~real, F.col("n"))).alias("n_docs"),
                F.sum(F.when(~real, F.col("last_doc"))).alias("sum_dl"),
            )
            write_table(pw, pairs_path, partition_by=["wave"])
            m = obs.get
            n = int(m["n_docs"] or 0)
            if n != id_plan.n_rows:
                raise RuntimeError(
                    f"corpus changed mid-build: id plan counted "
                    f"{id_plan.n_rows} rows, the run extraction saw {n}"
                )
            corp = {"N": n,
                    "avgdl": (m["sum_dl"] or 0) / n if n else 0.0,
                    "config": cfg.persist_dict()}
            with open(corpus_json, "w") as f:
                json.dump(corp, f)
            return {"rows": int(m["pairs"] or 0), "runs": int(m["runs"] or 0),
                    "n_docs": n, "sum_dl": int(m["sum_dl"] or 0)}

        timed("pairs", stage_pairs)

        if corpus is None:
            # stage_pairs wrote corpus_stats.json before its manifest
            # record, so a done pairs stage implies the json exists —
            # also the resume source when docs is not yet done
            corpus = read_corpus_stats()
        N, avgdl = corpus["N"], corpus["avgdl"]

        # --- stage: docs (unpack pairs/wave=-1 into the doc_stats
        #     table — a cheap narrow job, submitted to a pool thread
        #     AFTER the waves so it back-fills the hot_merge /
        #     dictionary / checksum tail (small jobs that leave idle
        #     slots) instead of contending with the core-saturated wave
        #     exchanges (measured: wave0 +0.2s at 211k, +1-2s at 1.05M
        #     when submitted before the waves); joined before return
        #     and run synchronously on the stop_after_wave exit) ---
        stage_docs_unpack = None
        if not (resume and docs_rec):
            stats_src = os.path.join(pairs_path, "wave=-1")
            # the source turn_idx type is restored in the table
            turn_np = {"tinyint": "int8", "smallint": "int16",
                       "int": "int32", "bigint": "int64"}[turn_ddl]
            stats_ddl = (f"doc_id long, conv_id string, "
                         f"turn_idx {turn_ddl}, dl long")

            def stage_docs_unpack():
                import numpy as np
                import pandas as pd
                from pyspark.sql import Observation

                t_docs = time.time()
                if corpus["N"] > 0 and not os.path.isdir(stats_src):
                    refuse_resume(f"pairs staging at {pairs_path} has no "
                                  "wave=-1 doc stats")
                if os.path.isdir(stats_src):
                    def unpack(it):
                        for pdf in it:
                            for r in pdf.itertuples(index=False):
                                n = int(r.n)
                                ids = np.frombuffer(r.doc_ids, np.int64)
                                turns = np.frombuffer(r.tfs, np.int64)
                                dls = np.frombuffer(r.dls, np.int64)
                                convs = (r.pos.decode("utf-8")
                                         .split("\x00") if n else [])
                                if not (len(ids) == len(turns) == len(dls)
                                        == len(convs) == n):
                                    raise ValueError(
                                        "packed doc-stats row is "
                                        f"inconsistent: n={n} ids="
                                        f"{len(ids)} convs={len(convs)}")
                                yield pd.DataFrame({
                                    "doc_id": ids,
                                    "conv_id": convs,
                                    "turn_idx": turns.astype(turn_np),
                                    "dl": dls,
                                })

                    stats = spark.read.parquet(stats_src).mapInPandas(
                        unpack, schema=stats_ddl)
                else:  # empty corpus: no stats rows were emitted
                    stats = spark.createDataFrame([], schema=stats_ddl)
                obs = Observation("docs")
                stats = stats.observe(obs, F.count(F.lit(1)).alias("n"))
                write_table(stats, stats_path)
                n = int(obs.get["n"])
                if n != corpus["N"]:
                    raise RuntimeError(
                        f"doc_stats unpack wrote {n} rows for a "
                        f"{corpus['N']}-row corpus"
                    )
                rec = man.add("docs", "done", t_docs, rows=n, **corpus,
                              id_plan=id_plan.to_json())
                metrics["docs"] = {
                    "sec": round(rec["finished_ts"] - t_docs, 3), "rows": n}

        # --- stages: per-wave assembly (independent, idempotent) ---
        # (an all-empty corpus produces no wave dirs — valid, zero
        # postings)
        waves = sorted(
            w
            for w in (
                int(d.split("=")[1])
                for d in (os.listdir(pairs_path)
                          if os.path.isdir(pairs_path) else [])
                if d.startswith("wave=")
            )
            if w >= 0  # wave=-1 is the packed doc-stats staging dir
        )

        # Waves assemble one after another; each wave's read-back
        # checksum (a light column-pruned scan) runs on the pool thread
        # and back-fills the NEXT wave's ramp-up — a small job under a
        # saturated one costs ~nothing, where two overlapped assemblies
        # only contend for the same cores. The checksum thread appends
        # the manifest record, so a crash in the window re-runs that
        # wave on resume. stop_after_wave (the kill-and-resume hook)
        # joins the checksums, writes doc_stats synchronously and
        # returns once wave stop_after_wave is done or skipped.
        from pyspark.sql import Observation

        wave_futs: list = []  # deferred checksum/record threads
        for w in waves:
            stage = f"wave={w}"
            t0 = time.time()
            if resume and man.done(stage):
                metrics[stage] = {"skipped": True}
            else:
                wave_runs = spark.read.parquet(
                    os.path.join(pairs_path, f"wave={w}"))
                obs = Observation(f"wave{w}")
                wave_runs = wave_runs.observe(
                    obs, F.count(F.lit(1)).alias("runs"),
                    F.sum("n").alias("pairs"))
                out = assemble_postings(wave_runs, plan, N, avgdl, cfg)
                dst = os.path.join(postings_path, f"wave={w}")
                # partition the persisted postings BY part_id: a part_id
                # is one contiguous term range of the samplesort plan
                # (or one salted hot term), so every physical file
                # covers exactly one term range and a query's In(term)
                # predicate prunes to ~one file per wave via
                # row-group/file stats — guaranteed pruning at any
                # corpus scale instead of relying on how the hash
                # exchange happened to group part_ids into tasks
                # (layout-asserted in tests/test_plans.py)
                write_table(out, dst, partition_by=["part_id"])

                def finish(stage=stage, dst=dst, obs=obs, t0=t0):
                    h, n = _checksum(spark.read.parquet(dst))
                    m = obs.get
                    kw = {"rows": n, "checksum": h,
                          "pairs": int(m["pairs"] or 0),
                          "runs": int(m["runs"])}
                    rec = man.add(stage, "done", t0, **kw)
                    metrics[stage] = {
                        "sec": round(rec["finished_ts"] - t0, 3), **kw}

                wave_futs.append(pool.submit(finish))
            if stop_after_wave is not None and w >= stop_after_wave:
                for f in wave_futs:
                    f.result()
                if stage_docs_unpack is not None:
                    stage_docs_unpack()
                return BuildResult(out_dir, N, avgdl, plan, metrics)

        # the doc_stats unpack rides the hot_merge/dictionary/checksum
        # tail (fixed-overhead-bound jobs that leave executor slots
        # idle) — see the stage comment above
        if stage_docs_unpack is not None:
            docs_future = pool.submit(stage_docs_unpack)

        # --- stage: hot-term partial merge (boundary fix-up) ---
        # The merge reads the waves' persisted files (written above,
        # synchronously) but not their checksums, so outstanding
        # checksum threads keep running underneath it; they are joined
        # before returning.
        t_hot = time.time()
        if resume and man.done("hot_merge"):
            metrics["hot_merge"] = {"skipped": True}
        else:
            from capsbm25.postings import POSTINGS_SCHEMA

            dst = os.path.join(postings_path, "wave=9999")

            def write_hot(merged, empty: bool):
                if empty:
                    # a 0-row frame yields no part_id dirs under
                    # partitionBy and load_postings on an all-empty
                    # corpus would find no schema-bearing file; write
                    # the empty file INSIDE a part_id=0 dir so the
                    # directory depth stays consistent with the
                    # partitioned waves
                    write_table(merged.drop("part_id"),
                                os.path.join(dst, "part_id=0"))
                else:
                    write_table(merged, dst, partition_by=["part_id"])

            # drop any stale wave=9999 from a CRASHED prior hot_merge
            # attempt BEFORE building the read relation: the lazy merge
            # would otherwise list those files, and write_hot's
            # overwrite of the same subtree deletes them under the
            # running scan (FileNotFoundException on every resume
            # retry). This stage's output is derived purely from the
            # wave!=9999 inputs, so a partial leftover is always safe
            # to discard.
            stale = os.path.join(postings_path, "wave=9999")
            if os.path.isdir(stale):
                shutil.rmtree(stale)
            # partial rows exist iff the plan salted hot terms: hot
            # terms come from the plan SAMPLE, so each one has >= 1
            # corpus pair and thus >= 1 partial posting row. Deciding
            # off plan.hot_terms (driver-side) replaces the old
            # isEmpty() probe job, and the read prunes to the reserved
            # hot part range (part_id is a partition column, so normal
            # waves' directories are never listed into the scan).
            if not plan.hot_terms or not os.path.isdir(postings_path):
                write_hot(spark.createDataFrame([], POSTINGS_SCHEMA), True)
            else:
                partials = spark.read.parquet(postings_path).where(
                    (F.col("part_id") >= plan.n_normal) & F.col("partial"))
                write_hot(
                    merge_hot_partials(partials.drop("wave"), N, avgdl,
                                       cfg),
                    False,
                )

            def finish_hot(dst=dst, t0=t_hot):
                h, n = _checksum(spark.read.parquet(dst))
                kw = {"rows": n, "checksum": h}
                rec = man.add("hot_merge", "done", t0, **kw)
                metrics["hot_merge"] = {
                    "sec": round(rec["finished_ts"] - t0, 3), **kw}

            # checksum read-back overlaps the dictionary scan below
            wave_futs.append(pool.submit(finish_hot))

        # --- stage: term dictionary (expansion-family side index) ---
        # One narrow row per (term, part_id) with df/cf — the analog of
        # the reference's sorted term order enabling upper_bound range
        # scans (/root/reference/src/Suffix_Array.cpp:252-297) and of
        # Lucene's term-dictionary FST. fuzzy/wildcard/prefix predicates
        # evaluate against THESE rows (no payload columns in the file at
        # all), then prune the postings scan by the matched
        # In(term)/In(part_id) (query.py _expansion_matched). Written
        # sorted by term so row-group min/max stats prune prefix scans.
        # Cost: one column-pruned agg-free scan of the final postings +
        # a tiny write.
        def stage_dict():
            d = (
                load_postings(spark, out_dir)
                .select(
                    "term", "part_id", "df", "cf",
                    # term length, persisted so fuzzy's |len diff| <=
                    # max_edits window is a PUSHED range predicate
                    # (parquet row-group min/max) instead of a computed
                    # filter — the FST-automaton / sorted-range analog
                    # for edit-distance candidate pruning
                    # (query.fuzzy_topk)
                    F.length("term").cast("int").alias("tlen"),
                )
                .sortWithinPartitions("term")
            )
            write_table(d, os.path.join(out_dir, "dictionary"))
            return {}

        timed("dictionary", stage_dict)
        # join the deferred checksum/record threads and the overlapped
        # doc_stats unpack (error propagation: a failed read-back or
        # unpack still fails the build)
        for f in wave_futs:
            f.result()
        if docs_future is not None:
            docs_future.result()
        return BuildResult(out_dir, N, avgdl, plan, metrics)
    finally:
        # joins the async doc_stats write on every exit path, so a
        # stage failure never leaves a dangling Spark job behind the
        # caller's back
        pool.shutdown(wait=True)


def load_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final postings: all waves, salted partials replaced by merged.

    The partitioned layout holds hundreds of part_id dirs, and Spark's
    default parallelPartitionDiscovery.threshold=32 turns the eager
    file listing at read time into a distributed JOB (~1s at 512 dirs
    on a local fs). Rather than retune the caller's session globally
    (their own highly-partitioned object-store tables read in the same
    session want distributed listing), the raised threshold is SCOPED
    to this read — file listing happens while the relation resolves,
    so set/restore around spark.read.parquet covers it. Sessions that
    want the tuning durable call session.configure_session themselves
    (build_index and the streaming ingest entry points do)."""
    from capsbm25.session import scoped_listing_threshold

    with scoped_listing_threshold(spark, out_dir):
        df = spark.read.parquet(os.path.join(out_dir, "postings"))
    return df.where(~F.col("partial"))


# per-(application, path, mtime) cache of the dictionary DataFrame:
# expansion queries open the dictionary on EVERY call, and re-reading
# the parquet (plus its listing) dominated round-5's fuzzy/wildcard
# latency. mtime keys rebuilds-in-place to a fresh cache entry.
_DICT_CACHE: dict = {}


def load_dictionary(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Term dictionary side index (term, part_id, df, cf, tlen)
    persisted by the build's dictionary stage; None for indexes that
    predate it or streaming segment dirs (expansion queries then fall
    back to a pruned projection of the postings — see
    query._expansion_matched). The returned DataFrame is CACHED
    (Spark .cache(), keyed by application + path + mtime): the
    dictionary is the hot side of every expansion query and is tiny
    relative to the postings, so repeated queries pay zero read cost.
    Callers wanting an uncached read (e.g. plan-pushdown inspection)
    can spark.read.parquet the path directly."""
    path = os.path.join(out_dir, "dictionary")
    if not os.path.isdir(path):
        return None
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = 0.0
    key = (spark.sparkContext.applicationId, os.path.abspath(path), mtime)
    df = _DICT_CACHE.get(key)
    if df is None:
        # evict stale entries for the same path (rebuild-in-place or a
        # previous application) so their cached blocks free up
        for k in [k for k in list(_DICT_CACHE) if k[1] == key[1]
                  and k != key]:
            try:
                _DICT_CACHE.pop(k).unpersist()
            except Exception:
                pass
        df = spark.read.parquet(path).cache()
        # materialize eagerly: Lucene loads the term index at segment
        # open, and the first expansion query should not pay the read
        # + cache fill inside its own latency (the dictionary is tiny
        # — vocab-sized narrow rows)
        df.count()
        _DICT_CACHE[key] = df
    return df


def load_doc_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-doc metadata written by the build's docs stage:
    (doc_id, conv_id, turn_idx, dl). The intended source for
    bm25_topk(doc_filter=...) — e.g.
    load_doc_stats(spark, out).where(F.col("conv_id").isin([...]))
    .select("doc_id"); predicates on conv_id/turn_idx push down to
    the parquet scan."""
    return spark.read.parquet(os.path.join(out_dir, "doc_stats"))


def load_corpus_stats(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "corpus_stats.json")) as f:
        return json.load(f)


def index_stats(spark: SparkSession, out_dir: str) -> dict:
    """Operator-facing index summary: corpus stats, posting/byte sizes,
    hot-term inventory — one aggregate job over the final postings."""
    corpus = load_corpus_stats(out_dir)
    p = load_postings(spark, out_dir)
    row = p.agg(
        F.count("*").alias("terms"),
        F.sum("df").alias("postings"),
        F.sum(F.length("doc_ids") + F.length("tfs") + F.length("dls")
              + F.length("pos")).alias("payload_bytes"),
        F.max("df").alias("max_df"),
    ).collect()[0]
    top = [
        {"term": r["term"], "df": int(r["df"])}
        for r in p.select("term", "df").orderBy(F.desc("df"), "term")
        .limit(10).collect()
    ]
    n_post = int(row["postings"] or 0)
    return {
        "N": corpus["N"],
        "avgdl": corpus["avgdl"],
        "config": corpus.get("config", {}),
        "terms": int(row["terms"]),
        "postings": n_post,
        "payload_bytes": int(row["payload_bytes"] or 0),
        "bytes_per_posting": round(
            (row["payload_bytes"] or 0) / max(n_post, 1), 3
        ),
        "max_df": int(row["max_df"] or 0),
        "top_terms": top,
    }


def load_build_config(out_dir: str, base: BuildConfig | None = None) -> BuildConfig:
    """The query-time config contract: runtime knobs come from `base`,
    but build-shaped fields (block_size, k1, b, token_pattern,
    max_token_len) are ADOPTED from the index's persisted metadata —
    a caller's mismatched tokenizer or k1/b would skew scores vs the
    stored postings; block_size shapes the kernel's recomputed
    per-block bounds."""
    persisted = load_corpus_stats(out_dir).get("config", {})
    return (base or BuildConfig()).adopt(persisted)
