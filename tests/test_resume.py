"""Kill-and-resume: a build interrupted after wave 0 and resumed must
produce an index identical to an uninterrupted build, skipping completed
stages (the checkpoint/lineage requirement of the north rule — the
reference's restart story is rerun-from-scratch)."""

import json
import os

import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.build import Manifest, build_index, load_postings
from capsbm25.config import BuildConfig


def _postings_pdf(spark, out):
    return (
        load_postings(spark, out)
        .select("term", "df", "cf", "doc_ids", "tfs", "dls")
        .toPandas()
        .sort_values("term", ignore_index=True)
    )


def test_resume_identical(spark, tmp_path):
    pdf = fx.gen_transcripts_pdf(80, 42)
    df = spark.createDataFrame(pdf)
    cfg = BuildConfig(num_part_ids=12, shuffle_partitions=4, num_waves=3)

    full_out = str(tmp_path / "full")
    build_index(spark, df, full_out, cfg)

    part_out = str(tmp_path / "partial")
    build_index(spark, df, part_out, cfg, stop_after_wave=0)
    man = Manifest(part_out)
    done = {r["stage"] for r in man.records()}
    assert "wave=0" in done and "hot_merge" not in done

    res = build_index(spark, df, part_out, cfg, resume=True)
    # resumed run skipped the already-done stages
    assert res.metrics["docs"].get("skipped")
    assert res.metrics["wave=0"].get("skipped")
    assert "sec" in res.metrics["hot_merge"]

    a = _postings_pdf(spark, full_out)
    b = _postings_pdf(spark, part_out)
    pd.testing.assert_frame_equal(a, b)

    # checksums recorded per wave match between the two builds
    ca = {r["stage"]: r["checksum"] for r in Manifest(full_out).records()
          if "checksum" in r}
    cb = {r["stage"]: r["checksum"] for r in Manifest(part_out).records()
          if "checksum" in r}
    assert ca == cb


def test_resume_survives_torn_manifest_line(spark, tmp_path):
    """Round-6 review: a crash mid-manifest-append tears the FINAL
    JSONL line; records() must skip it (resume's whole reason to
    exist) instead of raising JSONDecodeError on every retry."""
    pdf = fx.gen_transcripts_pdf(60, 42)
    df = spark.createDataFrame(pdf)
    cfg = BuildConfig(num_part_ids=12, shuffle_partitions=4, num_waves=2)
    out = str(tmp_path / "torn")
    build_index(spark, df, out, cfg, stop_after_wave=0)
    man = Manifest(out)
    n_ok = len(man.records())
    with open(man.path, "a") as f:
        f.write('{"stage": "wave=1", "sta')  # torn mid-write
    assert len(man.records()) == n_ok  # torn tail skipped
    res = build_index(spark, df, out, cfg, resume=True)
    assert "sec" in res.metrics["hot_merge"]
    # the recovery appends started on a FRESH line (the torn fragment
    # must not garble the next record) and every later read still
    # skips the mid-file fragment
    recs = man.records()
    assert {r["stage"] for r in recs if r["status"] == "done"} >= {
        "docs", "plan", "pairs", "wave=0", "wave=1", "hot_merge"}


def test_resume_after_hot_merge_crash_leftover(spark, tmp_path):
    """Round-6 review: a build killed mid-hot_merge leaves a partial
    postings/wave=9999; the resumed stage previously LISTED those
    files into its input relation and then overwrote the same subtree
    mid-job (FileNotFoundException on every retry). The stale dir must
    be dropped before the read."""
    import os
    import shutil

    pdf = fx.gen_transcripts_pdf(80, 42)
    df = spark.createDataFrame(pdf)
    cfg = BuildConfig(num_part_ids=12, shuffle_partitions=4, num_waves=3)
    full_out = str(tmp_path / "full")
    build_index(spark, df, full_out, cfg)

    crash = str(tmp_path / "crash")
    build_index(spark, df, crash, cfg)
    # simulate the crash window: hot output on disk (stale, and here
    # even CORRUPT-partial: drop some files), manifest row missing
    man = Manifest(crash)
    lines = [ln for ln in open(man.path).read().splitlines()
             if '"hot_merge"' not in ln]
    open(man.path, "w").write("\n".join(lines) + "\n")
    hot = os.path.join(crash, "postings", "wave=9999")
    assert os.path.isdir(hot)
    victims = sorted(os.listdir(hot))[:1]
    for v in victims:
        shutil.rmtree(os.path.join(hot, v), ignore_errors=True)
    res = build_index(spark, df, crash, cfg, resume=True)
    assert "sec" in res.metrics["hot_merge"]
    pd.testing.assert_frame_equal(
        _postings_pdf(spark, full_out), _postings_pdf(spark, crash))


def _stopped_build(spark, tmp_path, name):
    pdf = fx.gen_transcripts_pdf(30, 42)
    df = spark.createDataFrame(pdf)
    cfg = BuildConfig(num_part_ids=8, shuffle_partitions=4, num_waves=2)
    out = str(tmp_path / name)
    build_index(spark, df, out, cfg, stop_after_wave=0)
    return df, cfg, out


def _rewrite_manifest(out, edit):
    """Keep the records edit() returns (None drops one)."""
    man = Manifest(out)
    recs = [r for r in map(edit, man.records()) if r is not None]
    with open(man.path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs)


def test_resume_refuses_pairs_without_corpus_stats(spark, tmp_path):
    """A done pairs stage whose corpus_stats.json is gone (the layout
    before doc stats rode the pairs pass) cannot be resumed: refuse
    with the rebuild hint, not a raw FileNotFoundError."""
    df, cfg, out = _stopped_build(spark, tmp_path, "nocorpus")
    _rewrite_manifest(out, lambda r: None if r["stage"] == "docs" else r)
    os.remove(os.path.join(out, "corpus_stats.json"))
    with pytest.raises(RuntimeError,
                       match="pre-fused layout — rebuild with resume=False"):
        build_index(spark, df, out, cfg, resume=True)


def test_resume_refuses_manifest_without_id_plan(spark, tmp_path):
    """A done plan/pairs stage without a persisted id_plan: the staged
    ids cannot be checked against a recomputed plan, so refuse."""
    df, cfg, out = _stopped_build(spark, tmp_path, "noplan")

    def strip(r):
        r.pop("id_plan", None)
        return None if r["stage"] == "docs" else r

    _rewrite_manifest(out, strip)
    with pytest.raises(RuntimeError,
                       match="pre-fused layout — rebuild with resume=False"):
        build_index(spark, df, out, cfg, resume=True)


def test_resume_before_pairs_checks_the_corpus(spark, tmp_path):
    """A resume whose pairs stage has not run reads the corpus again,
    so it checks the ingest contract (a driver ValueError, not an
    executor failure) and holds the corpus to the persisted row count."""
    df, cfg, out = _stopped_build(spark, tmp_path, "early")
    pdf = df.toPandas()
    _rewrite_manifest(out, lambda r: r if r["stage"] == "plan" else None)

    bad = pdf.copy()
    bad["turn_idx"] = bad["turn_idx"].astype("Int64")
    bad.loc[1, "turn_idx"] = pd.NA
    with pytest.raises(ValueError, match="null turn_idx") as ei:
        build_index(spark, spark.createDataFrame(bad), out, cfg, resume=True)
    assert type(ei.value) is ValueError

    with pytest.raises(RuntimeError, match="corpus changed since"):
        build_index(spark, spark.createDataFrame(pdf.iloc[1:]), out, cfg,
                    resume=True)
