"""doc_id assignment: the distributed samplesort method must equal the
window-function ground truth (SURVEY §7.4 hard part (b))."""

from pyspark.sql import functions as F

from capsbm25 import fixtures as fx
from capsbm25.config import BuildConfig
from capsbm25.docids import assign_doc_ids


def test_distributed_equals_window(spark):
    pdf = fx.gen_transcripts_pdf(120, 42)
    df = spark.createDataFrame(pdf).repartition(7)
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)

    a = (
        assign_doc_ids(df, cfg, method="distributed")
        .select("conv_id", "turn_idx", "doc_id")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    b = (
        assign_doc_ids(df, cfg, method="window")
        .select("conv_id", "turn_idx", "doc_id")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    assert a.equals(b)
    # dense 0..N-1
    assert a["doc_id"].tolist() == list(range(len(pdf)))


def test_variable_length_conv_ids(spark):
    """'src1' < 'src10' < 'src2' ordering — regression for the
    NUL-stripping separator bug (numpy coerces '\\x00' to '')."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["src10", "src1", "src2", "src1", "src10"],
            "turn_idx": pd.array([0, 5, 0, 30, 2], dtype="int32"),
            "text": ["a", "b", "c", "d", "e"],
        }
    )
    df = spark.createDataFrame(pdf)
    cfg = BuildConfig(num_part_ids=4, shuffle_partitions=2, samples_per_part=2)
    got = (
        assign_doc_ids(df, cfg, method="distributed")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    assert list(zip(got.conv_id, got.turn_idx)) == [
        ("src1", 5), ("src1", 30), ("src10", 0), ("src10", 2), ("src2", 0)
    ]


def test_per_turn_text_equality(spark):
    """The binding per-row invariant (BASELINE.json input_hint): per-turn
    text equality under stable (conv_id, turn_idx) ordering."""
    pdf = fx.gen_transcripts_pdf(60, 42)
    df = spark.createDataFrame(pdf)
    out = (
        assign_doc_ids(df, BuildConfig(num_part_ids=8), method="distributed")
        .select("conv_id", "turn_idx", "text", "doc_id")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    src = pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    assert (out["text"].to_numpy() == src["text"].to_numpy()).all()
    assert (out["conv_id"].to_numpy() == src["conv_id"].to_numpy()).all()


def test_fused_run_extraction_ids_match_assign(spark):
    """The fused pairs stage (extract_runs(id_plan=...)) must assign
    EXACTLY the ids assign_doc_ids produces with the same persisted
    IdPlan — the invariant that keeps postings and the doc_stats
    artifact consistent without staging the corpus."""
    import numpy as np

    from capsbm25 import fixtures as fx
    from capsbm25.codec import decode_varints, delta_decode
    from capsbm25.config import BuildConfig
    from capsbm25.docids import assign_doc_ids, compute_id_plan
    from capsbm25.postings import extract_pairs, extract_runs

    pdf = fx.gen_transcripts_pdf(80, 7)
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    df = spark.createDataFrame(pdf)
    id_plan = compute_id_plan(df, cfg)

    # fused mode also emits packed doc-stats rows (part_id=-1); only
    # the real runs carry postings
    fused = extract_runs(
        df.select("conv_id", "turn_idx", "text"), cfg, id_plan=id_plan
    ).where("part_id >= 0").toPandas()
    got = set()
    for r in fused.itertuples(index=False):
        d = delta_decode(r.doc_ids)
        t = decode_varints(r.tfs).astype(int)
        dl = decode_varints(r.dls).astype(int)
        got.update(zip([r.term] * len(d), d.tolist(), t.tolist(),
                       dl.tolist()))

    base = assign_doc_ids(df, cfg, id_plan=id_plan).select("doc_id", "text")
    want = {
        (r.term, int(r.doc_id), int(r.tf), int(r.dl))
        for r in extract_pairs(base, cfg).collect()
    }
    assert got == want

    # and the IdPlan JSON roundtrip is lossless (it is build lineage)
    from capsbm25.docids import IdPlan

    rt = IdPlan.from_json(id_plan.to_json())
    assert list(rt.splitters) == list(id_plan.splitters)
    assert rt.offsets == id_plan.offsets and rt.n_rows == id_plan.n_rows
