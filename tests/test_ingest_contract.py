"""The ingest contract: conv_id a non-null string with no NUL, turn_idx
a non-null integer in 0..9,999,999,999. compute_id_plan checks it once,
before any exchange, for both build_index and streaming.process_batch;
each broken rule is one ValueError on the driver that names the column.
Also: rebuilding into an existing out_dir."""

import numpy as np
import pandas as pd
import pytest

from capsbm25 import fixtures as fx
from capsbm25.build import build_index, load_postings
from capsbm25.config import BuildConfig

CFG = BuildConfig(num_part_ids=4, shuffle_partitions=2, num_waves=1)


def _null_conv(pdf):
    pdf.loc[1, "conv_id"] = None
    return pdf


def _nul_conv(pdf):
    pdf.loc[1, "conv_id"] = "bad\x00id"
    return pdf


def _null_turn(pdf):
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int64")
    pdf.loc[1, "turn_idx"] = pd.NA
    return pdf


def _negative_turn(pdf):
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int64) - 40
    return pdf


def _long_conv(pdf):
    pdf["conv_id"] = pdf["conv_id"].str.replace(r"\D", "", regex=True
                                                ).astype(np.int64)
    return pdf


def _double_turn(pdf):
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.float64)
    return pdf


RULES = [
    (_null_conv, "null conv_id"),
    (_nul_conv, "conv_id contains a NUL"),
    (_null_turn, "null turn_idx"),
    (_negative_turn, "turn_idx out of range"),
    (_long_conv, "conv_id must be a string column; got bigint"),
    (_double_turn, "turn_idx must be an integer column .*got double"),
]


def _corpus(spark, breaker):
    pdf = breaker(fx.gen_transcripts_pdf(6, 5))
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize("breaker, match", RULES,
                         ids=[f.__name__.strip("_") for f, _ in RULES])
def test_build_rejects_broken_input_on_driver(spark, tmp_path, breaker,
                                              match):
    df = _corpus(spark, breaker)
    # exactly ValueError: an executor-side failure would surface as
    # pyspark's PythonException instead
    with pytest.raises(ValueError, match=match) as ei:
        build_index(spark, df, str(tmp_path / "idx"), CFG)
    assert type(ei.value) is ValueError
    # nothing past the id plan ran: no stage reached the manifest
    assert not (tmp_path / "idx" / "pairs").exists()


def test_process_batch_rejects_broken_input(spark, tmp_path):
    import capsbm25.streaming as sm

    out = str(tmp_path / "stream")
    df = _corpus(spark, _null_turn)
    with pytest.raises(ValueError, match="null turn_idx") as ei:
        sm.process_batch(spark, df, 0, out, CFG)
    assert type(ei.value) is ValueError
    assert sm.load_stream_stats(out)["segments"] == []


def test_turn_idx_range_edges_order_correctly(spark):
    """turn_idx 0 and 9,999,999,999 are accepted and the 10-digit key
    still orders them numerically (distributed ids == window ids)."""
    from capsbm25.docids import TURN_IDX_MAX, assign_doc_ids

    pdf = fx.gen_transcripts_pdf(4, 3)
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int64)
    pdf.loc[0, "turn_idx"] = TURN_IDX_MAX
    df = spark.createDataFrame(pdf)

    def ids(method):
        return (assign_doc_ids(df, CFG, method=method)
                .select("conv_id", "turn_idx", "doc_id").toPandas()
                .sort_values("doc_id", ignore_index=True))

    got = ids("distributed")
    pd.testing.assert_frame_equal(got, ids("window"))
    assert got["doc_id"].tolist() == list(range(len(pdf)))


def test_rebuild_in_place_replaces_index(spark, tmp_path):
    df = spark.createDataFrame(fx.gen_transcripts_pdf(30, 9))
    out = str(tmp_path / "idx")

    def postings():
        return (load_postings(spark, out)
                .select("term", "df", "cf", "doc_ids", "tfs", "dls")
                .toPandas().sort_values("term", ignore_index=True))

    build_index(spark, df, out, CFG)
    first = postings()
    build_index(spark, df, out, CFG)  # resume=False over an existing dir
    pd.testing.assert_frame_equal(first, postings())
