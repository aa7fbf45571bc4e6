"""merge_hot_partials: the batch merge kernel is byte-identical to a
per-term reference merge (rows of one term out of doc order and split
across Arrow batches, with and without positions, tombstones that empty
a term), fails loudly on a row whose payload disagrees with its df, and
a tiered merge of two small segments still writes a single postings
file (the exchange stays coalescible)."""

import glob
import os

import numpy as np
import pandas as pd
import pytest

import capsbm25.streaming as sm
from capsbm25 import fixtures as fx
from capsbm25.codec import (decode_pair_positions, decode_varints,
                            delta_decode, permute_pair_payload,
                            sorted_member_mask)
from capsbm25.config import BuildConfig
from capsbm25.postings import (POSTINGS_COLS, POSTINGS_SCHEMA, _decode_rows,
                               _posting_rows, merge_hot_partials)

N, AVGDL = 1000, 12.5


def _reference_merge(term, pdf, cfg, drop):
    """One term's rows -> its merged row, the way the per-term
    ``groupBy("term").applyInPandas`` merge produced it."""
    with_pos = cfg.index_positions
    docs = np.concatenate([delta_decode(b) for b in pdf["doc_ids"]])
    tfs = np.concatenate(
        [decode_varints(b).astype(np.int64) for b in pdf["tfs"]])
    dls = np.concatenate(
        [decode_varints(b).astype(np.int64) for b in pdf["dls"]])
    pos = (decode_pair_positions(b"".join(pdf["pos"]), tfs)
           if with_pos else None)
    if drop is not None and drop.size and docs.size:
        keep = ~sorted_member_mask(drop, docs)
        if pos is not None:
            pos = pos[np.repeat(keep, tfs)]
        docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
        if docs.size == 0:
            return pd.DataFrame([], columns=POSTINGS_COLS)
    order = np.argsort(docs, kind="stable")
    flush = [term, docs[order], tfs[order], dls[order],
             int(pdf["part_id"].min())]
    if pos is not None:
        flush.append(permute_pair_payload(pos, tfs, order))
    return _posting_rows([tuple(flush)], N, AVGDL, cfg, set())


def _random_partials(rng, with_pos):
    """Encoded partial rows: 40 terms, each split into 1-4 rows over
    disjoint doc sets; a doc's dl agrees across terms."""
    n_docs = 300
    dl = rng.integers(5, 40, n_docs)
    flushes = []
    for t in range(40):
        docs = np.sort(rng.choice(n_docs, rng.integers(1, 25), replace=False))
        tfs = rng.integers(1, 4, docs.size)
        pieces = np.array_split(np.arange(docs.size),
                                rng.integers(1, min(4, docs.size) + 1))
        for ix in pieces:
            f = [f"t{t:02d}", docs[ix], tfs[ix], dl[docs[ix]],
                 int(rng.integers(0, 50))]
            if with_pos:
                f.append(np.concatenate([
                    np.sort(rng.choice(dl[d], tf, replace=False))
                    for d, tf in zip(docs[ix], tfs[ix])]))
            flushes.append(tuple(f))
    rows = _posting_rows(flushes, N, AVGDL, BuildConfig(), {"x"})
    rows["partial"] = True
    # shuffle rows so one term's rows arrive out of doc order
    return rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)


@pytest.mark.parametrize("with_pos,broadcast", [(False, False),
                                                (True, True)])
def test_merge_byte_identical_to_per_term_merge(spark, with_pos, broadcast):
    rng = np.random.default_rng(7 + with_pos)
    cfg = BuildConfig(index_positions=with_pos)
    rows = _random_partials(rng, with_pos)
    assert rows.groupby("term").size().max() > 2
    # tombstones: every doc of t03 (the term vanishes) plus a random
    # sprinkle that thins other terms
    t03 = np.concatenate([delta_decode(b) for b in
                          rows.loc[rows["term"] == "t03", "doc_ids"]])
    drop = np.unique(np.concatenate([t03, rng.choice(300, 30)]))
    want = pd.concat(
        [_reference_merge(t, g, cfg, drop) for t, g in rows.groupby("term")],
        ignore_index=True)
    assert "t03" not in set(want["term"])

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")  # every multi-row term spans Arrow batches
    try:
        arg = spark.sparkContext.broadcast(drop) if broadcast else drop
        got = merge_hot_partials(
            spark.createDataFrame(rows, POSTINGS_SCHEMA), N, AVGDL, cfg,
            drop=arg).toPandas()
        nodrop = merge_hot_partials(
            spark.createDataFrame(rows, POSTINGS_SCHEMA), N, AVGDL,
            cfg).toPandas()
    finally:
        spark.conf.set(key, old)

    def norm(df):
        return df.sort_values("term").reset_index(drop=True)[POSTINGS_COLS]

    pd.testing.assert_frame_equal(norm(got), norm(want), check_dtype=False)
    want_all = pd.concat(
        [_reference_merge(t, g, cfg, None) for t, g in rows.groupby("term")],
        ignore_index=True)
    assert len(want_all) == 40
    pd.testing.assert_frame_equal(norm(nodrop), norm(want_all),
                                  check_dtype=False)


def test_merge_rejects_df_payload_mismatch(spark):
    cfg = BuildConfig()
    rows = _posting_rows(
        [("a", np.array([1, 5, 9]), np.array([1, 2, 1]),
          np.array([4, 4, 4]), 0),
         ("b", np.array([2, 3]), np.array([1, 1]), np.array([7, 7]), 1)],
        N, AVGDL, cfg, set())
    rows.loc[0, "df"] = 2  # payload still holds three doc ids
    with pytest.raises(ValueError, match="row 0 .*'a'.* decodes 3 doc ids"):
        _decode_rows(rows, "df", False)
    with pytest.raises(Exception, match="decodes 3 doc ids, df=2"):
        merge_hot_partials(spark.createDataFrame(rows, POSTINGS_SCHEMA),
                           N, AVGDL, cfg).collect()


def test_tiered_merge_writes_one_postings_file(spark, tmp_path):
    out = str(tmp_path / "idx")
    cfg = BuildConfig(num_part_ids=16, shuffle_partitions=4)
    pdf = fx.gen_transcripts_pdf(20, 3)
    convs = sorted(pdf["conv_id"].unique())
    for i in range(2):
        chunk = pdf[pdf["conv_id"].isin(convs[i::2])]
        sm.process_batch(spark, spark.createDataFrame(chunk), i, out, cfg,
                         auto_compact=False)
    r = sm.compact_segments(spark, out, cfg, policy="tiered", merge_factor=2)
    assert r["compacted"], r
    (m,) = r["merges"]
    files = glob.glob(os.path.join(out, "segments", f"seg={m['seg_id']}",
                                   "postings", "*.parquet"))
    assert len(files) == 1, files
