"""Stable doc_id assignment — the graft analog of ``permute()``
(/root/reference/src/Suffix_Array.cpp:148-158: assign global position
ids before sorting).

doc_id = dense rank of (conv_id, turn_idx) under stable ordering,
LongType (the uint64-path analog of /root/reference/src/main.cpp:83-87 —
target scale is 10^12 turns, beyond int32).

Two methods, tested equal:

* ``window``  — ``row_number() over (order by conv_id, turn_idx)``;
  single-partition sort, test scale only.
* ``distributed`` (default) — the samplesort pattern: seeded sample of
  sort keys -> driver-side splitters -> range-assign part_id via a
  vectorized searchsorted kernel -> per-part counts (map-side partial
  agg, tiny shuffle) -> prefix-sum offsets on the driver (analog of the
  sequential prefix-sum at /root/reference/src/Suffix_Array.cpp:320-330)
  -> repartition + sortWithinPartitions + mapInPandas adding
  offset + local index. No global sort, no single-partition bottleneck.

Ingest contract (checked once, in compute_id_plan, which build_index and
streaming.process_batch both run before their id exchange): conv_id is a
non-null string with no NUL codepoint; turn_idx is a non-null
tinyint/smallint/int/bigint in 0..9,999,999,999. Each broken rule
raises one ValueError on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from capsbm25.catalog import arrow_collect
from capsbm25.config import BuildConfig

# Separator must sort below every character that can appear in conv_id
# so that key order == (conv_id, turn_idx) tuple order for
# variable-length ids ("src1" < "src10"). \x01, not \x00: numpy's
# fixed-width unicode coercion silently STRIPS trailing NUL codepoints
# (np.str_("\x00") == ""), which pandas applies during Series+scalar
# concat — and NUL itself is rejected at ingest (check_ingest_schema /
# compute_id_plan), so \x01 is the lowest codepoint a conv_id can hold.
# turn_idx is zero-padded to 10 digits, so lexicographic == numeric
# order over exactly the range TURN_IDX_MAX admits.
_SEP = "\x01"
TURN_IDX_TYPES = ("tinyint", "smallint", "int", "bigint")
TURN_IDX_MAX = 9_999_999_999


def _key(conv_id: pd.Series, turn_idx: pd.Series) -> np.ndarray:
    return (
        conv_id.astype(str) + _SEP + turn_idx.astype(np.int64).map("{:010d}".format)
    ).to_numpy(dtype=object)


def check_ingest_schema(df: DataFrame) -> str:
    """The schema half of the ingest contract, checked on the driver
    with no Spark job: conv_id is a string column and turn_idx an
    integral one. Returns turn_idx's type name (the doc_stats table
    keeps the source type)."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    conv, turn = types.get("conv_id"), types.get("turn_idx")
    if conv != "string":
        raise ValueError(
            f"conv_id must be a string column; got {conv or 'no such column'}")
    if turn not in TURN_IDX_TYPES:
        raise ValueError(
            f"turn_idx must be an integer column "
            f"({'/'.join(TURN_IDX_TYPES)}); got {turn or 'no such column'}")
    return turn


_CONV_FORM = "conv_id must be a non-null string with no NUL (\\x00)"
_TURN_FORM = f"turn_idx must be a non-null integer in 0..{TURN_IDX_MAX:,}"


def _ingest_value_rules() -> dict:
    """The value half of the ingest contract: rule -> (predicate on a
    violating row, error). compute_id_plan counts each predicate on
    the Observation its key scan already carries, so checking adds no
    Spark job."""
    conv, turn = F.col("conv_id"), F.col("turn_idx")
    return {
        "null_conv_id": (conv.isNull(), f"null conv_id; {_CONV_FORM}"),
        "nul_conv_id": (F.instr(conv, "\x00") > 0,
                        f"conv_id contains a NUL codepoint; {_CONV_FORM}"),
        "null_turn_idx": (turn.isNull(), f"null turn_idx; {_TURN_FORM}"),
        "range_turn_idx": ((turn < 0) | (turn > TURN_IDX_MAX),
                           f"turn_idx out of range; {_TURN_FORM}"),
    }


class IdPlan:
    """The persisted doc-id shuffle plan (splitters + per-part offsets)
    — lineage for the samplesort id assignment, and the contract that
    lets SEPARATE passes (assign_doc_ids, the fused run extraction) assign
    IDENTICAL dense ids to the same corpus: both apply the same
    splitters and the same driver prefix-sum offsets, and within-part
    order is the deterministic (conv_id, turn_idx) sort."""

    def __init__(self, splitters: np.ndarray, offsets: dict[int, int],
                 n_rows: int):
        self.splitters = splitters          # object ndarray of sort keys
        self.offsets = offsets              # part_id -> global offset
        self.n_rows = n_rows

    def to_json(self) -> str:
        import json

        return json.dumps({
            "splitters": list(self.splitters),
            "offsets": {str(k): v for k, v in self.offsets.items()},
            "n_rows": self.n_rows,
        })

    @classmethod
    def from_json(cls, s: str) -> "IdPlan":
        import json

        d = json.loads(s)
        return cls(
            np.array(d["splitters"], dtype=object),
            {int(k): int(v) for k, v in d["offsets"].items()},
            int(d["n_rows"]),
        )

    def part_of_udf(self):
        splitters = self.splitters

        @F.pandas_udf("int")
        def part_of(conv_id: pd.Series, turn_idx: pd.Series) -> pd.Series:
            return pd.Series(
                np.searchsorted(
                    splitters, _key(conv_id, turn_idx), side="right"
                ).astype(np.int32)
            )

        return part_of


def make_dl_of(cfg: BuildConfig):
    """Series(text) -> Series(dl): token count matching the tokenizer
    without materializing token lists (regexp_extract_all in the JVM
    measured ~4x slower since it materializes every match string just
    to count them)."""
    if cfg.tokenizer == "chargram":
        n = cfg.chargram_n

        def dl_of(texts: pd.Series) -> pd.Series:
            # measure lower(text): Unicode lowercase can change length
            # ('İ' -> 'i̇'), and the tokenizer grams the LOWERED string
            return (
                texts.fillna("").str.lower().str.len() - (n - 1)
            ).clip(lower=0)

        return dl_of
    import re

    tok_re = re.compile(cfg.token_pattern)

    def dl_of(texts: pd.Series) -> pd.Series:
        return texts.fillna("").str.lower().str.count(tok_re)

    return dl_of


def compute_id_plan(df: DataFrame, cfg: BuildConfig) -> IdPlan:
    """Sample keys -> splitters -> per-part counts -> prefix-sum
    offsets. Two narrow jobs over (conv_id, turn_idx) only.

    1. seeded sample of sort keys -> splitters (regular sampling, the
       analog of sample_pivots/select_pivots, Suffix_Array.cpp:187-222).
       Bottom-k by key hash instead of Bernoulli: needs no row count up
       front (uniform without replacement), and orderBy().limit()
       compiles to TakeOrderedAndProject — per-task top-k heap + tiny
       k-row merge, NOT a global sort. An Observation on the same scan
       yields the exact row count, so sampling + counting is ONE job.
    2. per-part counts (map-side partial agg, tiny shuffle) ->
       sequential prefix-sum on the driver (the analog of
       Suffix_Array.cpp:320-330).

    It is also where the ingest contract is checked, before the id
    exchange: the schema on the driver (check_ingest_schema), the
    values by aggregates on the first job's Observation. Each broken
    rule raises one ValueError naming the column and accepted form.
    """
    from pyspark.sql import Observation

    check_ingest_schema(df)

    # the DOC-id split count only balances the id-assignment shuffle —
    # doc_ids themselves are dense ranks of (conv_id, turn_idx) and are
    # invariant to it — so adaptive cfgs (num_part_ids=None, resolved
    # later from N, which is unknown here) use a parallelism-derived
    # default rather than waiting for resolution
    n_parts = cfg.num_part_ids or max(64, cfg.shuffle_partitions * 4)
    target = n_parts * cfg.samples_per_part
    obs = Observation()
    rules = _ingest_value_rules()
    pri = F.xxhash64("conv_id", "turn_idx", F.lit(cfg.seed))
    # the limit has a 256k floor (a bounded ~10 MB driver fetch): when
    # the corpus fits under it the "sample" IS the complete key set and
    # the per-part counts job below is skipped — the whole id plan
    # becomes ONE job. Driver-side cost at the floor is ~0.2 s (numpy
    # sort + searchsorted over 256k keys) vs ~0.6 s for the counts job
    # it replaces; per-task top-k heaps hold <= 10 MB. Covers the
    # per-entry documents side-indexes AND the sf0.1 bench corpus.
    lim = max(int(target * 1.2), 262_144)
    sample = arrow_collect(
        df.select("conv_id", "turn_idx")
        .observe(obs, F.count(F.lit(1)).alias("n"),
                 *(F.count(F.when(c, F.lit(1))).alias(k)
                   for k, (c, _) in rules.items()))
        .orderBy(pri, "conv_id", "turn_idx")
        .limit(lim)
    )
    m = obs.get
    for k, (_, msg) in rules.items():
        if m[k]:
            raise ValueError(msg)
    n_rows = int(m["n"])
    if n_rows == 0:
        return IdPlan(np.array([], dtype=object), {}, 0)
    keys = np.sort(_key(sample["conv_id"], sample["turn_idx"]))
    n_eff = min(n_parts, max(1, keys.size))
    cuts = [keys[int(len(keys) * (i + 1) / n_eff) - 1] for i in range(n_eff - 1)]
    splitters = np.array(sorted(set(cuts)), dtype=object)
    plan = IdPlan(splitters, {}, n_rows)

    if len(sample) < lim:
        # the limit was not reached, so `keys` is every key in the
        # corpus: per-part counts come from the same searchsorted the
        # executor kernel applies — no second job. (Dense ids are
        # invariant to the splitters themselves: offsets + within-part
        # sort reproduce the global key order for ANY cut set, so this
        # branch and the counts-job branch assign identical ids.)
        part = np.searchsorted(splitters, keys, side="right")
        pids, cnts = np.unique(part, return_counts=True)
        counts = {int(p): int(c) for p, c in zip(pids, cnts)}
    else:
        counts = {
            r["part_id"]: r["cnt"]
            for r in df.withColumn(
                "part_id", plan.part_of_udf()("conv_id", "turn_idx")
            ).groupBy("part_id").agg(F.count("*").alias("cnt")).collect()
        }
    acc = 0
    for pid in sorted(counts):
        plan.offsets[pid] = acc
        acc += counts[pid]
    # the counts job is the authoritative row count: the sample scan's
    # Observation can double-fire when the limit's incremental
    # execution re-scans the input (seen on Arrow LocalRelation inputs
    # with limit >= rows), so obs["n"] is only trusted as a zero check
    # above; build_index reads N off n_rows, so it must be exact
    plan.n_rows = acc
    return plan


def assign_doc_ids(
    df: DataFrame,
    cfg: BuildConfig | None = None,
    method: str = "distributed",
    with_dl: bool = False,
    id_plan: IdPlan | None = None,
) -> DataFrame:
    """Return df + doc_id:long, densely ranked by (conv_id, turn_idx).

    with_dl=True additionally emits dl (token count) computed inside the
    same Arrow kernel that assigns ids — one regex pass, no extra scan.
    id_plan: reuse a previously computed (persisted) plan so separate
    passes assign identical ids; None computes one here."""
    cfg = cfg or BuildConfig()
    if method == "window":
        w = Window.orderBy("conv_id", "turn_idx")
        out = df.withColumn("doc_id", (F.row_number().over(w) - 1).cast("long"))
        if with_dl:
            from capsbm25.tokenize import tokens_expr

            out = out.withColumn(
                "dl", F.size(tokens_expr(F.col("text"), cfg)).cast("long")
            )
        return out
    if method != "distributed":
        raise ValueError(method)

    id_plan = id_plan or compute_id_plan(df, cfg)
    if id_plan.n_rows == 0:
        out = df.withColumn("doc_id", F.lit(None).cast("long"))
        if with_dl:
            # keep the with_dl contract on the empty relation too —
            # stage_docs aggregates F.sum('dl') downstream
            out = out.withColumn("dl", F.lit(0).cast("long"))
        return out

    from pyspark.sql.types import LongType, StructField, StructType

    # vectorized range assignment as a SCALAR pandas_udf: only the two
    # key columns cross the Arrow boundary, and Catalyst can column-
    # prune narrow consumers down to just those columns (a mapInPandas
    # here would ship every column, text included)
    with_part = df.withColumn(
        "part_id", id_plan.part_of_udf()("conv_id", "turn_idx")
    )
    offsets = id_plan.offsets

    # range shuffle + local sort + offset addition
    shuffled = with_part.repartition(
        min(cfg.shuffle_partitions, len(offsets) or 1), "part_id"
    ).sortWithinPartitions("part_id", "conv_id", "turn_idx")

    extra = [StructField("doc_id", LongType())]
    if with_dl:
        extra.append(StructField("dl", LongType()))
    out_schema = StructType(list(df.schema.fields) + extra)
    out_cols = [f.name for f in out_schema.fields]
    _dl_of = make_dl_of(cfg) if with_dl else None

    def add_ids(it):
        ider = batch_id_assigner(offsets)
        for pdf in it:
            pdf = pdf.copy()
            pdf["doc_id"] = ider(pdf["part_id"].to_numpy())
            if with_dl:
                pdf["dl"] = _dl_of(pdf["text"]).astype(np.int64)
            yield pdf[out_cols]

    return shuffled.mapInPandas(add_ids, schema=out_schema)


def batch_id_assigner(offsets: dict[int, int]):
    """Stateful per-task id assigner: given batches' part_id arrays
    (contiguous sorted runs within a task — guaranteed by
    repartition(part_id) + sortWithinPartitions), returns dense ids
    offset + within-part arrival index. Shared by assign_doc_ids and
    the fused run-extraction path so both produce identical ids."""
    seen: dict[int, int] = {}

    def assign(parts: np.ndarray) -> np.ndarray:
        ids = np.empty(len(parts), dtype=np.int64)
        if len(parts):
            change = np.flatnonzero(np.diff(parts)) + 1
            starts = np.concatenate(([0], change, [len(parts)]))
            for i in range(len(starts) - 1):
                lo, hi = starts[i], starts[i + 1]
                pid = int(parts[lo])
                base = offsets[pid] + seen.get(pid, 0)
                ids[lo:hi] = base + np.arange(hi - lo)
                seen[pid] = seen.get(pid, 0) + (hi - lo)
        return ids

    return assign
