"""Expected results, computed by the pure-Python oracle in a child process.

The oracle (tests/oracle.py) holds a whole corpus as Python token lists
and postings dicts. Inside the benchmark's own process that memory would
count in the memory figure the benchmark reports, so the oracle lives in
a process forked before Spark starts, and the memory sampler leaves that
process out. The child regenerates each corpus from its seed with the
same generator the parent uses, so only keys, queries and expected hits
cross the pipe.
"""

from __future__ import annotations

import collections
import multiprocessing
import random

# Child-side state: corpora by (n_convs, seed), oracles by name, and
# top-k results by (oracle name, query text, k, excluded conversations).
_CORPORA: dict = {}
_ORACLES: dict = {}
_TOPK: dict = {}

SAMPLE_TERMS = 16  # df/cf checked per build, plus one absent term


def _corpus(n_convs: int, seed: int):
    from capsbm25 import fixtures as fx

    key = (n_convs, seed)
    if key not in _CORPORA:
        _CORPORA[key] = fx.gen_transcripts_pdf(n_convs, seed)
    return _CORPORA[key]


def load(name: str, n_convs: int, seed: int, keys=None) -> int:
    """Build oracle `name` over the generated corpus, or over its rows
    whose (conv_id, turn_idx) is in `keys`; return its doc count."""
    import pandas as pd
    from oracle import OracleIndex

    pdf = _corpus(n_convs, seed)
    if keys is not None:
        pdf = pdf.merge(pd.DataFrame(keys, columns=["conv_id", "turn_idx"]),
                        on=["conv_id", "turn_idx"])
    _ORACLES[name] = OracleIndex(pdf)
    for k in [k for k in _TOPK if k[0] == name]:
        del _TOPK[k]
    return _ORACLES[name].N


def topk(name: str, queries: list[tuple[int, str, int]],
         excluded_convs: frozenset = frozenset()) -> dict[int, list]:
    """Oracle top-k per query id, as ranked (doc_id, score) lists. Doc
    ids are positions in (conv_id, turn_idx) order. Docs of
    `excluded_convs` leave the candidate set but still count in the
    scoring statistics, as pending deletes do."""
    oracle = _ORACLES[name]
    live = None
    if excluded_convs:
        live = {d for d, c in enumerate(oracle.doc_meta["conv_id"])
                if c not in excluded_convs}
    out = {}
    for qid, text, k in queries:
        key = (name, text, k, excluded_convs)
        if key not in _TOPK:
            _TOPK[key] = oracle.topk(text, k, doc_filter=live)
        out[qid] = _TOPK[key]
    return out


def term_stats(name: str, seed: int) -> dict[str, tuple[int, int]]:
    """df and cf of SAMPLE_TERMS terms drawn by seed from the oracle's
    vocabulary, plus the out-of-vocabulary term at (0, 0)."""
    from capsbm25 import fixtures as fx

    oracle = _ORACLES[name]
    vocab = sorted(oracle.postings)
    terms = random.Random(seed).sample(vocab, min(SAMPLE_TERMS, len(vocab)))
    out = {t: (oracle.df(t), oracle.cf(t)) for t in terms}
    out[fx.OOV_TERM] = (oracle.df(fx.OOV_TERM), oracle.cf(fx.OOV_TERM))
    return out


def _serve(conn) -> None:
    while True:
        msg = conn.recv()
        if msg is None:
            return
        fn, args = msg
        try:
            conn.send((True, fn(*args)))
        except Exception as e:  # reported to the caller, who counts it
            conn.send((False, repr(e)))


class Expect:
    """The oracle child. Start it before Spark (a fork after the JVM
    and its threads start is not safe). `submit(fn, *args)` sends one of
    this module's functions to the child and returns a callable that
    waits for its result, so the parent can work meanwhile; `call` waits
    at once. The child answers in the order it was asked."""

    def __init__(self):
        ctx = multiprocessing.get_context("fork")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child,),
                                 name="perfbench-oracle", daemon=True)
        self._proc.start()
        child.close()
        self._waiting: collections.deque = collections.deque()

    @property
    def pid(self) -> int:
        return self._proc.pid

    def submit(self, fn, *args):
        self._conn.send((fn, args))
        box: list = []
        self._waiting.append(box)

        def result():
            while not box:
                self._waiting.popleft().append(self._conn.recv())
            ok, out = box[0]
            if not ok:
                raise RuntimeError(f"oracle {fn.__name__}: {out}")
            return out

        return result

    def call(self, fn, *args):
        return self.submit(fn, *args)()

    def close(self) -> None:
        if self._proc.is_alive():
            self._conn.send(None)
        self._proc.join(timeout=60)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()
