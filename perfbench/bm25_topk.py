"""``bm25-topk``: one closed-loop client calling ``Corpus.topk`` and
``Corpus.topk_phrase`` through the library API.

Its time goes to ``search.bm25`` and ``corpus``; it never reaches
``cql``, ``search.results``, ``search.cache`` or the server, so it is the
workload on which a change to those layers should show no change. The
traced run ends with one ``ingest`` round (see ingest.py) on the same
index.
"""

from __future__ import annotations

import time

import numpy as np

import common
import ingest
import tracing
from common import log
from oracle import Oracle, same_ranking

N_TURNS = 20_000
# untimed closed loop on the measured index before the windows: the first
# window on a fresh index runs about 15% slower than later ones
WARMUP_S = 3.0
FILTERS = ("role = 'user'", "role = 'assistant'", "role = 'tool'", "turn_idx < 4")
_LETTERS = np.array(list("bcdfghjklmnpqrstvxz"))


def _word(rank: int) -> str:
    return f"word{rank:05d}"


def _term(shape: np.random.Generator, content: np.random.Generator, first: bool) -> str:
    """A head, mid or tail Zipf rank, or a word outside the vocabulary.
    The first term of a query is always a head or mid rank, so every
    query scores postings; 8% of the other terms (5% of all terms) are
    out of vocabulary."""
    u = shape.random()
    if not first and u < 0.08:
        return "oov" + "".join(content.choice(_LETTERS, 6))
    if u < 0.45 or (first and u >= 0.75):
        return _word(int(content.integers(0, 30)))
    if u < 0.75 or first:
        return _word(int(content.integers(30, 2_000)))
    return _word(int(content.integers(2_000, 50_000)))


# One cycle of 20 query kinds, in a fixed order so that every window of
# a few seconds runs the same mix: 55% k=10, 20% k=10 under a metadata
# filter, 10% k=100, 5% k=2000 (the lazy path above
# bm25.DRIVER_HYDRATE_MAX_K), 10% two-word phrases.
KIND_CYCLE = ("k10", "filter", "k10", "phrase", "k10", "k100", "filter", "k10", "k2000", "k10",
              "k10", "filter", "k10", "phrase", "k10", "k100", "filter", "k10", "k10", "k10")
K = {"k10": 10, "filter": 10, "k100": 100, "k2000": 2000, "phrase": 10}


def query_stream(seed: int):
    """Endless stream of (kind, text, k, filter_expr) over the kind cycle.
    The shape of each query (number of terms, their rank classes, the
    filter) is the same for every seed; the seed picks the words."""
    shape = np.random.default_rng([0, 1])
    content = np.random.default_rng([seed, 1])
    while True:
        for kind in KIND_CYCLE:
            if kind == "phrase":
                a, b = content.integers(0, 12, 2)
                yield (kind, f"{_word(int(a))} {_word(int(b))}", 10, None)
                continue
            n_terms = int(shape.integers(1, 5))
            text = " ".join(_term(shape, content, i == 0) for i in range(n_terms))
            filt = FILTERS[int(shape.integers(0, len(FILTERS)))] if kind == "filter" else None
            yield (kind, text, K[kind], filt)


def run_query(corpus, req, tracer=None):
    """One operation: the search and the collect of its rows."""
    kind, text, k, filt = req
    if kind == "phrase":
        df = corpus.topk_phrase(text, k=k)
    else:
        df = corpus.topk(text, k=k, filter_expr=filt)
    if tracer is None:
        rows = df.collect()
    else:
        with tracer.span("bm25.collect"):
            rows = df.collect()
    if kind == "phrase":  # phrase top-k rows are (doc_id, score)
        return kind, [(r["doc_id"], r["score"]) for r in rows]
    return kind, [(r["conv_id"], r["turn_idx"], r["score"]) for r in rows]


def setup(spark, source, index_dir: str):
    """Build, open, and run the first query on the handle (it loads the
    term dictionary). Returns (corpus, build seconds)."""
    from blacklab_spark import Corpus, EngineConfig

    t0 = time.perf_counter()
    Corpus.build(spark, source, index_dir, EngineConfig())
    build_s = time.perf_counter() - t0
    corpus = Corpus.open(spark, index_dir)
    run_query(corpus, ("k10", f"{_word(1)} {_word(40)}", 10, None))
    return corpus, build_s


def check_answers(oracle: Oracle, records, tokenize) -> list[str]:
    errors = []
    for rec in records:
        if not rec.ok:
            continue
        kind, text, k, filt = rec.request
        got = rec.result
        if kind == "phrase":
            want = oracle.phrase_topk(tokenize(text), k)
            got = [(*oracle.doc_key(d), s) for d, s in got]
        else:
            want = oracle.topk(tokenize(text), k, filt)
        why = same_ranking(got, want, k)
        if why:
            errors.append(f"{kind} {text!r} k={k} filter={filt!r}: {why}")
    return errors


def measure(corpus, seed: int, seconds: float, tracer=None):
    """Closed loop over the seeded stream; a traced window replays the
    untraced window's queries."""
    stream = query_stream(seed)
    counter = iter(range(1 << 30))

    def do_op(req, _client):
        if tracer is None:
            return run_query(corpus, req)
        with tracer.span("op", op=f"q{next(counter)}"):
            return run_query(corpus, req, tracer)

    return common.closed_loop([stream], do_op, seconds)


def run(spark, seed: int, seconds: float, tracer=None) -> dict:
    """Set up (traced when ``tracer`` is given), warm up, measure an
    untraced window and, with a tracer, a traced window and one ingest
    round; then check every answer."""
    rd = common.RunDir()
    try:
        src = common.source_parquet(N_TURNS, seed)

        def build_once(rep):
            with tracing.span(tracer, "setup", op=f"setup{rep}"):
                return setup(spark, spark.read.parquet(src), rd.index_dir(f"idx{rep}"))

        with tracing.installed(tracer):
            corpus, setups, builds = common.repeated_setup(build_once)
        out = common.setup_metrics(setups, builds, N_TURNS, corpus.index_dir, src)

        # warm-up on the measured index, from a stream the windows do not use
        measure(corpus, seed + 1_000_003, WARMUP_S)
        log("warm-up done")
        win = measure(corpus, seed, seconds)
        out.update(win.metrics())
        windows = {"window": win}
        if tracer is not None:
            with tracing.installed(tracer):
                windows["traced_window"] = measure(corpus, seed, seconds, tracer)
                ing = ingest.round_(spark, corpus, src, seed, tracer)
            out.update(ing["metrics"])
        out["peak_rss_mb"] = common.peak_rss_mb(spark)
        out["results.context_plan"] = float(corpus.fi is not None)

        log("measured")
        oracle = Oracle([src])
        try:
            errors = []
            for w in windows.values():
                errors += check_answers(oracle, w.records, corpus.tokenize_query)
        finally:
            oracle.close()
        if tracer is not None:
            errors += ing["errors"]
        return {"metrics": out, "windows": windows, "errors": errors}
    finally:
        rd.close()
