"""One ingest round on an existing index, run at the end of the traced
``bm25-topk`` run: ``add_documents`` of a delta of 5% of the base,
``delete_documents`` of 1% of the live docs, a read probe on a freshly
opened handle, ``compact``, and a second fresh probe.

It writes the tables the read workloads only read, so work a read
optimisation moves into append or compaction shows here, and its reads
see tombstones and freshly appended segments.
"""

from __future__ import annotations

import time

import numpy as np

import common
from common import median
from oracle import Oracle, same_ranking

DELTA_FRACTION = 0.05
DELETE_FRACTION = 0.01
PROBE_TOPK = "word00003 word00150 word01200"
PROBE_PHRASE = ("word00001", "word00002")


def _probe(spark, index_dir: str) -> dict:
    """One fresh handle: a top-k, a phrase count and a KWIC page."""
    from blacklab_spark import Corpus

    corpus = Corpus.open(spark, index_dir)
    top = corpus.topk(PROBE_TOPK, k=10).collect()
    patt = " ".join(f'"{w}"' for w in PROBE_PHRASE)
    count = corpus.find(patt).count()
    kwic = corpus.find(patt).window(0, 20).kwic(3).collect()
    return {"topk": [(r["conv_id"], r["turn_idx"], r["score"]) for r in top],
            "count": count, "kwic_rows": len(kwic), "fi": corpus.fi is not None}


def round_(spark, corpus, base_src: str, seed: int, tracer) -> dict:
    from blacklab_spark import Corpus
    from blacklab_spark.index.incremental import add_documents, compact, delete_documents
    from pyspark.sql import functions as F

    index_dir = corpus.index_dir
    base_turns = int(corpus.meta["n_docs"])
    n_delta = int(base_turns * DELTA_FRACTION)
    # conv ids above the base's, so doc_id order stays (conv_id, turn_idx) order
    delta_src = common.source_parquet(n_delta, seed + 7, start_conv=10_000_000)
    timings: dict[str, float] = {}

    def step(name: str, fn):
        with tracer.span(name, op=name):
            t0 = time.perf_counter()
            out = fn()
            timings[name] = time.perf_counter() - t0
        return out

    step("incremental.add",
         lambda: add_documents(spark, index_dir, spark.read.parquet(delta_src)))
    live = base_turns + n_delta
    rng = np.random.default_rng([seed, 3])
    dead_ids = sorted(int(i) for i in rng.choice(live, int(live * DELETE_FRACTION), replace=False))
    fresh = Corpus.open(spark, index_dir)
    dead_keys = [(r["conv_id"], r["turn_idx"]) for r in fresh.doc_stats.filter(
        F.col("doc_id").isin(dead_ids)).select("conv_id", "turn_idx").collect()]
    step("incremental.delete", lambda: delete_documents(
        spark, index_dir, spark.createDataFrame([(i,) for i in dead_ids], "doc_id long")))
    probe1 = step("ingest.fresh_read_1", lambda: _probe(spark, index_dir))
    step("incremental.compact", lambda: compact(spark, index_dir))
    probe2 = step("ingest.fresh_read_2", lambda: _probe(spark, index_dir))

    errors = []
    oracle = Oracle([base_src, delta_src], deleted=dead_keys)
    try:
        want_count = oracle.phrase_count(list(PROBE_PHRASE))
        for name, probe in (("before compact", probe1), ("after compact", probe2)):
            if probe["count"] != want_count:
                errors.append(f"ingest {name}: phrase count {probe['count']} != oracle {want_count}")
            if probe["kwic_rows"] != min(20, want_count):
                errors.append(f"ingest {name}: {probe['kwic_rows']} KWIC rows")
        # BM25 statistics count tombstoned docs until compaction, so the
        # ranking is compared with the oracle over live rows after it
        why = same_ranking(probe2["topk"], oracle.topk(PROBE_TOPK.split(), 10), 10)
        if why:
            errors.append(f"ingest after compact: topk {PROBE_TOPK!r}: {why}")
    finally:
        oracle.close()
    return {
        "metrics": {
            "incremental.add_s": timings["incremental.add"],
            "incremental.delete_s": timings["incremental.delete"],
            "incremental.compact_s": timings["incremental.compact"],
            "incremental.fi_valid": float(probe2["fi"]),
            "append_turns_per_s": n_delta / timings["incremental.add"],
            "fresh_read_p50_s": median(
                [timings["ingest.fresh_read_1"], timings["ingest.fresh_read_2"]]),
        },
        "errors": errors,
    }
