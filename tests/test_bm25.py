"""BM25 rank-identity vs the exact oracle (FIXTURES.md §4)."""

import numpy as np
import pytest

from blacklab_spark.oracle import OracleIndex
from blacklab_spark.search import bm25


@pytest.fixture(scope="module")
def oracle(small_corpus):
    _, pdf = small_corpus
    return OracleIndex.from_rows(pdf.to_dict("records"))


def _query_set(oracle, n_single=8, n_or=6, seed=42):
    """Deterministic queries mixing head/tail df terms."""
    rng = np.random.default_rng(seed)
    vocab = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))
    head, tail = vocab[:20], vocab[len(vocab) // 2 :]
    queries = []
    for i in range(n_single):
        pool = head if i % 2 == 0 else tail
        queries.append(pool[rng.integers(0, len(pool))])
    for i in range(n_or):
        k = int(rng.integers(2, 5))
        terms = [vocab[rng.integers(0, len(vocab))] for _ in range(k)]
        queries.append(" ".join(terms))
    return queries


def test_rank_identity(small_corpus, oracle):
    corpus, _ = small_corpus
    for q in _query_set(oracle):
        want = oracle.bm25_topk(q, k=10)
        got = [
            (r["doc_id"], r["score"])
            for r in corpus.topk(q, k=10).select("doc_id", "score").collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )


def test_topk_with_metadata_filter(small_corpus, oracle):
    corpus, pdf = small_corpus
    allowed = {
        i
        for i, row in enumerate(
            pdf.sort_values(["conv_id", "turn_idx"]).to_dict("records")
        )
        if row["role"] == "assistant"
    }
    q = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))[0]
    want = oracle.bm25_topk(q, k=10, allowed=allowed)
    got = [
        (r["doc_id"], r["score"])
        for r in corpus.topk(q, k=10, filter_expr="role = 'assistant'")
        .select("doc_id", "score")
        .collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    roles = corpus.topk(q, k=10, filter_expr="role = 'assistant'").select("role").collect()
    assert all(r["role"] == "assistant" for r in roles)


def test_large_k_stays_lazy_and_rank_identical(small_corpus, oracle):
    """Above DRIVER_HYDRATE_MAX_K the result must be a distributed plan
    (no k full-text rows on the driver — ADVICE r4 on maxretrieve-scale
    requests) with the same ranking as the eager path."""
    from blacklab_spark.search import bm25

    corpus, _ = small_corpus
    q = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))[0]
    big_k = bm25.DRIVER_HYDRATE_MAX_K + 1
    df = corpus.topk(q, k=big_k)
    # lazy plan: a parquet scan feeds the result, not a LocalTableScan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan.split("\n")[0]
    want = oracle.bm25_topk(q, k=big_k)
    got = [(r["doc_id"], r["score"])
           for r in df.select("doc_id", "score").collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in want],
                               rtol=1e-6)
    # and the schema matches the eager path exactly
    assert df.columns == corpus.topk(q, k=5).columns


def test_empty_and_missing_terms(small_corpus):
    corpus, _ = small_corpus
    assert corpus.topk("", k=5).count() == 0
    assert corpus.topk("zzzznotaword", k=5).count() == 0


def test_result_text_matches_source(small_corpus, oracle):
    """Per-turn text equality on query results."""
    corpus, pdf = small_corpus
    q = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))[1]
    src = {(r["conv_id"], r["turn_idx"]): r["text"] for r in pdf.to_dict("records")}
    for r in corpus.topk(q, k=10).collect():
        assert src[(r["conv_id"], r["turn_idx"])] == r["text"]


def test_batch_topk_rank_identical(small_corpus):
    corpus, pdf = small_corpus
    from blacklab_spark.oracle import OracleIndex

    oracle = OracleIndex.from_rows(pdf.to_dict("records"))
    queries = [
        "word00001 word00050",
        "word00002",
        "zzz_not_a_term",
        "word00003 word00007 word00100",
    ]
    got = corpus.batch_topk(queries, k=5).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in enumerate(queries):
        exp = oracle.bm25_topk(q, k=5)
        have = by_q.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in exp], q
        for (_, s1), (_, s2) in zip(have, exp):
            assert abs(s1 - s2) < 1e-9


def test_batch_topk_matches_single_query(small_corpus, oracle):
    """Shared-kernel guarantee: batch_topk == topk per query, rank- and
    score-exact — the batch path runs the same MaxScore/block-max
    kernel (_maxscore_query) per query over memoized blocks, so any
    divergence in skipping logic would show up here."""
    corpus, _ = small_corpus
    queries = _query_set(oracle)
    got = corpus.batch_topk(queries, k=7).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in enumerate(queries):
        single = [
            (r["doc_id"], r["score"])
            for r in corpus.topk(q, k=7).select("doc_id", "score").collect()
        ]
        have = by_q.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in single], q
        for (_, s1), (_, s2) in zip(have, single):
            assert abs(s1 - s2) < 1e-9


def test_phrase_scored_topk(small_corpus, oracle):
    """Phrase-scored BM25 (SURVEY §2.5 'phrase-scored queries' — Lucene
    SpanWeight at slop 0): the phrase is one scoring unit, tf = per-doc
    occurrence count, df = docs containing the phrase. Verified against
    a brute-force recomputation over the oracle's token lists."""
    corpus, _ = small_corpus
    # pick a phrase that actually occurs: most frequent adjacent pair
    from collections import Counter

    pairs = Counter()
    for toks in oracle.tokens:
        for a, b in zip(toks, toks[1:]):
            pairs[(a, b)] += 1
    (w1, w2), _n = pairs.most_common(1)[0]

    tf = {}
    for did, toks in enumerate(oracle.tokens):
        c = sum(1 for a, b in zip(toks, toks[1:]) if (a, b) == (w1, w2))
        if c:
            tf[did] = c
    n = len(oracle.tokens)
    avgdl = sum(len(t) for t in oracle.tokens) / n
    df = len(tf)
    idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
    want = sorted(
        (
            (
                did,
                idf * c / (c + 1.2 * (1.0 - 0.75 + 0.75 * len(oracle.tokens[did]) / avgdl)),
            )
            for did, c in tf.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]

    got = [
        (r["doc_id"], r["score"])
        for r in corpus.topk_phrase(f"{w1} {w2}", k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-9
    )
    # unknown phrase -> empty, not an error
    assert corpus.topk_phrase("zzz qqq", k=5).count() == 0


def _jobs_run(sc, fn):
    """(fn's result, number of Spark jobs fn ran)."""
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None) or []) - before)


def test_topk_job_count_floor(small_corpus):
    """Single-query latency is floor-bound by Spark job count: the
    scoring kernel runs 1-2 jobs (AQE) + ONE hydration scan; the k-row
    metadata decoration happens on the driver, never as a join plan
    (bm25.py topk_bm25 tail). Regression guard for the display path
    re-growing into broadcast-join jobs."""
    corpus, _ = small_corpus
    sc = corpus.spark.sparkContext
    corpus.topk("word00001 word00002", k=5).collect()  # warm
    _, n_jobs = _jobs_run(sc, corpus.topk("word00003 word00007", k=5).collect)
    assert n_jobs <= 3, f"topk ran {n_jobs} Spark jobs (display join crept back?)"
    # the display-sized result is a local relation: collecting it runs
    # no job, with or without a metadata filter (a silent Arrow
    # fallback in createDataFrame would bring the job back)
    for filt in (None, "role = 'assistant'"):
        for k in (5, bm25.DRIVER_HYDRATE_MAX_K):
            df = corpus.topk("word00003 word00007", k=k, filter_expr=filt)
            rows, n_jobs = _jobs_run(sc, df.collect)
            assert rows and n_jobs == 0, (filt, k, n_jobs)

