"""``bls-mix``: the BlackLab-Server protocol over HTTP
(``search.webservice.serve``), one closed-loop client thread per core.

About 200 distinct seeded requests are drawn with Zipf skew, so the
working set exceeds the default 32-entry ``SearchCache`` and both cache
hits and evictions occur, and identical requests sometimes run at the
same time. Its time goes to ``cql``, ``search.spans``,
``search.results`` (the context join), ``search.facade``,
``search.cache``, ``search.server`` and ``search.webservice``;
``search.bm25`` does no work here.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.error
import urllib.parse
import urllib.request

import numpy as np

import common
import tracing
from common import log, median
from oracle import Oracle

N_TURNS = 10_000
# untimed closed loop on the measured index before the windows
WARMUP_S = 3.0
ZIPF_S = 1.2
CORPUS = "bench"
TIMEOUT_S = 120


def _w(rank: int) -> str:
    return f"word{rank:05d}"


# one cycle of 20 requests: the order families come up in, interleaved
# so that the first few seconds of a window already run the whole mix
FAMILY_CYCLE = ("phrase", "gap", "group", "docs", "within", "paging", "termfreq", "regex",
                "phrase", "gap", "doc-info", "repetition", "phrase", "within", "paging",
                "contents", "gap", "group", "docs", "phrase")
POOL_SIZE = 200


def request_pool(seed: int, n_docs: int) -> dict[str, list[tuple[str, str, dict]]]:
    """About ``POOL_SIZE`` distinct (family, path, params) requests,
    per family in proportion to its share of the cycle."""
    rng = np.random.default_rng([seed, 2])

    def head():
        return _w(int(rng.integers(0, 30)))

    def mid():
        return _w(int(rng.integers(30, 300)))

    makers = {
        "phrase": lambda: ("hits", {"patt": f'"{head()}" "{head()}"', "number": 20,
                                    "wordsaroundhit": int(rng.choice([3, 5, 8]))}),
        "gap": lambda: ("hits", {"patt": f'"{head()}" [] "{head()}"', "number": 20}),
        "regex": lambda: ("hits", {"patt": f'[word="word000{int(rng.integers(1, 3))}[0-9]"] '
                                           f'"{head()}"', "sort": "wordright", "number": 20}),
        "within": lambda: ("hits", {"patt": f'"{mid()}" within <s/>', "number": 20}),
        "repetition": lambda: ("hits", {"patt": f'"{head()}"{{2}}', "number": 20}),
        "group": lambda: ("hits", {"patt": f'"{mid()}"', "group": "field:role"}),
        "paging": lambda: ("hits", {"patt": '"word00001" "word00002"',
                                    "first": 20 * int(rng.integers(0, 30)), "number": 20}),
        "docs": lambda: ("docs", {"patt": f'"{head()}" "{mid()}"', "number": 20}),
        "termfreq": lambda: ("termfreq", {"first": int(rng.integers(0, 100)), "number": 10}),
        "doc-info": lambda: (f"docs/{int(rng.integers(0, n_docs))}", {}),
        "contents": lambda: (f"docs/{int(rng.integers(0, n_docs))}/contents",
                             {"patt": f'"{head()}"'}),
    }
    pool = {}
    for family in dict.fromkeys(FAMILY_CYCLE):
        entries: dict[tuple, tuple] = {}
        while len(entries) < POOL_SIZE * FAMILY_CYCLE.count(family) // len(FAMILY_CYCLE):
            path, params = makers[family]()
            entries.setdefault((path, tuple(sorted(params.items()))), (family, path, params))
        pool[family] = list(entries.values())
    return pool


def request_stream(pool):
    """Endless stream shared by all client threads: the family cycle in a
    fixed order, each family's request drawn with Zipf skew over its
    pool entries. The draws are the same for every seed, so every seed
    has the same pattern of repeats; the seed picks the pool."""
    rng = np.random.default_rng([0, 4])
    weights = {}
    for f, entries in pool.items():
        p = np.arange(1, len(entries) + 1, dtype=float) ** -ZIPF_S
        weights[f] = p / p.sum()
    while True:
        for f in FAMILY_CYCLE:
            yield pool[f][int(rng.choice(len(pool[f]), p=weights[f]))]


class Client:
    def __init__(self, port: int):
        self.root = f"http://127.0.0.1:{port}/"
        self.base = f"{self.root}{CORPUS}/"

    def clear_cache(self) -> None:
        """The server-level ``/cache-clear`` route."""
        with urllib.request.urlopen(self.root + "cache-clear", timeout=TIMEOUT_S) as r:
            if r.status != 200:
                raise RuntimeError(f"cache-clear answered {r.status}")

    def get(self, path: str, params: dict, op_id: str | None = None):
        url = self.base + path + ("?" + urllib.parse.urlencode(params) if params else "")
        req = urllib.request.Request(url)
        if op_id is not None:
            from tracing import OP_HEADER

            req.add_header(OP_HEADER, op_id)
        try:
            with urllib.request.urlopen(req, timeout=TIMEOUT_S) as r:
                return r.status, r.headers.get_content_type(), r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.headers.get_content_type(), e.read()


def check_envelope(family: str, params: dict, status: int, ctype: str, body: bytes):
    """Parsed body, or raises ValueError when status or shape is wrong."""
    if status != 200:
        raise ValueError(f"HTTP {status}: {body[:200]!r}")
    if family == "contents":
        if ctype != "application/xml" or not body.lstrip().startswith(b"<"):
            raise ValueError(f"contents: {ctype} {body[:80]!r}")
        return None
    doc = json.loads(body)
    if family == "termfreq":
        ok = isinstance(doc.get("termFreq"), dict) and doc["termFreq"]
    elif family == "doc-info":
        ok = "docInfo" in doc and "lengthInTokens" in doc["docInfo"]
    elif family == "group":
        ok = isinstance(doc.get("hitGroups"), list) and "numberOfGroups" in doc.get("summary", {})
    elif family == "docs":
        ok = isinstance(doc.get("docs"), list) and "numberOfDocs" in doc.get("summary", {})
    else:
        s = doc.get("summary", {})
        ok = (isinstance(doc.get("hits"), list) and isinstance(s.get("numberOfHits"), int)
              and len(doc["hits"]) == min(params.get("number", 50),
                                      max(0, s["numberOfHits"] - s["windowFirstResult"]))
              and "docInfos" in doc)
    if not ok:
        raise ValueError(f"{family}: bad envelope {body[:200]!r}")
    return doc


def build(spark, source, index_dir: str):
    from blacklab_spark import Corpus, EngineConfig

    t0 = time.perf_counter()
    Corpus.build(spark, source, index_dir, EngineConfig())
    build_s = time.perf_counter() - t0
    return Corpus.open(spark, index_dir), build_s


def serve(corpus):
    from blacklab_spark.search.webservice import serve as _serve

    srv = _serve({CORPUS: corpus}, port=0)
    srv.corpus = corpus
    return srv, Client(srv.server_address[1])


def measure(client: Client, pool, seconds: float, tracer=None):
    shared = common.Shared(request_stream(pool))
    streams = [shared] * common.cpu_count()
    counter = iter(range(1 << 30))

    def do_op(req, _c):
        family, path, params = req
        if tracer is None:
            status, ctype, body = client.get(path, params)
        else:
            op = f"r{next(counter)}"
            with tracer.span("op", op=op):
                status, ctype, body = client.get(path, params, op)
        return family, check_envelope(family, params, status, ctype, body)

    return common.closed_loop(streams, do_op, seconds)


def check_counts(oracle: Oracle, records, seed: int, sample: int = 24) -> list[str]:
    """numberOfHits of a seeded sample of phrase and gap requests
    against the oracle's count."""
    seen = {}
    for r in records:
        if r.ok and r.kind in ("phrase", "gap", "paging"):
            seen.setdefault(r.request[2]["patt"], r.result["summary"]["numberOfHits"])
    patts = sorted(seen)
    rng = np.random.default_rng([seed, 5])
    errors = []
    for i in rng.permutation(len(patts))[:sample]:
        patt = patts[i]
        parts = patt.split(" ")
        words = [p.strip('"') for p in parts if p != "[]"]
        gaps = [1] if "[]" in parts else [0]
        want = oracle.phrase_count(words, gaps)
        if seen[patt] != want:
            errors.append(f"{patt}: numberOfHits {seen[patt]} != oracle {want}")
    return errors


def run(spark, seed: int, seconds: float, tracer=None) -> dict:
    rd = common.RunDir()
    servers = []
    try:
        src = common.source_parquet(N_TURNS, seed)
        pool = request_pool(seed, N_TURNS)

        # warm-up requests come from another seed's pool, so the measured
        # pool starts cold in the cache
        warm_pool = request_pool(seed + 1_000_003, N_TURNS)
        warm = request_stream(warm_pool)

        def burst(client, requests, op=None):
            """The requests, spread over the client threads; raises on a
            failed one."""
            shared = common.Shared(requests)
            win = common.closed_loop(
                [shared] * common.cpu_count(),
                lambda req, _c: (req[0], check_envelope(
                    req[0], req[2], *client.get(req[1], req[2], op))),
                seconds=float("inf"))
            for r in win.records:
                if not r.ok:
                    raise RuntimeError(f"warm-up request {r.request!r} failed: {r.error}")

        def build_once(rep):
            """Build, open, serve, and send one request per client thread.
            Earlier repetitions' servers idle until all are done."""
            with tracing.span(tracer, "setup", op=f"setup{rep}"):
                corpus, build_s = build(spark, spark.read.parquet(src), rd.index_dir(f"idx{rep}"))
                # started while the tracer is installed, the server's handler
                # class forwards operation ids; without a tracer it is the plain one
                srv, client = serve(corpus)
                servers.append(srv)
                burst(client, itertools.islice(warm, common.cpu_count()),
                      None if tracer is None else f"setup{rep}")
            return (corpus, client), build_s

        with tracing.installed(tracer):
            (corpus, client), setups, builds = common.repeated_setup(build_once)
        # release what the earlier repetitions' servers persisted
        for srv in servers[:-1]:
            srv.corpus.cache.clear()
            srv.shutdown()
            srv.server_close()
        del servers[:-1]
        out = common.setup_metrics(setups, builds, N_TURNS, corpus.index_dir, src)

        # warm-up on the measured index, then each window starts from an
        # empty cache
        measure(client, warm_pool, WARMUP_S)
        log("warm-up done")
        client.clear_cache()
        before = corpus.cache_info()
        windows = {"window": measure(client, pool, seconds)}
        after = corpus.cache_info()
        if tracer is not None:
            client.clear_cache()
            tracer.counters.clear()
            with tracing.installed(tracer):
                windows["traced_window"] = measure(client, pool, seconds, tracer)
        out["peak_rss_mb"] = common.peak_rss_mb(spark)
        out["results.context_plan"] = float(corpus.fi is not None)
        win = windows["window"]
        hits = after["hits"] - before["hits"]
        lookups = hits + after["misses"] - before["misses"]
        out["cache_hit_ratio"] = hits / lookups if lookups else 0.0
        log(f"cache_hit_ratio: {hits} hits / {lookups} lookups")
        out.update(win.metrics())
        for op, family in (("hits", None), ("docs", "docs"), ("termfreq", "termfreq"),
                           ("doc-info", "doc-info"), ("docs-contents", "contents")):
            kinds = [r for r in win.records if r.ok and (
                r.request[1] == "hits" if family is None else r.kind == family)]
            out[f"bls.{op}.p50_s"] = median(r.latency for r in kinds)

        log("measured")
        oracle = Oracle([src])
        try:
            errors = check_counts(oracle, [r for w in windows.values() for r in w.records], seed)
        finally:
            oracle.close()
        return {"metrics": out, "windows": windows, "errors": errors}
    finally:
        for srv in servers:
            srv.shutdown()
            srv.server_close()
        rd.close()

