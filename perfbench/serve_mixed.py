"""serve_mixed: one client drives ``serve.serve_loop`` over an
``IndexServer`` in a closed loop with no think time. Traced search_batch
runs call ``run`` after their own passes for the serving layers; it is not
a workload of BENCHMARK.json.

Per write cycle of WRITE_EVERY requests: one ``write`` of WRITE_DOCS new
documents, and otherwise single-query ``search`` calls (Zipf-skewed over a
fixed pool, so some repeat and hit the result cache) or, with probability
P_KNN, a ``knn`` call against a clustered vector set served by the graph
tier. A run sends a fixed number of whole cycles, so every run holds the
same read/write mix. No Spark job runs on the search path; writes run one.

Query popularity is an assumption, not taken from a query log: the pool's
Zipf exponent is the corpus generator's own term-frequency exponent
(corpus.ZIPF_S, 1.1), and the pool holds QUERY_POOL distinct queries. With
about 179 searches per cycle and the result cache cleared by every write,
that makes about half of all searches cache hits.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.common import (
    CORES, CORPUS_DOCS, SETUP_REPEATS, Result, Run, build, corpus_df,
    ledger_entry, median, operations, pc, rmtree, segment_stats, start,
    utf8_bytes)
from perfbench.loop import ClosedLoopClient
from perfbench.search_batch import WAND_COUNTERS
from perfbench.stats import summarize

INDEX_SEGMENTS = 4
QUERY_POOL = 1000
WARM_QUERIES = 50
P_KNN = 0.10
WRITE_EVERY = 200
WRITE_DOCS = 100
CYCLE_NOMINAL_S = 2.8  # one write cycle on the reference host
MIN_CYCLES = 3
VECTORS = 5000
DIM = 64
VEC_TRUE_CLUSTERS = 32
KNN_POOL = 500
KNN = {"k": 10, "nprobe": 4, "ef": 64}
IVF_CLUSTERS = 16
GRAPH_R = 16
SAMPLE_P = 0.15  # share of one generation's search replies checked
RARE = re.compile(r"rare_\d+_\d+")


def make_vectors(seed: int, path: str) -> tuple[np.ndarray, np.ndarray]:
    """Seeded clustered vectors (written as the pool's parquet input) and
    the knn request vectors drawn near them."""
    rng = np.random.default_rng(seed + 101)
    centers = rng.normal(size=(VEC_TRUE_CLUSTERS, DIM))
    labels = rng.integers(0, VEC_TRUE_CLUSTERS, VECTORS)
    mat = (centers[labels] + 0.35 * rng.normal(size=(VECTORS, DIM))).astype(np.float32)
    pd.DataFrame({"vec_id": np.arange(VECTORS, dtype=np.int64),
                  "embedding": list(mat)}).to_parquet(path)
    pick = rng.integers(0, VECTORS, KNN_POOL)
    queries = mat[pick].astype(np.float64) + 0.2 * rng.normal(size=(KNN_POOL, DIM))
    return mat.astype(np.float64), np.round(queries, 5)


def write_docs(gen: int, seed: int, vocab, probs) -> list[dict]:
    """WRITE_DOCS new documents for write number `gen`: corpus-like content
    with a unique rare_* token each, under keys that sort after every
    corpus key (so the oracle's key-order docids match the append order)."""
    from jvector_spark.corpus import generate_doc

    out = []
    for j in range(WRITE_DOCS):
        i = CORPUS_DOCS + gen * WRITE_DOCS + j
        _repo, _path, commit, lang, content = generate_doc(i, vocab, probs, seed)
        out.append({"repo": "zz/writes", "path": f"g{gen:05d}/d{j:03d}",
                    "commit": commit, "lang": lang, "content": content})
    return out


class Mix:
    """The seeded request sequence: request i of the run."""

    def __init__(self, seed: int, pool: pd.DataFrame, knn_q: np.ndarray,
                 vocab, probs) -> None:
        from jvector_spark.corpus import ZIPF_S

        self.rng = np.random.default_rng(seed + 202)
        w = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_S
        self.zipf = w / w.sum()
        self.pool = [(list(t), int(k)) for t, k in zip(pool["terms"], pool["k"])]
        self.knn_q = knn_q
        self.seed, self.vocab, self.probs = seed, vocab, probs
        self.writes: list[list[dict]] = []
        # P_KNN of all requests, drawn among the non-write ones
        self.p_knn = P_KNN * WRITE_EVERY / (WRITE_EVERY - 1)

    def request(self, i: int) -> dict:
        if i % WRITE_EVERY == WRITE_EVERY - 1:
            docs = write_docs(len(self.writes), self.seed, self.vocab, self.probs)
            self.writes.append(docs)
            return {"op": "write", "docs": docs}
        if self.rng.random() < self.p_knn:
            v = self.knn_q[self.rng.integers(0, len(self.knn_q))]
            return {"op": "knn", "queries": [v.tolist()], **KNN}
        terms, k = self.pool[self.rng.choice(len(self.pool), p=self.zipf)]
        return {"op": "search", "queries": [{"qid": 0, "terms": terms, "k": k}]}


def _open_server(r: Run, index_dir: str, vec_path: str,
                 warm: pd.DataFrame, knn_q: np.ndarray):
    """Open the server with its vector graph tier and warm its pool with
    searches drawn from another seed and a few knn calls."""
    from jvector_spark.serve import IndexServer, serve_loop

    srv = IndexServer(r.spark, index_dir, vectors=vec_path,
                      vector_clusters=IVF_CLUSTERS, vector_graph_R=GRAPH_R)
    reqs = [{"op": "search", "queries": [{"qid": 0, "terms": list(t), "k": int(k)}]}
            for t, k in zip(warm["terms"], warm["k"])]
    reqs += [{"op": "knn", "queries": [v.tolist()], **KNN} for v in knn_q[::25]]
    client = ClosedLoopClient(lambda i: reqs[i] if i < len(reqs) else None)
    serve_loop(srv, client, client)
    return srv


def _warm_write_path(r: Run, corpus, vocab, probs) -> None:
    """One write into a small throwaway index: the first append in a JVM
    plans and compiles its Spark jobs, which would otherwise land on the
    first timed write."""
    from jvector_spark.serve import IndexServer

    d = r.path("write-warmup-index")
    build(r.spark, corpus_df(r.spark, corpus.head(WRITE_DOCS)), d, 1)
    IndexServer(r.spark, d).write(write_docs(0, r.seed, vocab, probs))
    rmtree(d)


@dataclass
class Pass:
    """One closed-loop pass: its server, request sequence and exchanges,
    and which requests the result cache answered."""

    srv: object
    mix: Mix
    index_dir: str
    client: ClosedLoopClient = None
    cache_hit: set = field(default_factory=set)
    hits: int = 0
    executions: int = 0


def run(r: Run) -> Result:
    from jvector_spark.corpus import (
        VOCAB_SIZE, ZIPF_S as CORPUS_ZIPF, _vocab, _zipf_probs, generate_corpus,
        generate_queries)

    res = Result()
    corpus = generate_corpus(CORPUS_DOCS, seed=r.seed)
    content_bytes = utf8_bytes(corpus["content"])
    pool = generate_queries(corpus, n_queries=QUERY_POOL, seed=r.seed)
    warm = generate_queries(corpus, n_queries=WARM_QUERIES, seed=r.seed + 1)
    vocab = _vocab(np.random.default_rng(r.seed))
    probs = _zipf_probs(VOCAB_SIZE, CORPUS_ZIPF)
    vec_path = r.path("vectors.parquet")
    mat, knn_q = make_vectors(r.seed, vec_path)
    cycles = operations(r.seconds, CYCLE_NOMINAL_S, MIN_CYCLES)
    start(r)
    r.mark("index_build")
    # a traced run replays the same requests on a second copy of the
    # set-up index, so both passes start from the same state
    dirs = [r.path("serve-index")] + ([r.path("serve-index-t")] if r.trace else [])
    for d in dirs:
        build(r.spark, corpus_df(r.spark, corpus), d, INDEX_SEGMENTS)
    r.mark("write_warmup")
    _warm_write_path(r, corpus, vocab, probs)
    r.mark("setup")

    setup = []
    for _ in range(SETUP_REPEATS):
        t0 = pc()
        srv = _open_server(r, dirs[0], vec_path, warm, knn_q)
        setup.append(pc() - t0)
    seg0 = len(srv.manifest["segments"])

    def new_pass(srv, d):
        return Pass(srv, Mix(r.seed, pool, knn_q, vocab, probs), d)

    r.mark("measure")
    passes = [_drive(new_pass(srv, dirs[0]), cycles)]
    if r.trace:
        r.mark("traced")
        traced = new_pass(_open_server(r, dirs[1], vec_path, warm, knn_q), dirs[1])
        tracer, hooks = _install(traced.srv)
        try:
            passes.append(_drive(traced, cycles, tracer))
        finally:
            tracer.unwrap_all()
        res.spans = tracer
    exchanges = [e for p in passes for e in p.client.exchanges]
    res.attempted = sum(p.client.attempted() for p in passes)
    if sum(p.client.failed() for p in passes):
        res.fail("reply_not_ok", sum(p.client.failed() for p in passes))

    first = passes[0]
    measured = first.client.exchanges
    lat = {op: [1000.0 * e.latency for e in measured if e.op == op and e.ok]
           for op in ("search", "knn", "write")}
    searches = [e for e in measured if e.op == "search" and e.ok]
    executed = [1000.0 * e.latency for e in searches
                if e.i not in first.cache_hit]
    cached = [1000.0 * e.latency for e in searches if e.i in first.cache_hit]
    server_s = sum(e.latency for e in measured)
    res.metrics = {
        "setup_s": median(setup),
        "throughput_per_s": len(measured) / server_s,
        # searches the scorer answered: the cache-hit share moves the
        # median of all searches between two modes, so it is gated through
        # throughput instead
        "p50_ms": median(executed),
    }
    res.detail = {
        "serve_rps": res.metrics["throughput_per_s"],
        "serve_search_p50_ms": median(lat["search"]),
        "serve_search_ms": summarize(lat["search"]),
        "serve_search_executed_ms": summarize(executed),
        "serve_search_cached_ms": summarize(cached),
        "serve_knn_p50_ms": median(lat["knn"]),
        "serve_knn_ms": summarize(lat["knn"]),
        "serve_write_p50_ms": median(lat["write"]),
        "serve_write_ms": summarize(lat["write"]),
        "result_cache_hit_ratio":
            first.hits / max(1, first.hits + first.executions),
        "n_segments_start": seg0,
        "n_segments_end": len(first.srv.manifest["segments"]),
        "setup_s_samples": setup,
    }
    res.inputs = {
        "corpus_docs": CORPUS_DOCS, "corpus_bytes": content_bytes,
        "index_segments": INDEX_SEGMENTS, "query_pool": QUERY_POOL,
        "query_zipf_s": CORPUS_ZIPF, "vectors": VECTORS, "dim": DIM,
        "cycles": cycles, "requests": len(measured),
        "requests_by_op": {op: sum(e.op == op for e in measured)
                           for op in ("search", "knn", "write")},
        "written_docs": WRITE_DOCS * len(first.mix.writes), "cores": CORES}

    # correctness, after the timed loop
    r.measured()
    _check_knn([e for e in exchanges if e.op == "knn" and e.ok], mat,
               vec_path, res)
    for p in passes:
        _check_search_sample(r, corpus, p.client.exchanges, p.mix, res)
        _check_restart(r, p.index_dir, p.client.exchanges, res)
    if r.trace:
        _ledger(tracer, hooks, passes[1], res, server_s / len(measured))
    return res


def _drive(p: Pass, cycles: int, tracer=None) -> Pass:
    """Closed loop over `cycles` whole write cycles of p.mix's requests."""
    from jvector_spark.serve import serve_loop

    total = cycles * WRITE_EVERY
    srv = p.srv
    hits_before: dict = {}
    open_spans: dict = {}

    def next_request(i: int):
        return p.mix.request(i) if i < total else None

    def on_send(ex):
        hits_before[ex.i] = srv.cache_hits
        if tracer is not None:
            open_spans[ex.i] = tracer.begin("serve.request")

    def on_reply(ex):
        if srv.cache_hits > hits_before.pop(ex.i):
            p.cache_hit.add(ex.i)
        if tracer is not None:
            idx = open_spans.pop(ex.i)
            tracer.end(idx)
            # the request span is exactly the client-measured latency
            tracer.spans[idx].start, tracer.spans[idx].end = ex.sent, ex.recv

    h0, e0 = srv.cache_hits, srv.search_executions
    p.client = ClosedLoopClient(next_request, on_send=on_send, on_reply=on_reply)
    serve_loop(srv, p.client, p.client)
    p.hits, p.executions = srv.cache_hits - h0, srv.search_executions - e0
    return p


class _TimedJson:
    """The json module as serve_loop sees it, with its request parse and
    reply serialisation timed as spans."""

    def __init__(self, tracer) -> None:
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(json, name)

    def loads(self, *a, **kw):
        with self._tracer.span("serve.parse"):
            return json.loads(*a, **kw)

    def dumps(self, *a, **kw):
        with self._tracer.span("serve.serialize"):
            return json.dumps(*a, **kw)


def _install(srv):
    """Wrap the server's methods and the engine functions it calls."""
    import jvector_spark.operators.wand as wand
    import jvector_spark.plans.merge as merge_mod
    import jvector_spark.serve as serve_mod
    import jvector_spark.streaming.micro_segments as micro
    from perfbench.trace import Tracer

    tr = Tracer()
    hooks: dict = {"counters": {}, "evals": []}
    search_partition = serve_mod.search_partition

    def counted(*a, **kw):  # the accumulator's per-query work counters
        kw["metrics"] = m = {}
        out = search_partition(*a, **kw)
        c = hooks["counters"]
        for per_q in m.values():
            for k, v in per_q.items():
                c[k] = c.get(k, 0) + v
        c["results"] = c.get("results", 0) + len(out)
        return out

    tr.patch(serve_mod, "json", _TimedJson(tr))
    tr.patch(serve_mod, "search_partition", counted)
    tr.wrap(serve_mod, "search_partition", "wand.search_partition")
    tr.wrap(serve_mod, "global_term_stats", "wand.global_term_stats")
    tr.wrap(merge_mod, "tombstone_view", "merge.tombstone_view")
    tr.wrap(wand, "SegmentReader", "segment.reader_open")
    tr.wrap(micro, "append_micro_segment", "serve.append_micro_segment")
    for m in ("search", "knn", "write", "_refresh_unconditionally"):
        tr.wrap(srv, m, f"serve.server.{m}")
    knn = srv.vectors.knn

    def knn_evals(*a, **kw):
        out = knn(*a, **kw)
        hooks["evals"].append(srv.vectors.last_graph_evals)
        return out

    tr.patch(srv.vectors, "knn", knn_evals)
    tr.wrap(srv.vectors, "knn", "vector.knn")
    return tr, hooks


def _check_knn(exs, mat: np.ndarray, vec_path: str, res: Result) -> None:
    """Every knn reply: k rows, (score desc, id asc) order, each score the
    exact rounded cosine of its id. recall@10 against an exact VectorPool."""
    from jvector_spark.serve import VectorPool

    if not exs:
        res.detail["knn_recall_at_10"] = None
        return
    norms = np.sqrt((mat * mat).sum(axis=1))
    q = np.array([e.request["queries"][0] for e in exs])
    exact = VectorPool(vec_path).knn(q, KNN["k"])
    hits = 0
    for qi, e in enumerate(exs):
        rows = e.reply["results"]
        ids = np.array([x["vec_id"] for x in rows], dtype=np.int64)
        sc = np.array([x["score"] for x in rows])
        want = np.round(mat[ids] @ q[qi] / (norms[ids] * np.linalg.norm(q[qi])), 6)
        ordered = all((sc[j], -ids[j]) >= (sc[j + 1], -ids[j + 1])
                      for j in range(len(ids) - 1))
        if len(ids) != KNN["k"] or not ordered or not np.array_equal(sc, want):
            res.fail("knn_reply")
        truth = set(exact.loc[exact["qid"] == qi, "vec_id"])
        hits += len(truth & set(ids.tolist()))
    res.detail["knn_recall_at_10"] = hits / (KNN["k"] * len(exs))


def _generation_of(exchanges) -> list[int]:
    """Writes acknowledged before each exchange (its index generation)."""
    gens, g = [], 0
    for e in exchanges:
        gens.append(g)
        if e.op == "write" and e.ok:
            g += 1
    return gens


def _check_search_sample(r: Run, corpus, exchanges, mix: Mix,
                         res: Result) -> None:
    """A seeded sample of the search replies of one seeded index generation
    must be rank-identical to the oracle over that generation's corpus."""
    from jvector_spark.oracle import BM25Oracle

    rng = np.random.default_rng(r.seed + 303)
    by_gen: dict[int, list] = {}
    for e, g in zip(exchanges, _generation_of(exchanges)):
        if e.op == "search" and e.ok:
            by_gen.setdefault(g, []).append(e)
    if not by_gen:
        return
    g = int(rng.choice(sorted(by_gen)))
    sample = [e for e in by_gen[g] if rng.random() < SAMPLE_P]
    live = pd.concat([corpus, pd.DataFrame([d for w in mix.writes[:g] for d in w])],
                     ignore_index=True)
    oracle = BM25Oracle(live)
    for e in sample:
        q = e.request["queries"][0]
        want = oracle.topk(q["terms"], q["k"])
        rows = e.reply["results"]
        got_d = np.array([x["docid"] for x in rows], dtype=np.int64)
        got_s = np.array([x["score"] for x in rows], dtype=np.float64)
        if not (np.array_equal(got_d, want["docid"].to_numpy(np.int64))
                and np.array_equal(got_s, want["score"].to_numpy(np.float64))):
            res.fail("search_oracle_mismatch")
    res.detail["search_oracle_generation"] = g
    res.detail["search_replies_oracle_checked"] = len(sample)


def _check_restart(r: Run, index_dir: str, exchanges, res: Result) -> None:
    """A fresh IndexServer on the same directory finds every acknowledged
    write's documents by their unique rare_* tokens (same OS cache: this
    checks manifest-commit visibility, not device durability)."""
    from jvector_spark.serve import IndexServer

    acked = [e for e in exchanges if e.op == "write" and e.ok]
    if not acked:
        return
    fresh = IndexServer(r.spark, index_dir)
    base = CORPUS_DOCS
    rows = []
    for w, e in enumerate(acked):
        for j, d in enumerate(e.request["docs"]):
            rows.append((len(rows), [RARE.search(d["content"]).group(0)], 1,
                         w, base + w * WRITE_DOCS + j))
    q = pd.DataFrame([x[:3] for x in rows], columns=["qid", "terms", "k"])
    found = fresh.search(q)
    top = dict(zip(found["qid"], found["docid"]))
    lost = {w for qid, _t, _k, w, want in rows if top.get(qid) != want}
    for _ in lost:
        res.fail("write_lost_after_restart")
    res.detail["restart_docs_checked"] = len(rows)


def _ledger(tr, hooks, p: Pass, res: Result, untraced_mean: float) -> None:
    """Split the traced pass's request time into layers by span self time;
    micro-segment build stages come from the segments' meta.json."""
    from jvector_spark.sources.segment import load_manifest
    from perfbench.trace import by_name

    agg = by_name(tr.spans)
    exs = p.client.exchanges
    n = len(exs)
    total = sum(e.latency for e in exs)

    def self_s(name):
        return agg.get(name, {}).get("self_s", 0.0)

    def total_s(name):
        return agg.get(name, {}).get("total_s", 0.0)

    names = {
        "serve.parse_s": "serve.parse",
        "serve.serialize_s": "serve.serialize",
        "serve.search_self_s": "serve.server.search",
        "wand.score_inproc_s": "wand.search_partition",
        "segment.reader_open_s": "segment.reader_open",
        "wand.global_term_stats_s": "wand.global_term_stats",
        "merge.tombstone_view_s": "merge.tombstone_view",
        "serve.knn_self_s": "serve.server.knn",
        "vector.knn_s": "vector.knn",
        "serve.append_s": "serve.append_micro_segment",
        "serve.refresh_s": "serve.server._refresh_unconditionally",
        "serve.write_self_s": "serve.server.write",
        # serve_loop outside every span above: building the query frame,
        # converting result rows, dispatch
        "serve.other_s": "serve.request",
    }
    parts = {k: self_s(v) for k, v in names.items()}
    res.ledger = {"serve.requests_s": ledger_entry(total, parts)}

    c = hooks["counters"]
    execs = max(1, agg.get("wand.search_partition", {}).get("count", 0))
    writes = max(1, agg.get("serve.server.write", {}).get("count", 0))
    res.layers = {
        "serve.protocol_s":
            (parts["serve.parse_s"] + parts["serve.serialize_s"]) / n,
        "serve.result_cache_hit_ratio": p.hits / max(1, p.hits + p.executions),
        "serve.append_s": total_s("serve.append_micro_segment") / writes,
        "serve.refresh_s": total_s("serve.server._refresh_unconditionally") / writes,
        "serve.n_segments_end": len(p.srv.manifest["segments"]),
        "serve.vector_evals_per_knn":
            float(np.mean(hooks["evals"])) if hooks["evals"] else 0.0,
        "wand.plan_s": (total_s("wand.global_term_stats")
                        + total_s("merge.tombstone_view")) / execs,
        "wand.score_inproc_s": total_s("wand.search_partition") / execs,
        "segment.reader_open_s": total_s("segment.reader_open") / execs,
        **{f"wand.{k}": c.get(k, 0) / execs for k in WAND_COUNTERS},
        "wand.blocks_decoded_ratio":
            c.get("blocks_gen", 0) / max(1, c.get("blocks_total", 0)),
        "wand.candidates_per_result":
            c.get("candidates", 0) / max(1, c.get("results", 0)),
        "serve.other_s": parts["serve.other_s"] / n,
        "trace.overhead_s": total / n - untraced_mean,
    }
    # every write so far appended one micro-segment above the corpus range
    micro = [s["path"] for s in load_manifest(p.index_dir)["segments"]
             if s["min_docid"] >= CORPUS_DOCS]
    if micro:
        st = segment_stats(micro)
        k = len(micro)
        res.layers.update({
            "tokenizer.tokenize_task_s": st["tokenize_sec"] / k,
            "segment.chunk_agg_task_s": st["chunk_agg_sec"] / k,
            "segment.final_sort_task_s": st["final_sort_sec"] / k,
            "codec.encode_task_s": st["encode_sec"] / k,
            "segment.write_task_s": st["write_sec"] / k,
            "tokenizer.tokens": st["sum_dl"] / k,
            "segment.n_postings": st["n_postings"] / k,
            "codec.bytes_per_posting":
                st["bytes_postings"] / max(1, st["n_postings"]),
        })
