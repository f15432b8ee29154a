import json

import numpy as np
import pandas as pd

from jvector_spark.corpus import VOCAB_SIZE, ZIPF_S, _vocab, _zipf_probs, generate_corpus
from perfbench.common import CORPUS_DOCS
from perfbench.serve_mixed import (
    KNN, P_KNN, WRITE_DOCS, WRITE_EVERY, Mix, Pass, _drive, _TimedJson)


def make_mix(seed=3):
    pool = pd.DataFrame({"qid": range(5), "terms": [["a"], ["b", "c"], ["d"], ["e"], ["f"]],
                         "k": [10, 100, 10, 10, 100]})
    knn_q = np.random.default_rng(0).normal(size=(7, 4))
    return Mix(seed, pool, knn_q, _vocab(np.random.default_rng(seed)),
               _zipf_probs(VOCAB_SIZE, ZIPF_S))


def test_request_mix_is_seeded_and_cycles_on_writes():
    a, b = make_mix(), make_mix()
    n = 4 * WRITE_EVERY
    ra = [a.request(i) for i in range(n)]
    rb = [b.request(i) for i in range(n)]
    assert ra == rb
    ops = [r["op"] for r in ra]
    assert [i for i, op in enumerate(ops) if op == "write"] == \
        [WRITE_EVERY - 1 + WRITE_EVERY * c for c in range(4)]
    knn = ops.count("knn") / n
    assert abs(knn - P_KNN) < 0.04
    assert all(r["k"] == KNN["k"] for r in ra if r["op"] == "knn")
    assert ops.count("search") == n - 4 - ops.count("knn")


def test_written_keys_sort_after_the_corpus_in_append_order():
    mix = make_mix()
    writes = [mix.request(i) for i in range(2 * WRITE_EVERY)
              if i % WRITE_EVERY == WRITE_EVERY - 1]
    docs = [d for w in writes for d in w["docs"]]
    assert len(docs) == 2 * WRITE_DOCS
    keys = [(d["repo"], d["path"], d["commit"]) for d in docs]
    assert keys == sorted(keys)
    corpus = generate_corpus(50, seed=3)
    assert max(zip(corpus["repo"], corpus["path"], corpus["commit"])) < keys[0]
    rare = [t for d in docs for t in d["content"].split() if t.startswith("rare_")]
    assert len(rare) == len(set(rare)) == len(docs)
    assert all(int(t.split("_")[1]) >= CORPUS_DOCS for t in rare)


class FakeServer:
    """Answers search from a result cache keyed by the query, as IndexServer
    counts it; writes clear the cache."""

    def __init__(self):
        self.cache_hits = self.search_executions = 0
        self.seen = set()

    def search(self, qpdf, **_kw):
        key = (tuple(qpdf["terms"][0]), int(qpdf["k"][0]))
        if key in self.seen:
            self.cache_hits += 1
        else:
            self.search_executions += 1
            self.seen.add(key)
        return pd.DataFrame({"qid": [0], "rank": [1], "docid": [7], "score": [1.0]})

    def knn(self, queries, **_kw):
        return pd.DataFrame({"qid": [0], "vec_id": [3], "score": [0.5]})

    def write(self, docs):
        self.seen.clear()
        return {"written": len(docs)}


def test_a_pass_sends_whole_cycles_and_marks_cache_hits():
    srv = FakeServer()
    p = _drive(Pass(srv, make_mix(), "unused"), cycles=2)
    exs = p.client.exchanges
    assert len(exs) == 2 * WRITE_EVERY and p.client.failed() == 0
    assert [e.op for e in exs].count("write") == 2
    assert p.hits == srv.cache_hits and p.executions == srv.search_executions
    assert len(p.cache_hit) == p.hits > 0
    assert all(exs[i].op == "search" for i in p.cache_hit)


def test_timed_json_times_parse_and_serialise_and_passes_the_rest():
    from perfbench.trace import Tracer, by_name

    tr = Tracer()
    j = _TimedJson(tr)
    assert j.loads(j.dumps({"a": 1})) == {"a": 1}
    assert j.JSONDecodeError is json.JSONDecodeError
    agg = by_name(tr.spans)
    assert agg["serve.parse"]["count"] == agg["serve.serialize"]["count"] == 1
