"""search_batch: BM25 queries in batches of 100 through
``wand.search_index`` with default arguments, collected with ``.toPandas()``.

The index is built during set-up. Each Spark task opens its segment
readers cold, so the WAND scorer, codec decode, segment open and Spark's
per-job and per-task cost dominate; the warm pool and the result cache are
never used, so a serving or caching gain predicts no change here.

A traced run (--trace 1) also runs serve_mixed's closed loop after its own
passes and checks, for the serving layers (spec.json "passes"): serving
is not a workload of its own, so that each run of the two workloads can
measure more operations within the time limit on all runs together.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench.common import (
    CORES, CORPUS_DOCS, SETUP_REPEATS, Result, Run, build, corpus_df,
    dir_bytes, index_segments, ledger_entry, median, operations, pc, rmtree,
    start, utf8_bytes)
from perfbench.stats import summarize

INDEX_SEGMENTS = 4
BATCH = 100
BATCH_NOMINAL_S = 1.0  # one batch on the reference host
MIN_BATCHES = 10
WARM_BATCHES = 1
WARM_DOCS = 200
PROBES = 3  # traced batches that get in-process replays
WAND_COUNTERS = ("segments_visited", "segments_bloom_skipped",
                 "segments_skipped_ub", "blocks_total", "blocks_gen",
                 "candidates", "postings_scored")


def setup_index(r: Run, df, name: str) -> tuple[str, list[float]]:
    """Build the set-up index SETUP_REPEATS times; keep the last one."""
    times = []
    for i in range(SETUP_REPEATS):
        d = r.path(f"{name}-{i}")
        t0 = pc()
        build(r.spark, df, d, INDEX_SEGMENTS)
        times.append(pc() - t0)
        if i < SETUP_REPEATS - 1:
            rmtree(d)
    return d, times


def oracle_mismatches(oracle, queries: pd.DataFrame,
                      results: pd.DataFrame) -> int:
    """Queries whose docids or float64 scores differ from the oracle's
    (rank-identical, atol 0)."""
    bad = 0
    by_qid = {int(q): g.sort_values("rank") for q, g in results.groupby("qid")}
    for q in queries.itertuples():
        want = oracle.topk(list(q.terms), int(q.k))
        got = by_qid.get(int(q.qid))
        if got is None:
            bad += len(want) > 0
            continue
        if not (np.array_equal(got["docid"].to_numpy(np.int64),
                               want["docid"].to_numpy(np.int64))
                and np.array_equal(got["score"].to_numpy(np.float64),
                                   want["score"].to_numpy(np.float64))):
            bad += 1
    return bad


def run(r: Run) -> Result:
    from jvector_spark.corpus import generate_corpus, generate_queries
    from jvector_spark.oracle import BM25Oracle

    res = Result()
    corpus = generate_corpus(CORPUS_DOCS, seed=r.seed)
    content_bytes = utf8_bytes(corpus["content"])
    n = operations(r.seconds, BATCH_NOMINAL_S, MIN_BATCHES)
    queries = generate_queries(corpus, n_queries=(n + WARM_BATCHES) * BATCH,
                               seed=r.seed)
    # distinct queries per batch and no query twice in a pass
    batches = [queries.iloc[i * BATCH:(i + 1) * BATCH] for i in range(n)]
    start(r)
    r.mark("warmup")
    # a small index built and searched before anything is timed: JIT,
    # python workers, imports of the build and search paths
    warm_dir = r.path("search-warm")
    build(r.spark, corpus_df(r.spark, corpus.head(WARM_DOCS)), warm_dir,
          INDEX_SEGMENTS)
    run_batch(r, warm_dir, queries.iloc[n * BATCH:(n + 1) * BATCH])
    rmtree(warm_dir)
    r.mark("setup")
    df = corpus_df(r.spark, corpus)
    index_dir, setup = setup_index(r, df, "search-index")
    r.mark("warmup")
    for i in range(n, n + WARM_BATCHES):  # the first jobs on this index
        run_batch(r, index_dir, queries.iloc[i * BATCH:(i + 1) * BATCH])
    r.mark("measure")

    sent = _pass(r, index_dir, batches, res)
    ok = [b for b in sent if b["result"] is not None]
    if not ok:
        raise RuntimeError("every search batch failed")
    lat = [b["latency"] for b in ok]
    res.metrics = {
        "setup_s": median(setup),
        "throughput_per_s": BATCH * len(ok) / sum(lat),
        "p50_ms": 1000.0 * median(lat),
    }
    res.detail = {"search_qps": res.metrics["throughput_per_s"],
                  "search_batch_p50_s": median(lat),
                  "search_batch_ms": summarize([1000.0 * x for x in lat]),
                  "batch_ms_samples": [round(1000.0 * x, 1) for x in lat],
                  "setup_s_samples": setup,
                  "index_bytes_per_content_byte":
                      dir_bytes(index_dir) / content_bytes}
    res.inputs = {"corpus_docs": CORPUS_DOCS, "corpus_bytes": content_bytes,
                  "index_segments": INDEX_SEGMENTS, "batch": BATCH,
                  "batches": n, "queries_sent": n * BATCH, "cores": CORES}
    if r.trace:
        # the same batches again, from the same state, with spans on
        r.mark("traced")
        traced = _pass(r, index_dir, batches, res, traced=True)
        sent += traced
        _ledger(r, index_dir, traced, median(lat), res)

    # correctness, after every timed section
    r.measured()
    oracle = BM25Oracle(corpus)
    for b in sent:
        if b["result"] is not None:
            bad = oracle_mismatches(oracle, b["queries"], b["result"])
            if bad:
                res.fail("oracle_mismatch", bad)
    if r.trace:
        # the serving layers ride on the traced run: serve_mixed's closed
        # loop, on this run's warm Spark session and the same seed
        from perfbench import serve_mixed

        r.prefix = "serve."
        try:
            _add_serve_pass(res, serve_mixed.run(r))
        finally:
            r.prefix = ""
    return res


def _add_serve_pass(res: Result, srv: Result) -> None:
    """Fold a serve_mixed pass into this run: its requests and failures,
    its ledger, its serve.* layer metrics and its figures."""
    res.attempted += srv.attempted
    for check, n in srv.checks.items():
        res.fail(f"serve:{check}", n)
    res.ledger.update(srv.ledger)
    res.layers.update({k: v for k, v in srv.layers.items()
                       if k.startswith("serve.")})
    res.detail["serve_pass"] = {
        **srv.detail, "inputs": srv.inputs, "setup_s": srv.metrics["setup_s"],
        "serve_search_executed_p50_ms": srv.metrics["p50_ms"]}
    res.spans.absorb(srv.spans)


def run_batch(r: Run, index_dir: str, queries: pd.DataFrame):
    from jvector_spark.operators.wand import search_index

    return search_index(r.spark, index_dir, queries).toPandas()


def _pass(r: Run, index_dir: str, batches: list, res: Result,
          traced: bool = False) -> list[dict]:
    """Send each batch in turn, one outstanding at a time (a closed loop)."""
    from jvector_spark.operators.wand import (
        make_metrics_accumulator, search_index)

    out = []
    tr = _install() if traced else None
    try:
        for q in batches:
            acc = make_metrics_accumulator(r.spark) if traced else None
            b = {"queries": q, "result": None, "acc": acc}
            res.attempted += len(q)
            root = tr.begin("search.batch") if tr else None
            t0 = pc()
            try:
                if tr:
                    with tr.span("wand.search_index"):
                        lazy = search_index(r.spark, index_dir, q,
                                            metrics_acc=acc)
                    b["partial"] = tr.partials.pop()
                    t1 = pc()
                    with tr.span("spark.collect"):
                        b["result"] = lazy.toPandas()
                    b["collect_s"] = pc() - t1
                else:
                    b["result"] = run_batch(r, index_dir, q)
                b["latency"] = pc() - t0
            except Exception as e:  # noqa: BLE001 - a failed batch is counted
                res.fail(f"exception:{type(e).__name__}", len(q))
            finally:
                if tr:
                    tr.end(root)
            out.append(b)
    finally:
        if tr:
            tr.unwrap_all()
            res.spans = tr
    return out


def _install():
    import jvector_spark.operators.wand as wand
    import jvector_spark.plans.merge as merge_mod
    from perfbench.trace import Tracer

    tr = Tracer()
    tr.partials = []  # the scatter DataFrame search_index hands to merge_topk
    merge_topk = wand.merge_topk

    def keep_partial(partial, *a, **kw):
        tr.partials.append(partial)
        return merge_topk(partial, *a, **kw)

    tr.patch(wand, "merge_topk", keep_partial)
    tr.wrap(wand, "load_manifest", "segment.load_manifest")
    tr.wrap(wand, "global_term_stats", "wand.global_term_stats")
    tr.wrap(merge_mod, "tombstone_view", "merge.tombstone_view")
    tr.wrap(wand, "scatter_paths", "wand.scatter_paths")
    return tr


def _slices(paths: list[str], n: int) -> list[list[str]]:
    """Segment paths per task, as ``parallelize(numSlices=n)`` cuts them."""
    L = len(paths)
    return [paths[i * L // n:(i + 1) * L // n] for i in range(n)]


def _ledger(r: Run, index_dir: str, traced: list, untraced_p50: float,
            res: Result) -> None:
    """Split the traced batch time into layers. Spans give the driver-side
    planning inside the real call. For the Spark job, replays of the same
    batch give its fixed framework cost (an empty scatter with the same
    task count), its scatter stage alone (the batch's own partial
    DataFrame, collected unmerged; the rest of the job is the merge) and
    the task-side scorer (search_partition in-process per task)."""
    from jvector_spark.operators.wand import (
        global_term_stats, idf_map, read_metrics, scatter_paths,
        search_partition)
    from jvector_spark.plans.merge import tombstone_view
    from jvector_spark.sources.segment import SegmentReader, load_manifest
    from perfbench.trace import by_name

    def noop(batches):  # nested: pickled by value for the workers
        for _ in batches:
            pass
        yield from ()

    tr = res.spans
    ok = [(b, b["partial"]) for b in traced if b["result"] is not None]
    agg = by_name(tr.spans)
    n = len(ok)

    def self_s(name):
        return agg.get(name, {}).get("self_s", 0.0) / n

    paths = index_segments(index_dir)
    n_tasks = min(len(paths), int(r.spark.conf.get(
        "spark.sql.shuffle.partitions")))
    man = load_manifest(index_dir)
    tomb = tombstone_view(index_dir, epoch=man.get("docid_epoch", 0))
    empty, scatter, merges, crit, score_sum, opens = [], [], [], [], [], []
    for b, partial in ok[:PROBES]:
        q = b["queries"][["qid", "terms", "k"]]
        t0 = pc()
        scatter_paths(r.spark, paths, None).mapInPandas(
            noop, "qid long, docid long, score double").collect()
        empty.append(pc() - t0)
        t0 = pc()
        partial.toPandas()
        scatter.append(pc() - t0)
        merges.append(b["collect_s"] - scatter[-1])
        terms = sorted({t for ts in q["terms"] for t in ts})
        idfs = idf_map(man["n_docs"],
                       global_term_stats(r.spark, index_dir, terms))
        per_task, t_open = [], 0.0
        for sl in _slices(paths, n_tasks):
            t0 = pc()
            for p in sl:
                SegmentReader(p)
            t_open += pc() - t0
            t0 = pc()
            search_partition(sl, q, idfs, man["avgdl"], tomb)
            per_task.append(pc() - t0)
        crit.append(max(per_task))
        score_sum.append(sum(per_task))
        opens.append(t_open)
    counters: dict = {}
    results = 0
    for b, _p in ok:
        for c in read_metrics(b["acc"]).values():
            for k, v in c.items():
                counters[k] = counters.get(k, 0) + v
        results += len(b["result"])
    n_q = sum(len(b["queries"]) for b, _p in ok)
    total = float(np.mean([b["latency"] for b, _p in ok]))
    plan = (self_s("segment.load_manifest") + self_s("wand.global_term_stats")
            + self_s("merge.tombstone_view"))
    collect = self_s("spark.collect")
    job = {"wand.empty_scatter_s": median(empty),
           "wand.score_critical_path_s": median(crit),
           "wand.merge_s": median(merges)}
    parts = {
        "wand.plan_s": plan,
        "wand.scatter_paths_s": self_s("wand.scatter_paths"),
        "wand.search_index_self_s": self_s("wand.search_index"),
        **job,
        "search.job_other_s": collect - sum(job.values()),
        "search.other_s": self_s("search.batch"),
    }
    res.ledger = {"search.batch_s": ledger_entry(total, parts)}
    per_q = {k: v / n_q for k, v in counters.items()}
    res.layers = {
        "wand.plan_s": plan,
        "wand.empty_scatter_s": job["wand.empty_scatter_s"],
        "wand.tasks_per_batch": n_tasks,
        "wand.score_inproc_s": median(score_sum),
        "wand.score_critical_path_s": job["wand.score_critical_path_s"],
        "segment.reader_open_s": median(opens),
        "wand.merge_s": job["wand.merge_s"],
        **{f"wand.{k}": per_q.get(k, 0.0) for k in WAND_COUNTERS},
        "wand.blocks_decoded_ratio":
            counters.get("blocks_gen", 0) / max(1, counters.get("blocks_total", 0)),
        "wand.candidates_per_result":
            counters.get("candidates", 0) / max(1, results),
        "search.job_other_s": parts["search.job_other_s"],
        "search.other_s": parts["search.other_s"],
        "trace.overhead_s": median([b["latency"] for b, _p in ok]) - untraced_p50,
    }
