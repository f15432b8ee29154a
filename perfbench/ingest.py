"""ingest: assign_dense_docids -> build_index (16 segments) -> compact_index
(4 segments) at local[4], a fixed number of times per run. In a traced run
the same build runs once more at local[1] for the 1 -> 4 core scaling
efficiency.

No query code runs here, so a search optimisation predicts no change.
"""

from __future__ import annotations

import heapq

import numpy as np

from perfbench.common import (
    CORES, SETUP_REPEATS, STAGES, Result, Run, build, corpus_df, dir_bytes,
    ledger_entry, median, operations, pc, rmtree, segment_stats,
    start, start_spark, stop_spark, utf8_bytes)
from perfbench.stats import summarize

INGEST_DOCS = 1000
BUILD_SEGMENTS = 16
COMPACT_SEGMENTS = 4
# one pipeline takes about 7 s on the reference host, nearly all of it
# fixed Spark cost (500 docs: 6.6 s, 1500 docs: 8.2 s), so a smaller corpus
# buys no more pipelines per second; a run measures at least MIN_PIPELINES
# whatever --seconds is (a median of 3 outlasts one slow pipeline), which
# keeps an ingest run near 55 s of wall time
PIPELINE_NOMINAL_S = 7.0
MIN_PIPELINES = 3
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
BUILD_ARROW_BATCH = "2048"  # the chunk size build_index sets for its job


def _iteration(r: Run, df, tag: str, tracer=None,
               segments: int = BUILD_SEGMENTS) -> dict:
    from jvector_spark.plans.merge import compact_index

    build_dir = r.path(f"ingest-{tag}")
    out_dir = build_dir + "-compact"
    root = tracer.begin("ingest.iteration") if tracer else None
    t0 = pc()
    assign_s, build_s = build(r.spark, df, build_dir, segments)
    t1 = pc()
    compact_index(r.spark, build_dir, out_dir,
                  target_segments=COMPACT_SEGMENTS)
    t2 = pc()
    if tracer:
        tracer.end(root)
    return {"assign_s": assign_s, "build_s": build_s, "compact_s": t2 - t1,
            "pipeline_s": t2 - t0, "build_dir": build_dir,
            "out_dir": out_dir}


def _inspect(it: dict, res: Result) -> dict:
    """Correctness of one iteration's output (after its timed interval)
    plus the layer figures the engine wrote to disk."""
    from jvector_spark.sources.segment import load_manifest

    bm = load_manifest(it["build_dir"])
    cm = load_manifest(it["out_dir"])
    bsegs = [s["path"] for s in sorted(bm["segments"], key=lambda s: s["min_docid"])]
    csegs = sorted(cm["segments"], key=lambda s: s["min_docid"])
    b, c = segment_stats(bsegs), segment_stats([s["path"] for s in csegs])

    def dense(m) -> bool:
        segs = sorted(m["segments"], key=lambda s: s["min_docid"])
        nxt = 0
        for s in segs:
            if s["min_docid"] != nxt or s["max_docid"] - s["min_docid"] + 1 != s["n_docs"]:
                return False
            nxt = s["max_docid"] + 1
        return nxt == INGEST_DOCS

    ok = (bm["n_docs"] == INGEST_DOCS and cm["n_docs"] == INGEST_DOCS
          and len(bsegs) == BUILD_SEGMENTS and len(csegs) == COMPACT_SEGMENTS
          and dense(bm) and dense(cm)
          and b["n_postings"] == c["n_postings"] and b["sum_dl"] == c["sum_dl"])
    if not ok:
        res.fail("ingest_index_shape")
    return {
        "stages": {k: b[k] for k in b if k.endswith("_sec")},
        # per segment, in partition order: the build tasks' busy seconds
        "task_s": [sum(segment_stats([p])[k] for k in STAGES) for p in bsegs],
        "tokens": b["sum_dl"], "n_postings": b["n_postings"],
        "bytes_per_posting": b["bytes_postings"] / max(1, b["n_postings"]),
        "index_bytes": dir_bytes(it["out_dir"]),
        "bytes_rewritten": sum(dir_bytes(s["path"]) for s in csegs),
        "group_s": [float(s["build_sec"]) for s in csegs],
        "segments_in": len(bsegs), "segments_out": len(csegs),
    }


def _pipelines(r: Run, df, res: Result, n: int, tag: str, tracer=None):
    its, seen = [], []
    for i in range(n):
        res.attempted += 1
        try:
            it = _iteration(r, df, f"{tag}{i}", tracer)
            seen.append(_inspect(it, res))
            its.append(it)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted
            res.fail(f"exception:{type(e).__name__}")
        finally:
            rmtree(r.path(f"ingest-{tag}{i}"))
            rmtree(r.path(f"ingest-{tag}{i}-compact"))
    return its, seen


def _build_job_replay(spark, df) -> float:
    """The build job without its segment work: the same sorted, docid-
    numbered input handed to Python in the same Arrow chunks by the same 16
    tasks, consumed by a no-op. Its time is the Spark framework and data
    transfer part of build_index."""
    from jvector_spark.operators.ids import (
        assign_dense_docids, release_docid_source)

    def noop(batches):  # nested: pickled by value for the workers
        for _ in batches:
            pass
        yield from ()

    with_ids = assign_dense_docids(df, num_partitions=BUILD_SEGMENTS)
    prev = spark.conf.get(ARROW_BATCH, "10000")
    spark.conf.set(ARROW_BATCH, BUILD_ARROW_BATCH)
    try:
        t0 = pc()
        with_ids.select("docid", "content", "repo", "path", "commit") \
            .mapInPandas(noop, "segment_id long").toPandas()
        return pc() - t0
    finally:
        spark.conf.set(ARROW_BATCH, prev)
        release_docid_source(with_ids)


def _compact_job_replay(spark) -> tuple[float, list[int]]:
    """The compaction job without its merge work: the group list built and
    repartitioned as compact_index does, each task reporting which groups
    it got. Returns the job's seconds and each group's task; Spark's
    round-robin repartition is deterministic, and with 4 groups over 4
    partitions one task can get two groups and merge them in turn."""
    def task_of(batches):  # nested: pickled by value for the workers
        import pandas as pd
        from pyspark import TaskContext

        for pdf in batches:
            yield pd.DataFrame({"group_id": pdf["group_id"],
                                "task": TaskContext.get().partitionId()})

    tasks = spark.createDataFrame(
        [(g, "[]", 0) for g in range(COMPACT_SEGMENTS)],
        "group_id int, paths string, offset long").repartition(COMPACT_SEGMENTS)
    t0 = pc()
    got = tasks.mapInPandas(task_of, "group_id int, task int").toPandas()
    dt = pc() - t0
    return dt, [int(t) for t in got.sort_values("group_id")["task"]]


def makespan(durations: list[float], cores: int = CORES) -> float:
    """Finish time of tasks started in order, each on the first free core
    (how local[cores] schedules one stage's tasks)."""
    free = [0.0] * cores
    for d in durations:
        heapq.heappush(free, heapq.heappop(free) + d)
    return max(free)


def _group_path(group_s: list[float], task: list[int]) -> float:
    """The compaction job's critical path: its busiest task's merge seconds."""
    busy: dict = {}
    for s, t in zip(group_s, task):
        busy[t] = busy.get(t, 0.0) + s
    return max(busy.values())


def _scaling_t1(r: Run, corpus) -> float:
    """assign + build of the same corpus and segment count at local[1]."""
    stop_spark(r.spark, shutdown_jvm=False)
    r.spark = start_spark(1)
    df = corpus_df(r.spark, corpus)
    df.count()
    # spawn and import the single python worker before timing, as the
    # warm-up iteration does for local[4]
    small = corpus_df(r.spark, corpus.head(64))
    build(r.spark, small, r.path("scale-warm"), 1)
    a, b = build(r.spark, df, r.path("scale-1"), BUILD_SEGMENTS)
    rmtree(r.path("scale-warm"))
    rmtree(r.path("scale-1"))
    return a + b


def _setup(r: Run, corpus):
    """The corpus as a cached DataFrame, numbered once by
    assign_dense_docids: the engine's shuffle, sort and count over it."""
    from jvector_spark.operators.ids import (
        assign_dense_docids, release_docid_source)

    t0 = pc()
    df = corpus_df(r.spark, corpus)
    df.count()
    release_docid_source(assign_dense_docids(df, num_partitions=BUILD_SEGMENTS))
    return df, pc() - t0


def run(r: Run) -> Result:
    from jvector_spark.corpus import generate_corpus

    res = Result()
    corpus = generate_corpus(INGEST_DOCS, seed=r.seed)
    content_bytes = utf8_bytes(corpus["content"])
    n = operations(r.seconds, PIPELINE_NOMINAL_S, MIN_PIPELINES)
    res.inputs = {"corpus_docs": INGEST_DOCS, "corpus_bytes": content_bytes,
                  "build_segments": BUILD_SEGMENTS,
                  "compact_segments": COMPACT_SEGMENTS, "cores": CORES,
                  "pipelines": n}
    start(r)
    r.mark("warmup")
    # one whole pipeline, the same as a measured one, before anything is
    # timed: JIT, Spark's plan code generation, python workers and imports
    # (after a smaller one the first measured pipelines are still warming)
    t0 = pc()
    warm_df = corpus_df(r.spark, corpus)
    it = _iteration(r, warm_df, "warm")
    warm_df.unpersist(blocking=True)
    rmtree(it["build_dir"])
    rmtree(it["out_dir"])
    warmup_s = pc() - t0
    r.mark("setup")

    setup = []
    for i in range(SETUP_REPEATS):
        df, dt = _setup(r, corpus)
        setup.append(dt)
        if i < SETUP_REPEATS - 1:
            df.unpersist(blocking=True)
    r.mark("measure")

    its, seen = _pipelines(r, df, res, n, "u")
    if not its:
        raise RuntimeError("every ingest pipeline failed")
    builds = [i["assign_s"] + i["build_s"] for i in its]
    pipe = [i["pipeline_s"] for i in its]
    res.metrics = {
        "setup_s": median(setup),
        "throughput_per_s": INGEST_DOCS / median(builds),
        "p50_ms": 1000.0 * median(pipe),
    }
    res.detail = {
        "build_docs_per_s": res.metrics["throughput_per_s"],
        "build_s_p50": median(builds),
        "compact_s": median([i["compact_s"] for i in its]),
        "pipeline_s_p50": median(pipe),
        "index_bytes_per_content_byte": median(
            [s["index_bytes"] for s in seen]) / content_bytes,
        "pipeline_ms": summarize([1000.0 * x for x in pipe]),
        "pipeline_s_samples": pipe,
        "pipelines": len(its), "warmup_s": warmup_s,
        "setup_s_samples": setup,
    }
    if r.trace:
        r.mark("traced")
        _traced(r, df, res, n, median(pipe))
        # the scaling ratio rides on the traced run to keep untraced runs short
        r.mark("scaling")
        t1 = _scaling_t1(r, corpus)
        res.detail["build_s_local1"] = t1
        res.detail["build_scaling_eff"] = (t1 / median(builds)) / CORES
    r.measured()
    return res


def _traced(r: Run, df, res: Result, n: int, untraced_p50: float):
    """The same number of pipelines again, from the same state, with spans
    on; then as many replays of their Spark jobs without the engine's work
    in them, to split each job into framework cost and task work."""
    import jvector_spark.operators.ids as ids_mod
    import jvector_spark.plans.merge as merge_mod
    import jvector_spark.sources.segment as seg_mod
    from perfbench.trace import Tracer, by_name

    tr = Tracer()
    tr.wrap(ids_mod, "assign_dense_docids", "ids.assign_dense_docids")
    tr.wrap(seg_mod, "build_index", "segment.build_index")
    tr.wrap(seg_mod, "write_index_manifest", "segment.write_index_manifest")
    tr.wrap(merge_mod, "compact_index", "merge.compact_index")
    tr.wrap(merge_mod, "tombstone_view", "merge.tombstone_view")
    tr.wrap(merge_mod, "write_index_manifest", "merge.write_index_manifest")
    # both build_index and compact_index run their one Spark job through
    # toPandas: the span is that job, seen from the Spark driver
    tr.wrap(type(df), "toPandas", "spark.job")
    try:
        its, seen = _pipelines(r, df, res, n, "t", tr)
    finally:
        tr.unwrap_all()
    res.spans = tr
    if not its:
        raise RuntimeError("every traced ingest pipeline failed")
    build_jobs = [_build_job_replay(r.spark, df) for _ in its]
    compact_jobs = [_compact_job_replay(r.spark) for _ in its]
    k = len(its)
    spans = [s for s in tr.spans if s.end is not None]
    agg = by_name(spans)

    def self_s(name):
        return agg.get(name, {}).get("self_s", 0.0) / k

    def job_s(parent):
        return sum(s.end - s.start for s in spans if s.name == "spark.job"
                   and spans[s.parent].name == parent) / k

    def mean(xs):
        return float(np.mean(xs))

    stages = {s: mean([x["stages"][s] for x in seen]) for s in seen[0]["stages"]}
    task_sum = sum(stages.values())
    # the build stage's busy seconds packed onto the cores as local[4] runs
    # its 16 tasks; each stage's part is its share of that critical path
    task_path = mean([makespan(x["task_s"]) for x in seen])
    group_path = mean([_group_path(x["group_s"], compact_jobs[0][1])
                       for x in seen])
    build_job = mean(build_jobs)
    compact_job = mean([dt for dt, _task in compact_jobs])
    total = mean([i["pipeline_s"] for i in its])
    per_stage = {s: v * task_path / task_sum if task_sum else 0.0
                 for s, v in stages.items()}
    parts = {
        "ids.assign_s": self_s("ids.assign_dense_docids"),
        "segment.build_driver_s": self_s("segment.build_index"),
        "spark.build_job_s": build_job,
        "tokenizer.tokenize_task_path_s": per_stage["tokenize_sec"],
        "segment.chunk_agg_task_path_s": per_stage["chunk_agg_sec"],
        "segment.final_sort_task_path_s": per_stage["final_sort_sec"],
        "codec.encode_task_path_s": per_stage["encode_sec"],
        "segment.write_task_path_s": per_stage["write_sec"],
        "ingest.build_other_s":
            job_s("segment.build_index") - build_job - task_path,
        "segment.manifest_commit_s": self_s("segment.write_index_manifest"),
        "merge.compact_driver_s": self_s("merge.compact_index"),
        "merge.tombstone_view_s": self_s("merge.tombstone_view"),
        "spark.compact_job_s": compact_job,
        "merge.group_task_path_s": group_path,
        "ingest.compact_other_s":
            job_s("merge.compact_index") - compact_job - group_path,
        "merge.manifest_commit_s": self_s("merge.write_index_manifest"),
        "ingest.other_s": self_s("ingest.iteration"),
    }
    res.ledger = {"ingest.pipeline_s": ledger_entry(total, parts)}
    last = seen[-1]
    res.layers = {
        "tokenizer.tokenize_task_s": stages["tokenize_sec"],
        "segment.chunk_agg_task_s": stages["chunk_agg_sec"],
        "segment.final_sort_task_s": stages["final_sort_sec"],
        "codec.encode_task_s": stages["encode_sec"],
        "segment.write_task_s": stages["write_sec"],
        "tokenizer.tokens": last["tokens"],
        "segment.n_postings": last["n_postings"],
        "codec.bytes_per_posting": last["bytes_per_posting"],
        "segment.manifest_commit_s": parts["segment.manifest_commit_s"],
        "ids.assign_s": parts["ids.assign_s"],
        "spark.build_job_s": build_job,
        "spark.compact_job_s": compact_job,
        "merge.compact_s": mean([i["compact_s"] for i in its]),
        "merge.group_task_s": mean([sum(x["group_s"]) for x in seen]),
        "merge.group_task_path_s": group_path,
        "merge.bytes_rewritten": last["bytes_rewritten"],
        "merge.segments_in": last["segments_in"],
        "merge.segments_out": last["segments_out"],
        "ingest.build_other_s": parts["ingest.build_other_s"],
        "ingest.compact_other_s": parts["ingest.compact_other_s"],
        "ingest.other_s": parts["ingest.other_s"],
        "trace.overhead_s": median([i["pipeline_s"] for i in its]) - untraced_p50,
    }
