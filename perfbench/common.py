"""Pieces every workload shares: the run context, the Spark session's
lifetime, index building through the engine's public functions, and the
result a workload hands back."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from perfbench.host import descendants, wait_for_exit

CORES = 4  # local[4]: the core count the baseline was measured at
CORPUS_DOCS = 1500
SETUP_REPEATS = 3

pc = time.perf_counter


@dataclass
class Result:
    """What one workload measured. `metrics` holds the end-to-end metrics
    (gated), `detail` the named per-workload figures, `layers` the
    per-layer metrics of a traced run and `ledger` their sums."""

    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    ledger: dict = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    checks: dict = field(default_factory=dict)
    spans: object = None  # the Tracer of a traced run

    def fail(self, check: str, n: int = 1) -> None:
        self.failed += n
        self.checks[check] = self.checks.get(check, 0) + n


@dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    work: str
    spark: object = None
    rss: object = None  # the run's TreeRssSampler
    marks: list = field(default_factory=list)
    prefix: str = ""  # put before every phase name marked from now on

    def mark(self, phase: str) -> None:
        """Phase `phase` starts now (the report lists each phase's wall
        time, so the cost of a run outside its timed section shows)."""
        self.marks.append((self.prefix + phase, pc()))

    def phases(self) -> dict:
        """Wall seconds per phase name, in the order phases first began."""
        ends = [t for _, t in self.marks[1:]] + [pc()]
        out: dict = {}
        for (p, t), e in zip(self.marks, ends):
            out[p] = out.get(p, 0.0) + e - t
        return {p: round(v, 3) for p, v in out.items()}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def measured(self) -> None:
        """Set-up and timing are over: the correctness checks that follow
        (oracles, restarts) do not count towards peak memory."""
        self.mark("checks")
        if self.rss is not None:
            self.rss.freeze()


def start_spark(cores: int = CORES):
    from jvector_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]")


def start(r: "Run"):
    """Start the run's Spark session, unless a workload that hosts another
    one (search_batch's traced serve pass) has started it already."""
    if r.spark is None:
        r.mark("spark_start")
        r.spark = start_spark()
    r.mark("setup")


def stop_spark(spark, shutdown_jvm: bool) -> None:
    """Stop the session; with `shutdown_jvm`, also end the JVM and every
    process it started, and wait until each has exited."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    if not shutdown_jvm:
        return
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass  # wait_for_exit below escalates to signals
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_for_exit(kids)


def corpus_df(spark, corpus):
    df = spark.createDataFrame(corpus)
    return df.persist()


def build(spark, df, index_dir: str, segments: int) -> tuple[float, float]:
    """assign_dense_docids -> build_index; returns (assign_s, build_s)."""
    from jvector_spark.operators.ids import (
        assign_dense_docids, release_docid_source)
    from jvector_spark.sources.segment import build_index

    t0 = pc()
    with_ids = assign_dense_docids(df, num_partitions=segments)
    t1 = pc()
    build_index(with_ids, index_dir, num_segments=segments,
                assume_partitioned=True)
    t2 = pc()
    release_docid_source(with_ids)
    return t1 - t0, t2 - t1


def utf8_bytes(texts) -> int:
    """Bytes of content, the denominator of bytes-on-disk ratios."""
    return int(sum(len(t.encode()) for t in texts))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


STAGES = ("tokenize_sec", "chunk_agg_sec", "final_sort_sec", "encode_sec",
          "write_sec")


def segment_stats(seg_dirs: list[str]) -> dict:
    """Task-side stage seconds and counts that the segment build already
    writes into each segment's meta.json, summed over `seg_dirs`."""
    out = {k: 0.0 for k in STAGES}
    out.update(n_postings=0, bytes_postings=0, sum_dl=0)
    for d in seg_dirs:
        with open(os.path.join(d, "meta.json")) as f:
            meta = json.load(f)
        for k in STAGES:
            out[k] += float(meta.get("stage_sec", {}).get(k, 0.0))
        out["n_postings"] += int(meta["n_postings"])
        out["bytes_postings"] += int(meta["bytes_postings"])
        out["sum_dl"] += int(meta["sum_dl"])
    return out


def index_segments(index_dir: str) -> list[str]:
    from jvector_spark.sources.segment import load_manifest

    return [s["path"] for s in load_manifest(index_dir)["segments"]]


def median(xs):
    return statistics.median(xs) if xs else None


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def operations(seconds: float, nominal_s: float, minimum: int) -> int:
    """How many whole operations a run measures: fixed by --seconds and the
    operation's nominal length on the reference host (4 cores), never by
    how fast this run happens to go, so every run with the same --seconds
    does the same work and its medians are over the same sample count."""
    return max(minimum, math.floor(seconds / nominal_s + 0.5))


UNEXPLAINED = "other_s"  # the suffix of every remainder part
COVERAGE_TOL = 0.10


def ledger_entry(total: float, parts: dict) -> dict:
    """One end-to-end time and the parts it splits into. Parts named
    ``*.other_s`` are remainders (total minus the other parts), so the sum
    of all parts says nothing; the check is how much of the total the
    measured parts cover, which must be within COVERAGE_TOL of 1."""
    named = sum(v for k, v in parts.items() if not k.endswith(UNEXPLAINED))
    cov = named / total if total else None
    return {"total_s": total, "parts_s": parts, "measured_s": named,
            "measured_coverage": cov,
            "within_tolerance": cov is not None
            and abs(1.0 - cov) <= COVERAGE_TOL}
