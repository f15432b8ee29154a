"""Benchmark entry point: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
--seed; it measures a number of whole operations fixed by --seconds (see
common.operations), checks correctness after timing, and reports one JSON
object on the last line of standard output. A preceding line carries the host and input
stamp, the named per-workload figures and, with --trace 1, the per-layer
ledger. Every file the run writes stays under .perfbench_work/ and
.perfbench_out/ in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback

ROOT = os.path.abspath(os.getcwd())
HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
DRIVER_HEAP = "2g"


def _isolate(work: str) -> None:
    """Point every temporary file of Python, Spark and the JVM into `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # a fixed driver heap: the JVM's resident size then tops out at the same
    # level every run instead of following the 8g default's lazy growth
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # every JVM, spark-submit's launcher too: temp files in `work`, and no
    # hsperfdata files (those always go to /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _metrics(values: dict, listed: list[dict], absent_is_zero: bool) -> dict:
    """Every metric BENCHMARK.json lists, with its unit. With
    `absent_is_zero` (per-layer metrics), a layer the workload did not
    exercise reports zero work; an end-to-end metric must always have been
    measured."""
    out = {}
    for m in listed:
        v = values.get(m["name"], 0.0 if absent_is_zero else None)
        if v is None:
            raise RuntimeError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    with open(BENCHMARK_PATH) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    sys.path.insert(0, ROOT)  # the engine and bench.py live at the root
    sys.path.insert(0, os.path.dirname(HERE))
    try:
        import jvector_spark  # noqa: F401 - fail fast outside a checkout
        from bench import _StealSampler
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _isolate(work)

    import importlib

    from perfbench.common import Run, stop_spark
    from perfbench.host import TreeRssSampler, stamp
    from perfbench.stats import error_rate

    workload = importlib.import_module(f"perfbench.{args.workload}")
    r = Run(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            work=work)
    load0 = os.getloadavg()
    t0 = time.perf_counter()
    r.mark("inputs")
    try:
        with _StealSampler() as steal, TreeRssSampler() as rss:
            r.rss = rss
            res = workload.run(r)
        res.metrics["peak_rss_mb"] = rss.peak / 2**20
    finally:
        r.mark("shutdown")
        if r.spark is not None:
            stop_spark(r.spark, shutdown_jvm=True)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    wall = time.perf_counter() - t0
    r.mark("report")

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if res.spans is not None:
        res.spans.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    report = {
        "workload": args.workload, "trace": args.trace, "wall_s": wall,
        "phases_s": r.phases(),
        "stamp": {**stamp(ROOT, steal.stats(), load0, args.seed),
                  **res.inputs},
        "error_rate": error_rate(res.attempted, res.failed),
        "checks": res.checks, "detail": res.detail, "ledger": res.ledger,
    }
    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = res.layers if args.trace else res.metrics
    final = {"correct": res.failed == 0, "attempted": res.attempted,
             "failed": res.failed,
             "metrics": _metrics(values, listed, absent_is_zero=bool(args.trace))}
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as f:
        json.dump({**report, "result": final}, f, indent=1)
    print(json.dumps(report))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, print no result, exit non-zero
        traceback.print_exc()
        sys.exit(1)
