"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload rag_query --seed 1 --seconds 30 --trace 0

Run from the repository root. Inputs are generated from --seed (and cached
under .bench_cache/), the product is driven through its public entry
points, every output is checked, and the last line of standard output is
{"correct", "attempted", "failed", "metrics"}. --trace 1 replays the same
work one layer at a time and reports the per-layer metrics instead; spans
are written to .bench_cache/trace-<workload>-<seed>.jsonl. See
perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
# Driver heap for the one Spark session. build_session pre-touches the whole
# heap at launch, so it is resident for the run: keep it small and run one
# benchmark process at a time.
DRIVER_MEM = "1g"


def prepare_env() -> None:
    """Environment every Spark process of the run inherits."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("OMP_NUM_THREADS", None)
    sys.path.insert(0, ROOT)


def start_session(warm: bool):
    """build_session, plus the product's warm_up when `warm`."""
    from graphrag_toolkit_spark.session import build_session, warm_up

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    setup = {"session.build_session_s": time.perf_counter() - t0}
    if warm:
        t0 = time.perf_counter()
        warm_up(spark, os.path.join(CACHE, "no-fixtures"))
        setup["session.warm_up_s"] = time.perf_counter() - t0
    return spark, setup


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it)."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:
        pass  # the JVM side is already gone
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graphrag_toolkit_spark")):
        print("perfbench: graphrag_toolkit_spark not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    prepare_env()
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    load1, cpus = os.getloadavg()[0], len(os.sched_getaffinity(0))
    # warm_up's synthetic jobs cost ~15-25 s on a 4-core host; the timed
    # runs leave it out to stay near one minute, so their first operations
    # pay the JVM's warm-up. The traced run measures it.
    spark, setup = start_session(warm=bool(args.trace))
    try:
        result = workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, bool(args.trace), setup, CACHE
        )
    finally:
        stop_session(spark)
    info = result.pop("info")
    layers = result.pop("layers")
    info.update(loadavg_1m=load1, cpus=cpus, seed=args.seed,
                workload=args.workload, trace=args.trace)
    for k, v in sorted(info.items()):
        print(f"perfbench {k} = {v}")
    for k, v in sorted(layers.items()):
        print(f"perfbench layer {k} = {v:.6g}")
    for k, m in sorted(result["metrics"].items()):
        print(f"perfbench metric {k} = {m['value']:.6g} {m['unit']}"
              + (f" (n={m['n']})" if "n" in m else ""))
    for f in result.pop("failures", [])[:20]:
        print(f"perfbench FAILED {f}")
    result["metrics"] = {
        k: {"value": m["value"], "unit": m["unit"]}
        for k, m in result["metrics"].items()
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
