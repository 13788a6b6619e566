"""Governed-serving benchmark of the spark-graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve_requests --seed 1 --seconds 10 --trace 0

Builds its inputs from ``--seed`` in a fresh directory under ``.perfbench/``,
builds the ``lineitem_ym`` table through the engine, runs one workload
closed-loop for ``--seconds``, checks every answer, and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` wraps the library's
layer boundaries and reports the per-layer metrics instead. A readable
report goes to standard error; results and spans are kept under
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 2  # table builds per run (the first in a cold JVM); setup_s is their median
HEAP = "2g"  # driver heap: the host's memory is shared


def kind_stats(samples: dict[str, list[float]]) -> dict[str, dict]:
    from workloads import percentile

    return {
        k: {"n": len(v), "p50_ms": 1e3 * statistics.median(v),
            "p90_ms": 1e3 * percentile(v, 90), "p95_ms": 1e3 * percentile(v, 95),
            "max_ms": 1e3 * max(v)}
        for k, v in sorted(samples.items())
    }


def end_to_end(run, setup_times: list[float]) -> dict[str, float]:
    """The end-to-end metrics. ``p50_ms`` and ``slow_ms`` are the figures
    each workload defines (``run.basis`` says what they are)."""
    return {
        "setup_s": statistics.median(setup_times),
        "ops_per_s": run.attempted / run.extra["window_s"],
        "p50_ms": run.figures["p50_ms"],
        "slow_ms": run.figures["slow_ms"],
        "kinds_p50_sum_ms": 1e3 * sum(statistics.median(v) for v in run.samples.values()),
        "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }


def isolate(run_dir: str, trace: bool) -> None:
    """Keep Python's, Spark's and the JVM's scratch files inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = [f"spark.local.dir={tmp}"]
    if trace:
        # keep every job of the run readable from the status store
        confs += [f"spark.ui.{k}=1000000" for k in ("retainedJobs", "retainedStages", "retainedTasks")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs
    ) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - hung JVM: kill it and reap it
            proc.kill()
            proc.wait()


def report(info: dict, run, e2e: dict, spec: dict, layers: dict | None, split: dict | None,
           overhead: dict | None) -> None:
    err = sys.stderr
    print(f"\n== perfbench {info['workload']} seed={info['seed']} trace={info['trace']}", file=err)
    for k, v in info.items():
        if k not in ("workload", "seed", "trace"):
            print(f"   {k}: {v}", file=err)
    print("   ops (n, p50 / p90 / p95 / max ms):", file=err)
    for k, v in kind_stats(run.samples).items():
        print(f"     {k:24s} {v['n']:6d}  {v['p50_ms']:10.3f} {v['p90_ms']:10.3f} "
              f"{v['p95_ms']:10.3f} {v['max_ms']:10.3f}", file=err)
    print(f"   failed_share {run.failed}/{run.attempted}", file=err)
    for k, v in run.basis.items():
        print(f"   {k} is the {v}", file=err)
    for m in spec["end_to_end"]:
        print(f"   {m['name']:28s} {e2e[m['name']]:.6g} {m['unit']}", file=err)
    if layers:
        print("   per-layer:", file=err)
        for k, v in layers.items():
            print(f"     {k:40s} {v:.6g}", file=err)
    if split:
        print("   per op kind: mean ms in the op / inside library calls / outside them:", file=err)
        for k, v in split.items():
            print(f"     {k:24s} {v['n']:6d}  {v['op_ms']:10.3f} {v['library_ms']:10.3f} "
                  f"{v['outside_ms']:10.3f}", file=err)
    if overhead:
        print("   tracing overhead (traced - untraced, same workload and seed):", file=err)
        for k, v in overhead.items():
            print(f"     {k:28s} {v:+.6g}", file=err)
    for f in run.failures:
        print(f"   FAILED {f}", file=err)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "delta_lake_proxy_spark", "engine.py")):
        print("perfbench: no delta_lake_proxy_spark/ here; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402 - after the path set-up

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, bool(args.trace))
    sys.path.insert(0, root)
    import pyspark

    from delta_lake_proxy_spark.config import EngineConfig
    from delta_lake_proxy_spark.session import build_session

    cpus = len(os.sched_getaffinity(0))
    spark = build_session("perfbench", cpus=cpus)
    session_s = time.perf_counter() - t_main
    try:
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracer.install()
        setup = workloads.Setup(spark, run_dir, args.seed)
        setup_times = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            setup.build_table()
            setup_times.append(time.perf_counter() - t0)
        shape = setup.shape()
        run = workloads.Run(tracer=tracer)
        workloads.WORKLOADS[args.workload](setup, run, args.seconds)
        e2e = end_to_end(run, setup_times)
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "master": spark.sparkContext.master, "heap": HEAP,
            "spark": pyspark.__version__, "table": shape,
            "acl_cache_size": EngineConfig().acl_cache_size,
            "users": {"governed": workloads.GOVERNED_USERS,
                      "unrestricted": workloads.UNRESTRICTED_USERS},
            "setup_runs_s": [round(t, 4) for t in setup_times],
            "session_start_s": round(session_s, 3),
            "window_s": round(run.extra["window_s"], 3),
            "wall_before_report_s": round(time.perf_counter() - t_main, 3),
            "figures": run.basis,
            "samples": {k: len(v) for k, v in sorted(run.samples.items())},
        }
        for k in ("blocks_s", "acl_misses", "acl_evictions", "cycles", "commits", "read_users",
                  "bytes_per_row_written"):
            if k in run.extra:
                info[f"run_{k}"] = run.extra[k]
        layers = split = overhead = None
        if tracer is not None:
            tracer.uninstall()
            layers = tracing.layer_report(tracer, run.extra)
            split = tracing.op_split(tracer)
            tracer.dump(os.path.join(results, f"{args.workload}-s{args.seed}-spans.jsonl"),
                        args.workload)
            base = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
            if os.path.isfile(base):
                with open(base, encoding="utf-8") as f:
                    untraced = json.load(f)["end_to_end"]
                overhead = {k: e2e[k] - untraced[k] for k in e2e}
        report(info, run, e2e, spec, layers, split, overhead)
        with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
                  "w", encoding="utf-8") as f:
            json.dump({"info": info, "end_to_end": e2e, "ops": kind_stats(run.samples),
                       "samples_ms": {k: [round(1e3 * x, 3) for x in v] for k, v in run.samples.items()},
                       "per_layer": layers, "op_split": split,
                       "tracing_overhead": overhead, "failures": run.failures}, f, indent=1)
        group = "per_layer" if args.trace else "end_to_end"
        values = layers if args.trace else e2e
        out = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in spec[group]},
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
