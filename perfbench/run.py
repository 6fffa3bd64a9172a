"""Benchmark entry point.

    python3 perfbench/run.py --workload tip_follow --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from a run that records spans around every layer entry
point and Spark's event log. Scratch state, the lake and the trace files
live under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace_dir: str | None) -> None:
    """Keep every file Spark writes inside ``work``, and run the program
    on all cores of this host with a bounded JVM heap."""
    repo = os.getcwd()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (repo, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no hsperfdata files under /tmp from either JVM;
    # -XX:-UseDynamicNumberOfCompilerThreads: JIT threads live as long as
    # the JVM, so their CPU time can be read per thread (procs.tree_cpu_s)
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={env['TMPDIR']} -Dderby.system.home={work}"
    }
    if trace_dir is not None:
        from spans import event_log_conf

        conf |= event_log_conf(os.path.join(trace_dir, "eventlog"))
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}='{v}'" for k, v in conf.items()) + " pyspark-shell"


def end_to_end(w, rss_peak: int) -> dict[str, tuple[float, str]]:
    from workloads import lake_bytes

    r = w.res
    total, _ = lake_bytes(w.lake)
    return {
        "setup_s": (r.setup_s, "s"),
        "cpu_ms_per_op": (r.cpu_s * 1000 / r.attempted, "ms"),
        "peak_rss_mb": (rss_peak / 2**20, "MB"),
        "bytes_stored_per_input_byte": (total / r.input_bytes, "B/B"),
    }


def side_figures(w) -> dict[str, tuple[float, str]]:
    """Figures reported beside the end-to-end metrics. Wall time of
    set-up, latency and throughput of the timed phase: on a host whose CPUs
    are shared with other guests they move with the host's load far more
    than the bounds allow (see README.md). JIT compilation CPU time, which
    ``cpu_ms_per_op`` leaves out."""
    r = w.res
    return {
        "setup_wall_s": (r.setup_wall_s, "s"),
        "setup_jit_s": (r.setup_jit_s, "s"),
        "jit_ms_per_op": (r.jit_s * 1000 / r.attempted, "ms"),
        "op_p50_ms": (statistics.median(r.op_ms), "ms"),
        "items_per_s": (r.items / r.busy_s, "1/s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "blockchain_etl_spark")):
        print("run from the repository root: blockchain_etl_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    trace_dir = os.path.join(base, "traces", f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, trace_dir)

    from procs import RssSampler
    from spans import Tracer

    # a terminated run still stops Spark and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(full=bool(args.trace))
    tracer.install()
    w = WORKLOADS[args.workload](work, args.seed, args.seconds, tracer)
    try:
        with RssSampler() as rss:
            w.run()
        if args.trace:
            import layers

            tracer.dump(os.path.join(trace_dir, "spans.jsonl"))
            metrics = layers.per_layer(w, tracer, trace_dir, end_to_end(w, rss.peak) | side_figures(w))
        else:
            metrics = end_to_end(w, rss.peak)
    finally:
        tracer.uninstall()
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    for e in w.res.errors:
        print("check failed:", e, file=sys.stderr)
    for k, (v, u) in side_figures(w).items():
        print(f"{k}: {v:.4f} {u}", file=sys.stderr)
    print(f"host CPU steal during the timed phase: {w.res.steal_pct:.0f}%", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not w.res.errors and w.res.failed == 0,
                "attempted": w.res.attempted,
                "failed": w.res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _stop_spark() -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
