#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The run prepares its inputs, excluded from
set-up time: the lifecycle generates them from the seed, the catalog reads
the reference tables under perfbench/data and caches their DuckDB answers.
It then starts a session with `varda_spark.session.
get_spark` on local[<cpus>], runs the flagship query cold, warms every
operation of the workload once, then runs timed passes for about
`--seconds` (always at least one whole pass) and checks every output.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json; `--trace 1` reports its per-layer metrics from
a traced run. A detail record (host, every op, failures, spans) is written
under perfbench/.out/. Everything the run writes stays under perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
OUT = os.path.join(HERE, ".out")


def _env() -> int:
    """Keep every file Spark and Python write under perfbench/.data."""
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file, which the JVM writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return int(os.environ["SPARK_GRAFT_CPUS"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import host

    t_proc = host.process_start_time()
    cpus = _env()
    t0 = time.time()
    host_before = host.record(cpus)  # forks: before any import starts a thread
    probe_s = time.time() - t0
    from workloads import WORKLOADS, Harness, median, run_entry

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:  # the program under test; absent -> no result, non-zero exit
        import varda_spark.catalog  # noqa: F401
        from varda_spark import session
    except ImportError as ex:
        print(f"cannot import the program: {ex}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload](DATA, args.seed)
    t0 = time.time()
    wl.prepare()
    gen_s = time.time() - t0

    tracer = after = None
    if args.trace:
        import layers
        import spans

        tracer = spans.Tracer(f"{args.workload}-{args.seed}",
                              capture=("operators.interval.interval_join",))
        tracer.patch()

        def after(info):
            info.update(layers.after_pass(wl, h, tracer))
    t0 = time.time()
    spark = session.get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.time() - t0
    master = spark.sparkContext.master
    h = Harness(spark, tracer)
    entry_s = run_entry(h, wl.entry_dir)
    t0 = time.time()
    wl.warm_up(h)
    warm_s = time.time() - t0
    setup_s = time.time() - t_proc - probe_s - gen_s

    passes = []
    t_start = time.time()
    while True:  # whole passes; another only if it should end within --seconds
        if tracer:
            for calls in tracer.captured.values():
                calls.clear()
        t_pass = time.time()
        info = wl.run_pass(h, len(passes), after)
        info["start"], info["end"] = t_pass, t_pass + info["wall"]
        passes.append(info)
        pass_t = [p["wall"] for p in passes]
        if time.time() - t_start + median(pass_t) > args.seconds:
            break

    rss = host.peak_rss_mb()
    # one denominator: every call made, warm-up and its checks included;
    # every call that raised and every failed output check counts as failed
    attempted = h.calls
    failed = min(attempted, len(h.failures))
    correct = not h.failures

    if args.trace:
        metrics = layers.per_layer(wl, h, passes, cpus, get_spark_s, entry_s, warm_s, rss)
    else:
        metrics = {"setup_s": (setup_s, "s"), "pass_wall_s": (median(pass_t), "s")}
    stop_spark(spark)
    host_before["master"] = master
    host_after = host.record(cpus, master, probe=False)

    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_generation_s": gen_s, "get_spark_s": get_spark_s,
        "entry_cold_s": entry_s, "warm_up_s": warm_s, "peak_rss_mb": rss,
        "host_before": host_before, "host_after": host_after,
        "passes": passes,
        "ops": [vars(op) for op in h.ops], "failures": h.failures,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    if tracer:
        tracer.dump(stem + ".spans.json")

    for f in h.failures:
        print(f"FAILED {f}")
    print(f"host: nproc={host_before['nproc']} SPARK_GRAFT_CPUS={cpus} master={master} "
          f"load {host_before['loadavg'][0]:.2f}->{host_after['loadavg'][0]:.2f} "
          f"effective_cpus {host_before['probe']['effective_cpus']} "
          f"peak_rss_mb={rss:.0f}")
    print(f"passes={len(passes)} ops={attempted} failed={failed} entry_cold_s={entry_s:.4g} "
          + " ".join(f"{k}={v:.4g}{u}" for k, (v, u) in metrics.items()))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
