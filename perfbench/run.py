#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload sync_queue --seed 1 --seconds 5 --trace 0

One process, one workload, on ``local[<nproc>]`` over a working copy of the
fixture tables the program reads by default (``catalog.DEFAULT_SF_DIR``).
Start-up and one untimed warm-up pass make up ``setup_s``; then whole
passes of the workload's fixed op list run until ``--seconds`` have
passed (at least one). Every op's output is checked.

stdout: one context line (load average, CPU steal, nproc, seed, per-op
samples, tail percentile, failing ops), then the result as the last line:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The traced
run measures one traced pass instead of the untraced ones and writes its
spans to ``.bench_build/perfbench/spans-<workload>.jsonl``. The dedup
layer's metrics, which only ``corpus_dedup`` reaches and which
``BENCHMARK.json`` does not gate, go to the context line. See README.md
here.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def isolate_env(work: str, cpus: int, heap_floor: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's directory, size the session to the machine, and start the
    driver JVM with ``heap_floor`` of heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # G1 grows the driver heap when its GC-time heuristics say so, and the
    # same run's resident size landed anywhere between 1.9 and 3.6 GB. The
    # heap starts at the workload's floor, every page touched, so
    # peak_rss_mb moves with what the program needs beyond that floor.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{heap_floor} -XX:+AlwaysPreTouch' pyspark-shell"
    )


def stop_spark(spark, jvm: int) -> None:
    """Stop the session and wait until the JVM and its worker processes
    have exited (the JVM exits when the gateway's stdin closes)."""
    import probes
    from pyspark import SparkContext

    family = [jvm] + probes.descendants(jvm)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in family):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark processes still running: {family}")
        time.sleep(0.05)


def run_passes(wl, seconds: float) -> list[list]:
    """Whole passes until ``seconds`` have elapsed, at least one; the ops
    of each pass."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(wl.run_pass())
    return passes


def per_layer(ctx, spans, get_spark_s: float) -> dict:
    """Per-layer metrics of the traced pass; times and counts are means
    per op unless the name says otherwise."""
    from spans import span_cost_s
    from stats import layer_totals

    layers = layer_totals(spans)
    n_ops = layers["op"]["calls"]
    op_s = layers["op"]["total_s"]

    def t(name, key="total_s"):
        return layers.get(name, {}).get(key, 0.0)

    def per_op(x):
        return x / n_ops

    counts = ctx.op_counts
    summed = {k: sum(c[k] for c in counts) for k in counts[0]} if counts else {}
    lookups = ctx.tracer.counts["dedup.cache_lookups"]
    stream = ctx.stream
    served = sum(s["served"] for s in stream)
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "catalog.load_table.calls": (per_op(t("catalog.load_table", "calls")), "count"),
        "catalog.load_table_s": (per_op(t("catalog.load_table")), "s"),
        "catalog.load_table_share": (t("catalog.load_table") / op_s, "ratio"),
        "query.build_s": (per_op(t("query.build")), "s"),
        "query.build_self_s": (per_op(t("query.build", "self_s")), "s"),
        "query.exec_s": (per_op(t("query.exec")), "s"),
        "spark.jobs": (per_op(summed.get("jobs", 0)), "count"),
        "spark.stages": (per_op(summed.get("stages", 0)), "count"),
        "spark.tasks": (per_op(summed.get("tasks", 0)), "count"),
        "spark.tasks_failed": (per_op(summed.get("tasks_failed", 0)), "count"),
        "jvm.cpu_s": (per_op(summed.get("jvm_cpu_s", 0.0)), "s"),
        "pyworker.cpu_s": (per_op(summed.get("pyworker_cpu_s", 0.0)), "s"),
        "dedup.connected_components_s": (per_op(t("dedup.connected_components")), "s"),
        "dedup.fp_candidate_pairs_s": (per_op(t("dedup.fp_candidate_pairs")), "s"),
        "dedup.lsh_candidate_pairs_s": (per_op(t("dedup.lsh_candidate_pairs")), "s"),
        "dedup.cache_lookups": (lookups, "count"),
        "dedup.cache_hit_ratio": (
            ctx.tracer.counts["dedup.cache_hits"] / lookups if lookups else 0.0,
            "ratio",
        ),
        "state.read_latest_s": (per_op(t("state.read_latest")), "s"),
        "state.overwrite_parts_s": (per_op(t("state.overwrite_parts")), "s"),
        "state.prune_s": (per_op(t("state.prune")), "s"),
        "state.backlog_rows": (stream[-1]["backlog_rows"] if stream else 0, "count"),
        "state.files": (stream[-1]["files"] if stream else 0, "count"),
        "state.bytes": (stream[-1]["bytes"] if stream else 0, "bytes"),
        "state.bytes_written_per_served_row": (
            sum(s["bytes_written"] for s in stream) / served if served else 0.0,
            "bytes",
        ),
        "stream.carryover_s": (per_op(t("stream.carryover")), "s"),
        "stream.carryover_self_s": (per_op(t("stream.carryover", "self_s")), "s"),
        "mutation.rewrite_s": (per_op(t("mutation.rewrite")), "s"),
        "trace.overhead_s": (len(spans) * span_cost_s(), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from hive_backend_spark.catalog import DEFAULT_SF_DIR
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import probes
    import stats
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, Ctx, copy_fixtures

    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:
        load1 = load5 = load15 = None
    ticks0 = probes.machine_cpu_ticks()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        isolate_env(work, nproc, WORKLOADS[args.workload].jvm_heap_floor)
        sf_dir = os.path.join(work, "sf")
        copy_fixtures(DEFAULT_SF_DIR, sf_dir)

        from hive_backend_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        jvm = probes.jvm_pid()
        try:
            ctx = Ctx(spark, sf_dir, work, random.Random(args.seed), NullTracer(), jvm=jvm)
            wl = WORKLOADS[args.workload](ctx)
            warm = wl.warmup()
            setup_s = time.perf_counter() - T_START

            layer = None
            if args.trace:
                ctx.tracer = Tracer()
                ctx.tracer.install()
                ctx.counters = probes.SparkCounters(spark.sparkContext)
                ctx.stream.clear()
                passes = [wl.run_pass()]
                ctx.tracer.uninstall()
                layer = per_layer(ctx, ctx.tracer.spans, get_spark_s)
                ctx.tracer.dump(os.path.join(BUILD, f"spans-{args.workload}.jsonl"))
            else:
                passes = run_passes(wl, args.seconds)
            rss_mb = {"python": probes.vm_hwm_mb(os.getpid()), "jvm": probes.vm_hwm_mb(jvm)}
        finally:
            stop_spark(spark, jvm)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for p in passes for o in p]
    checked = warm + ops
    failed = [o for o in checked if not o.ok]
    lat = [o.seconds for o in ops]
    tail_s, tail_pct = stats.tail(lat)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(sum(o.seconds for o in p) for p in passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "success_rate": 1 - len(failed) / len(checked),
        "peak_rss_mb": rss_mb["python"] + rss_mb["jvm"],
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_at_start": [load1, load5, load15],
        "cpu_steal_share": probes.steal_share(ticks0, probes.machine_cpu_ticks()),
        "passes": len(passes),
        "op_samples": len(lat),
        "op_tail_percentile": tail_pct,
        "peak_rss_mb_by_process": rss_mb,
        "failed_ops": [{"op": o.name, "why": o.note} for o in failed],
        "warmup_ops": [[o.name, round(o.seconds, 4)] for o in warm],
        "ops": [[o.name, round(o.seconds, 4)] for o in ops],
        "end_to_end": e2e,
        "run_s": time.perf_counter() - T_START,
    }
    if args.trace:
        context["dedup_layer"] = {k: v for k, v in layer.items() if k.startswith("dedup.")}
        metrics = {k: v for k, v in layer.items() if not k.startswith("dedup.")}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(checked),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
