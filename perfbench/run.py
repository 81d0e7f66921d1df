"""Benchmark runner for fs2_kafka_streams_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload changelog_upsert --seed 1 \
        --seconds 28 --trace 0

Runs one seeded workload on ``local[<cores>]``: set-up is repeated and its
median reported, then the workload's operation runs as many times as fit
its nominal length into ``--seconds``. Every operation's output is checked
against an oracle.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
print every metric by name and unit, and a full result (inputs, live confs,
host probes, per-layer detail) is written under ``.perfbench_runs/``;
a traced run also writes its spans there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def box_env(work: str) -> dict[str, str]:
    """Session sizing for this host and the directories Spark may write to.
    Everything the run writes stays under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(512, min(2048, total_mb // 4))}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.ui.enabled": "false",
    }


def live_confs(spark) -> dict:
    from fs2_kafka_streams_spark.streaming.conf import STREAM_PERF_CONF

    keys = ["spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.streaming.stateStore.providerClass",
            "spark.sql.autoBroadcastJoinThreshold"]
    return {
        "session": {k: spark.conf.get(k, None) for k in keys},
        "stream_perf_conf (pinned around every upsert-sink query)": STREAM_PERF_CONF,
        "env": {k: os.environ.get(k) for k in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MASTER")},
        "host_cpus": len(os.sched_getaffinity(0)),
    }


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def exec_layers(store, jobs: list[dict], n_ops: int) -> dict:
    """Job and stage totals of the measured region."""
    tot = store.stage_metrics({s for j in jobs for s in j["stages"]})
    d = {"exec.jobs": len(jobs), **{f"exec.{k}": v for k, v in tot.items()}}
    d["exec.jobs_per_op"] = len(jobs) / n_ops
    d["exec.input_rows_per_op"] = tot["input_records"] / n_ops
    return d


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fs2_kafka_streams_spark", "__init__.py")):
        print("perfbench: the package under test, fs2_kafka_streams_spark/, "
              f"is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    runs = os.path.join(ROOT, ".perfbench_runs")
    work = os.path.join(runs, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(box_env(work))  # before pyspark is imported
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        return run(args, runs, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, runs, work, workload_cls) -> int:
    import observe
    from fs2_kafka_streams_spark.session import get_spark

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = observe.Tracer(bool(args.trace), run_id)
    wl = workload_cls(os.path.join(work, "data"), args.seed, tracer)
    os.makedirs(wl.work)
    wl.generate()
    host = observe.host_probes(work)

    spark = None
    try:
        progress = observe.ProgressLog()
        sessions = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with tracer.span("session.get_spark", rep=rep):
                spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
                spark.range(1).count()
            sessions.append(time.perf_counter() - t0)
        spark.streams.addListener(progress)
        t0 = time.perf_counter()
        with tracer.span("session.warmup"):
            wl.warm_up(spark, progress)
        warmup_s = time.perf_counter() - t0
        confs = live_confs(spark)
        store = observe.StatusStore(spark)
        base_job = store.max_job_id()

        n_ops = max(1, round(args.seconds / wl.OP_SECONDS))
        t_start = time.perf_counter()
        for i in range(n_ops):
            tag = f"pbop{i}"
            if tracer.enabled:
                t_tag = time.perf_counter()
                spark.addTag(tag)
                tracer.bookkeeping_s += time.perf_counter() - t_tag
            try:
                wl.op(spark, i, progress)
            except Exception as e:  # one failed operation is counted, the loop goes on
                wl.fail(i, f"{type(e).__name__}: {e}")
            finally:
                if tracer.enabled:
                    t_tag = time.perf_counter()
                    spark.removeTag(tag)
                    tracer.bookkeeping_s += time.perf_counter() - t_tag
        attempted = n_ops
        measured_s = time.perf_counter() - t_start

        samples = wl.samples
        failed = len(wl.failures)
        ok = bool(samples) and failed == 0
        op_ms = [x for s in samples for x in s["op_ms"]]
        e2e = {
            "setup_s": (statistics.median(sessions) + warmup_s, "s"),
            "items_per_s": (sum(s["items"] for s in samples)
                            / max(1e-9, sum(s["seconds"] for s in samples)), "1/s"),
            "op_p50_ms": (statistics.median(op_ms) if op_ms else None, "ms"),
        }
        detail = {"setup_s": e2e["setup_s"],
                  **(wl.named_metrics(e2e["items_per_s"][0], e2e["op_p50_ms"][0])
                     if samples else {}),
                  "ops_failed_ratio": (failed / attempted, "ratio")}

        layers = {"session.get_spark_s": statistics.median(sessions),
                  "session.warmup_s": warmup_s,
                  **host}
        if tracer.enabled and samples:
            jobs = store.jobs_after(base_job)
            layers.update(exec_layers(store, jobs, attempted))
            layers.update(wl.layer_metrics(spark, jobs))
            layers["op.count"] = len(op_ms)
            layers["trace.op_p50_ms"] = e2e["op_p50_ms"][0]
            layers["trace.overhead_ms_per_op"] = tracer.bookkeeping_s * 1000 / attempted
            layers["trace.self_s"] = tracer.self_times()
    finally:
        if spark is not None:
            stop_session(spark)

    result = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "measured_s": measured_s, "correct": ok, "attempted": attempted,
        "failed": failed, "failures": wl.failures, "inputs": wl.inputs,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "named": detail, "per_layer": layers, "confs": confs,
        "session_reps_s": sessions, "warmup_s": warmup_s, "op_ms": op_ms,
    }
    with open(os.path.join(runs, f"{run_id}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    if tracer.enabled:
        tracer.write(os.path.join(runs, f"{run_id}.spans.json"))
        untraced = os.path.join(runs, f"{wl.name}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["op_p50_ms"]["value"]
            print(f"tracing overhead on op_p50_ms: "
                  f"{e2e['op_p50_ms'][0] - base:+.2f} ms vs the untraced run")

    print(f"# {wl.name} seed={args.seed} inputs={json.dumps(wl.inputs)}")
    for name, (v, unit) in detail.items():
        print(f"{name} = {v:.6g} {unit}")
    if tracer.enabled:
        for name, v in layers.items():
            if not isinstance(v, dict):
                print(f"{name} = {v:.6g}")
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer"]
        metrics = {m["name"]: {"value": layers.get(m["name"]), "unit": m["unit"]}
                   for m in declared}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
