#!/usr/bin/env python3
"""Benchmark of the Spark-native ETL engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root; ``README.md`` beside this file describes
the workloads, the metrics and which layer metric should move which
end-to-end metric. A run generates its inputs from ``--seed``, starts
Spark, stages its fixture and warms up with one untimed pass over the
workload's ops, then times whole passes: ``--seconds`` over the
workload's nominal pass time, rounded, but at least the workload's
minimum (two or three); a traced run traces the second. Output checks
run outside the timings. The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``), the line before
it run context.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

# Per workload: the documents generated, the nominal seconds of one
# timed pass (for ``etl_jobs`` a pass is one day), which turns --seconds
# into a pass count that does not depend on how fast this particular run
# went, and the fewest timed passes a run makes: each op's figure is its
# smallest over the passes, so a burst of load from other tenants of the
# host that slows one pass does not move it. An ``etl_jobs`` day takes
# about 6 s, but its nominal figure is 10 s so that a 20-second run times
# days 2 and 3 only, whose ops cost about the same: on every seed tried,
# both jobs of day 4 cost 1.6-2x the CPU of day 3 with the same Spark
# jobs (cause not yet found), and a per-op minimum over days would hide
# that day.
WORKLOADS = {
    "corpus_llm": {"docs": 800, "pass_s": 6.0, "min_passes": 3},
    "etl_jobs": {"docs": 300, "pass_s": 10.0, "min_passes": 2},
}

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "exec_mem_peak_mb": "MB",
}


def per_layer_units(workload: str) -> dict:
    """Per-layer metric names and units a traced run of ``workload``
    measures: the shared core, Catalyst, Spark and memory readings, plus
    the query layer for ``corpus_llm`` or the job, write and streaming
    layers for ``etl_jobs``."""
    from perfbench.etl import JOB_ORDER
    from perfbench.queries import FAMILIES

    units = {
        "core.session_start_s": "s",
        "core.warmup_s": "s",
        "core.fixture_s": "s",
        "core.verify_s": "s",
    }
    if workload == "corpus_llm":
        units.update(
            {
                "queries.build_s": "s",
                "queries.build_jobs": "count",
                "queries.exec_s": "s",
                "queries.exec_jobs": "count",
                "queries.exec_stages": "count",
                "queries.exec_tasks": "count",
            }
        )
        units.update({f"queries.{f}.op_s": "s" for f in FAMILIES})
    units.update(
        {
            "catalyst.plan_ms": "ms",
            "spark.task_s": "s",
            "spark.cpu_s": "s",
            "spark.gc_s": "s",
            "spark.scan_mb": "MB",
            "spark.shuffle_read_mb": "MB",
            "spark.shuffle_write_mb": "MB",
            "spark.spill_mb": "MB",
            "spark.output_mb": "MB",
            "core.cache_peak_mb": "MB",
            "core.heap_live_mb": "MB",
            "core.jvm_hwm_mb": "MB",
            "fail_share": "ratio",
            "trace.overhead_s": "s",
        }
    )
    if workload == "etl_jobs":
        for j in JOB_ORDER:
            units[f"jobs.{j}.s"] = "s"
            units[f"jobs.{j}.spark_jobs"] = "count"
        units.update(
            {
                "sources.write_s": "s",
                "sources.write_calls": "count",
                "sources.files_written": "count",
                "write_amp": "ratio",
                "streaming.batches": "count",
                "streaming.batch_ms_p50": "ms",
                "streaming.rows_in": "count",
                "streaming.jobs_per_batch": "count",
            }
        )
    return units


def all_per_layer_units() -> dict:
    """Every per-layer metric of every workload: a traced run emits all
    of them, with 0 for the layers its workload does not exercise."""
    units = {}
    for w in WORKLOADS:
        units.update(per_layer_units(w))
    return units


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes (Spark local dirs, JVM and Python
    temp files, warehouse dir) inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the run starts (the launcher and Spark's): temp files
    # in the checkout, and no hsperfdata file under /tmp. The JIT stops
    # at C1: with C2 on, the CPU cost of a pass was still falling by a
    # tenth or more per pass after nine passes (C2 recompiling Spark's
    # generated code), so no run this short reaches steady state and an
    # op's figure depends on its place in the order; with C1 alone ops
    # cost the same from the first pass after the warm-up on. The
    # collector is the serial one: G1's parallel and concurrent GC
    # threads spent more CPU the busier the shared host was, and with
    # them a pass's CPU seconds spread wider from run to run.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    )
    tempfile.tempdir = tmp


def start_session(work: str):
    """The Spark session of a run, on ``local[$SPARK_GRAFT_CPUS]``."""
    from spark_etl_agent_spark.core.session import SparkManager

    from perfbench.probes import SparkProbe

    manager = SparkManager(
        app_name="perfbench",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
            "spark.python.worker.idleTimeoutSeconds": "0",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": SparkProbe.RETAINED,
            "spark.ui.retainedStages": SparkProbe.RETAINED,
        },
    )
    return manager


def stop_session(manager) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        manager.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave it running
                proc.kill()
                proc.wait()


def spark_metrics(snap, ranges) -> dict:
    """Status-store sums over the jobs of one pass."""
    s = snap.sums(ranges)
    mb = 1 << 20
    return {
        "spark.task_s": s["executorRunTime"] / 1e3,
        "spark.cpu_s": s["executorCpuTime"] / 1e9,
        "spark.gc_s": s["jvmGcTime"] / 1e3,
        "spark.scan_mb": s["inputBytes"] / mb,
        "spark.shuffle_read_mb": s["shuffleReadBytes"] / mb,
        "spark.shuffle_write_mb": s["shuffleWriteBytes"] / mb,
        "spark.spill_mb": s["diskBytesSpilled"] / mb,
        "spark.output_mb": s["outputBytes"] / mb,
    }


def streaming_metrics(ops: list, snap) -> dict:
    """Micro-batch progress of one pass, with the Spark jobs that ran
    under each stream's run id."""
    batches = [b for r in ops for b in r["batches"]]
    run_ids = {b["run_id"] for b in batches}
    stream_jobs = 0
    for r in ops:
        groups = snap.job_groups(*r["j"])
        stream_jobs += sum(n for g, n in groups.items() if g in run_ids)
    return {
        "streaming.batches": len(batches),
        "streaming.batch_ms_p50": statistics.median([b["ms"] for b in batches]) if batches else 0.0,
        "streaming.rows_in": sum(b["rows"] for b in batches),
        "streaming.jobs_per_batch": stream_jobs / len(batches) if batches else 0.0,
    }


def pass_sums(ops: list, key: str = "s") -> dict:
    """Per timed pass, the sum of one op reading (latency by default)."""
    sums: dict = {}
    for r in ops:
        sums[r["pass"]] = sums.get(r["pass"], 0.0) + r[key]
    return sums


def best_pass(ops: list, key: str) -> float:
    """One op reading summed over a pass, taking for each op the smallest
    of its readings over the timed passes: load from other tenants of
    the host only ever adds to a reading."""
    per_op: dict = {}
    for r in ops:
        per_op.setdefault((r["pos"], r["name"]), []).append(r[key])
    return sum(min(v) for v in per_op.values())


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the JVM it started (the finally
    # blocks below run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)

    # the result line must be the only thing on stdout: the JVM and any
    # library output that targets fd 1 goes to stderr for the whole run
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result, context = run(args, WORKLOADS[args.workload], cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


def run(args, scale: dict, cores: int, work: str):
    sys.path.insert(0, ROOT)
    from bench import host_calibration

    from perfbench import datagen
    from perfbench.probes import CpuClock, OpTimer, SparkProbe, Tracer, median, percentile_tail

    cpu = CpuClock()
    t_setup = time.perf_counter()
    data_dir = os.path.join(work, "data")
    datagen.write_documents(data_dir, args.seed, scale["docs"])
    fixture_s = time.perf_counter() - t_setup

    c0, t0 = cpu.start(), time.perf_counter()
    cal_pre = host_calibration(data_dir, cores)
    calibration_s = time.perf_counter() - t0
    calibration_cpu = cpu.stop() - c0

    t0 = time.perf_counter()
    manager = start_session(work)
    try:
        spark = manager.spark
        from spark_etl_agent_spark.core.ship import ship_package

        ship_package(spark)
        session_start_s = time.perf_counter() - t0

        probe = SparkProbe(spark)
        tracer = Tracer()
        timer = OpTimer(spark, probe, tracer)
        if args.trace:
            probe.install_listeners()
        if args.workload == "etl_jobs":
            from perfbench.etl import EtlWorkload

            wl = EtlWorkload(spark, data_dir, work, args.seed, tracer)
        else:
            from perfbench.queries import QueryWorkload

            wl = QueryWorkload(spark, data_dir, args.seed, probe, tracer)

        t0 = time.perf_counter()
        wl.prepare()
        fixture_s += time.perf_counter() - t0

        t0 = time.perf_counter()
        wl.warm_up(timer)
        warm_s = time.perf_counter() - t0
        # set-up cost: CPU seconds of this process and everything it
        # started, from process start to here, without host calibration
        setup_cpu = cpu.stop() - calibration_cpu
        setup_wall = time.perf_counter() - T_PROCESS - calibration_s

        n_pass = max(scale["min_passes"], round(args.seconds / scale["pass_s"]))
        # a traced run traces its second pass; its overhead is measured
        # against the untraced passes around it
        traced_passes = {1} if args.trace else set()
        ops: list = []
        t_timed = time.perf_counter()
        for p in range(n_pass):
            tracer.enabled = p in traced_passes
            probe.arm(tracer.enabled)
            first = len(ops)
            wl.run_pass(ops, timer)
            for i, r in enumerate(ops[first:]):
                r["pass"], r["pos"] = p, i
        tracer.enabled = False
        probe.arm(False)
        timed_s = time.perf_counter() - t_timed

        snap = probe.snapshot()
        hwm = probe.jvm_hwm_mb()
        if args.workload == "etl_jobs":
            write_amp = wl.write_amp(ops, snap)
    finally:
        stop_session(manager)
    cal_post = host_calibration(data_dir, cores)
    t0 = time.perf_counter()
    wl.verify()
    verify_s = wl.verify_s + time.perf_counter() - t0

    lost = sum(snap.missing(*r["j"]) for r in ops)
    problems = list(wl.problems)
    if lost:
        problems.append(f"{lost} jobs missing from the status store")
    failed = sum(1 for r in ops if not r["ok"])

    walls = pass_sums(ops)
    latencies = [r["s"] for r in ops]
    tail = percentile_tail(latencies)
    per_pass = {}
    for p in sorted(walls):
        ranges = [r["j"] for r in ops if r["pass"] == p]
        per_pass[p] = {"wall_s": round(walls[p], 3)}
        per_pass[p].update(
            {k: round(v, 3) for k, v in spark_metrics(snap, ranges).items() if k.endswith("_mb")}
        )
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "scale": scale,
        "passes": n_pass,
        "ops": len(ops),
        # wall time and op latency: bursts of load from other tenants of
        # a shared host move them too much for a bound, so they are
        # context, not metrics (wall_s: per op its best pass, as cpu_s)
        "wall_s": best_pass(ops, "s"),
        "setup_wall_s": setup_wall,
        "op_p50_s": median(latencies),
        "op_tail": {"s": tail[0], "percentile": tail[1]} if tail else None,
        "checks_run": wl.checks_run,
        # per op: name, wall and CPU seconds, Spark jobs launched
        "op_s": [[r["name"], round(r["s"], 4), round(r["cpu_s"], 4), r["j"][1] - r["j"][0]] for r in ops],
        # wall seconds and the data each timed pass moved (scan,
        # shuffle, spill and output MB from the status store)
        "per_pass": per_pass,
        "problems": problems[:20],
        "host_calibration": {"pre": cal_pre, "post": cal_post},
        "phases_s": {
            "calibration": calibration_s,
            "session": session_start_s,
            "fixture": fixture_s,
            "warm_up": warm_s,
            "timed": timed_s,
            "verify": verify_s,
            "end": time.perf_counter() - T_PROCESS,
        },
    }

    if not args.trace:
        metrics = {
            "setup_s": setup_cpu,
            "cpu_s": best_pass(ops, "cpu_s"),
            "exec_mem_peak_mb": snap.sums([r["j"] for r in ops])["peak_mem"] / (1 << 20),
        }
        units = END_TO_END
    else:
        traced = [r for r in ops if r["pass"] in traced_passes]
        plain = pass_sums([r for r in ops if r["pass"] not in traced_passes])
        metrics = {
            "core.session_start_s": session_start_s,
            "core.warmup_s": warm_s,
            "core.fixture_s": fixture_s,
            "core.verify_s": verify_s,
            "catalyst.plan_ms": sum(r.get("plan_ms", 0) for r in traced),
            "core.cache_peak_mb": max(r.get("cache_mb", 0.0) for r in traced),
            "core.heap_live_mb": max(r.get("heap_mb", 0.0) for r in traced),
            "core.jvm_hwm_mb": hwm,
            "fail_share": failed / len(ops),
            "trace.overhead_s": sum(r["s"] for r in traced) - median(plain.values()),
        }
        metrics.update(spark_metrics(snap, [r["j"] for r in traced]))
        metrics.update(wl.per_layer(traced, snap))
        if args.workload == "etl_jobs":
            metrics["write_amp"] = write_amp
            metrics.update(streaming_metrics(traced, snap))
        own = per_layer_units(args.workload)
        missing = sorted(set(own) - set(metrics))
        if missing:
            raise RuntimeError(f"per-layer metrics not computed: {missing}")
        units = all_per_layer_units()
        metrics = {k: metrics.get(k, 0.0) for k in units}
        tracer.dump(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))

    result = {
        "correct": not problems and wl.checks_run > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, context


if __name__ == "__main__":
    sys.exit(main())
