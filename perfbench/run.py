#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload qc_query --seed 1 --seconds 10 --trace 0

Run from the repository root. Makes the workload's inputs from
``--seed`` under ``.bench_work/``, starts one SparkSession at
``local[4]`` through ``sentinel_spark.session``, prepares the workload
three times and warms it up once (``setup_s`` is the median
preparation plus the warm-up), measures for ``--seconds`` seconds in
whole rounds, checks every output outside the timed region and prints
one JSON line last: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1`` (Spark event log on, spans recorded and written to
``.bench_work/traces/``).
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEMORY = "2g"
PREPARATIONS = 3  # per run; setup_s counts their median
WORKLOADS = ("qc_query", "stream_admit", "corpus_build")


def _workload(name: str):
    if name == "qc_query":
        from qc_query import QcQuery
        return QcQuery
    if name == "corpus_build":
        from corpus_build import CorpusBuild
        return CorpusBuild
    from stream_admit import StreamAdmit
    return StreamAdmit


def start_spark(work: str, trace: bool):
    from sentinel_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # a fixed, pre-touched heap: peak_rss_mb then moves with the Python
        # driver and the JVM's off-heap memory, not with when G1 chose to
        # grow the heap (which spread peak RSS by 12-15% between runs);
        # heap retention is jvm.heap_retained_mb of the traced run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        os.makedirs(f"{work}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm() -> None:
    """Restart this process's ``VmHWM`` at its current resident size, so
    the benchmark's own input generation does not count."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(spark) -> float:
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _hwm_mb(os.getpid()) + _hwm_mb(int(jvm))


def collect_garbage(spark):
    """Full collections in the driver's Python and JVM. Before the timed
    loop, so every run starts it from the same heap state: without it a
    build either did or did not take a ~1 s collection left over from the
    warm-up, and build latencies split into two groups 2 s apart."""
    gc.collect()
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    return mem


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection."""
    return collect_garbage(spark).getHeapMemoryUsage().getUsed() / 2**20


def latency_ms(ops: list[dict], latency) -> float:
    """Geometric mean over operation kinds of each kind's median latency.

    One median over a mixture whose kinds cost 100 ms to 1 s jumps
    between neighbouring kinds from run to run (three runs of one seed
    gave 388, 396 and 471 ms while throughput held within 5%); per-kind
    medians combined by a geometric mean weigh every kind equally and
    move with any of them."""
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op["kind"], []).append(latency(op))
    meds = [statistics.median(v) for v in by_kind.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def _counted_roots(spans: list[dict], first: int, n: int) -> set[int]:
    """The first ``n`` request spans opened at or after span ``first``:
    the first round of the timed loop, whose counters repeat exactly."""
    roots = [i for i in range(first, len(spans)) if spans[i]["parent"] == -1 and spans[i]["name"] == "request"]
    return set(roots[:n])


def run(args, work: str, spec: dict) -> dict:
    from tracing import EventLog, Tracer, event_log_files, layer_report

    cls = _workload(args.workload)
    t0 = time.perf_counter()
    w = cls(args.seed, work)
    inputs_s = time.perf_counter() - t0
    tracer = Tracer(bool(args.trace))
    reset_hwm()
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    session_ms = (time.perf_counter() - t0) * 1000.0
    try:
        preps = []
        for i in range(PREPARATIONS):
            t0 = time.perf_counter()
            w.prepare(spark, tracer, i)
            preps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.warm_up(spark, tracer)
        warm_s = time.perf_counter() - t0
        collect_garbage(spark)
        first_span = len(tracer.spans)
        t0 = time.perf_counter()
        ops = w.run(spark, tracer, args.seconds, w.min_rounds * w.round_len)
        elapsed = time.perf_counter() - t0
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        # before the checks, which scan the inputs in this process
        rss = peak_rss_mb(spark)
        heap = retained_heap_mb(spark) if args.trace else 0.0
        t0 = time.perf_counter()
        ok = w.check(spark, ops)
        check_s = time.perf_counter() - t0
    finally:
        stop_spark(spark)
    print(f"perfbench: inputs {inputs_s:.1f}s, session {session_ms / 1000:.1f}s, preparations "
          f"{', '.join(f'{x:.2f}' for x in preps)}s, warm-up {warm_s:.1f}s, measured {elapsed:.1f}s "
          f"({len(ops)} ops), checks {check_s:.1f}s", file=sys.stderr)

    e2e = {
        "setup_s": statistics.median(preps) + warm_s,
        "latency_ms": latency_ms(ops, w.latency_ms),
        "throughput_per_s": sum(op["items"] for op in ops) / elapsed,
        "peak_rss_mb": rss,
    }
    result = {"correct": all(ok), "attempted": len(ops), "failed": ok.count(False)}
    if not args.trace:
        values = e2e
        names = spec["end_to_end"]
    else:
        counted = _counted_roots(tracer.spans, first_span, w.round_len)
        counted_ops = ops[: w.round_len]
        rep = layer_report(tracer.spans, EventLog(event_log_files(f"{work}/events")), counted)
        tot, per_layer = rep["total"], rep["per_layer"]
        out = f"{ROOT}/.bench_work/traces/{args.workload}-seed{args.seed}"
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tracer.write(f"{out}.spans.json")
        with open(f"{out}.layers.json", "w") as fh:
            json.dump({"ops": ops, "total": tot, "per_layer": per_layer}, fh, indent=1)
        n = len(counted)
        # a layer this workload does not reach reads 0
        values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        values.update({f"spark.{k}": tot[k] / n for k in (
            "jobs", "stages", "tasks", "failed_tasks", "executor_cpu_ms", "scheduler_delay_ms",
            "jvm_gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "plan_ms", "exec_ms")})
        values.update({
            "driver.build_ms": tot["build_ms"] / n,
            "driver.eager_jobs": tot["eager_jobs"] / n,
            "plan.exchanges": tot["exchanges"] / n,
            "plan.broadcasts": tot["broadcasts"] / n,
            "plan.scans": tot["scans"] / n,
            "cache.persisted_after_release": persisted,
            "jvm.heap_retained_mb": heap,
            "session.start_ms": session_ms,
            "traced.latency_ms": e2e["latency_ms"],
            "traced.throughput_per_s": e2e["throughput_per_s"],
        })
        values.update(w.layer_metrics(counted_ops, tot, per_layer))
        names = spec["per_layer"]
    result["metrics"] = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sentinel_spark", "__init__.py")):
        print(f"perfbench: no sentinel_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(1, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ.update(TZ="UTC", TMPDIR=f"{work}/tmp")
    time.tzset()
    for k in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    try:
        result = run(args, work, spec)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
