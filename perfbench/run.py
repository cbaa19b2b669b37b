"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload {lanes,search} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric of BENCHMARK.json with
``--trace 0``, every per-layer metric with ``--trace 1``).  With
``--trace 1`` the same timed loop runs traced, and a short fixed Spark
job times the host before and after it.  Everything else goes to
standard error.

Each run generates its inputs from the seed into a private directory
under ``.perfbench_run/`` (also its TMPDIR, Spark local dir, JVM temp
dir and warehouse) and deletes it at exit.  The traced run writes its
spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lanes", "search")
DRIVER_MEMORY = "2g"

#: span names of the timed loop whose per-operation self time is
#: reported (a workload reports those of its set-up spans itself)
SELF_SPANS = ("op", "parse", "construct", "plan", "exec", "spark_job")


def isolate(run_dir: str) -> None:
    """Point every temp/scratch location of this process and its JVM
    into `run_dir`, before anything imports pyspark or tempfile paths."""
    for sub in ("tmp", "local", "jtmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
        # no /tmp/hsperfdata_<user> either: the run writes only under run_dir
        f"--driver-java-options '-Djava.io.tmpdir={run_dir}/jtmp -XX:-UsePerfData'",
        "pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # derby.log / metastore_db land here too


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def host_probe(spark) -> float:
    """Seconds of a fixed small Spark job (hash, group, count), best of
    three after one untimed pass: the host's speed at that moment,
    comparable between runs on one host.  ``bench.calibration_probe``
    does the same at a size that costs about a minute per call on four
    cores, more than a traced run can spend twice."""
    df = (spark.range(0, 400_000, 1, 8)
          .selectExpr("substr(md5(cast(id AS string)), 1, 2) AS k")
          .groupBy("k").count())
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    return min(times[1:])


def settle(spark) -> None:
    """Collect garbage in Python and in the JVM before the timed loop,
    so that a collection the set-up left due does not land in it."""
    import gc

    gc.collect()
    spark._jvm.java.lang.System.gc()


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def kind_p50_s(ops, field: str = "latency_s") -> dict[str, float]:
    """Median `field` (latency or CPU) of each operation kind's
    successful operations."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            by_kind.setdefault(o.kind, []).append(getattr(o, field))
    return {k: statistics.median(v) for k, v in by_kind.items()}


def typical_ms(ops) -> float:
    """Geometric mean over operation kinds of each kind's median
    latency.  A pass mixes kinds that differ tenfold in cost, so the
    plain median of a run jumps between kinds as they reorder; this
    weighs every kind once and moves with each of them."""
    p50 = kind_p50_s(ops)
    if not p50:
        return float("nan")
    return 1000.0 * math.exp(statistics.fmean(math.log(v) for v in p50.values()))


def cpu_ms_per_op(ops) -> float:
    """CPU milliseconds per operation over one pass of the workload's
    sequence (each kind once), each kind taking its median CPU time.
    A run stops part-way through a pass and the kinds differ tenfold in
    cost, so CPU over loop time would depend on where the cut fell."""
    p50 = kind_p50_s(ops, "cpu_s")
    return 1000.0 * statistics.fmean(p50.values()) if p50 else float("nan")


def layer_metrics(ctx, tracer, ops, cores: int) -> dict:
    """Per-operation means of the traced loop, by layer."""
    n = max(1, len(ops))
    c = tracer.counts
    mean = {name: sum(tracer.durations(name)) / n
            for name in ("construct", "plan", "exec")}
    op_time = sum(tracer.durations("op"))
    jobs = sum(v for k, v in c.items() if k.startswith("jobs."))
    out = {
        "construct_s": mean["construct"],
        "py4j_calls": c.get("py4j.construct", 0.0) / n,
        "construct_jobs": c.get("jobs.construct", 0.0) / n,
        "plan_s": mean["plan"],
        "exec_s": mean["exec"],
        "jobs": jobs / n,
        "exec.cpu_util": c.get("cpu_s", 0.0) / max(1e-9, op_time * cores),
    }
    for key in ("stages", "tasks", "cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "input_records"):
        out[key] = c.get(key, 0.0) / n
    self_t = tracer.self_times()
    for name in SELF_SPANS:
        out[f"self.{name}_s"] = self_t.get(name, 0.0) / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("deeplake_spark/__init__.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    with open(spec_path) as f:
        spec = json.load(f)

    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    load_start = os.getloadavg()[0]
    isolate(run_dir)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import importlib

        from perfbench.common import Ctx
        from perfbench.trace import NullTracer, Tracer

        wl = importlib.import_module(f"perfbench.{args.workload}")
        data_dir = os.path.join(run_dir, "data")
        wl.write_inputs(args.seed, data_dir)
        cores = len(os.sched_getaffinity(0))

        t_setup = time.perf_counter()
        from deeplake_spark import get_spark

        spark = get_spark("perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, args.seed, run_dir, data_dir, cores,
                  trace=bool(args.trace))
        ctx.layer["session.start_s"] = time.perf_counter() - t_setup
        state = wl.setup(ctx)
        wl.warm_up(ctx, state)
        setup_s = time.perf_counter() - t_setup
        settle(spark)

        if args.trace:
            ctx.layer["host.probe_start_s"] = host_probe(spark)
        tracer = Tracer(spark) if args.trace else NullTracer()
        try:
            ops, _wall = wl.run(ctx, state, tracer, args.seconds)
        finally:
            tracer.close()
        attempted, failed = len(ops), sum(not o.ok for o in ops)
        if args.trace:
            ctx.layer.update(layer_metrics(ctx, tracer, ops, cores))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"),
                setup=ctx.setup_spans)
            ctx.layer["host.probe_end_s"] = host_probe(spark)
        if hasattr(wl, "finish"):
            attempted += 1
            failed += not wl.finish(ctx, state)

        if args.trace:
            jvm = spark._jvm.java.lang.Runtime.getRuntime()
            from pyspark import SparkContext

            ctx.layer.update({
                "session.jvm_heap_used_mb":
                    (jvm.totalMemory() - jvm.freeMemory()) / 2**20,
                "session.driver_rss_mb": rss_mb(SparkContext._gateway.proc.pid),
                "host.load_start": load_start,
                "host.load_end": os.getloadavg()[0],
                "trace.op_typical_ms": typical_ms(ops),
                "trace.cpu_ms_per_op": cpu_ms_per_op(ops),
            })
            values = {m["name"]: ctx.layer.get(m["name"], 0.0)
                      for m in spec["per_layer"]}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            values = {
                "setup_s": setup_s,
                "cpu_ms_per_op": cpu_ms_per_op(ops),
                "bytes_per_user_byte": state["bytes_per_user_byte"],
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        print(f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} "
              f"setup_s={setup_s:.3f} load={load_start:.2f}->"
              f"{os.getloadavg()[0]:.2f} p50_ms_by_kind=" + json.dumps(
                  {k: round(1000 * v, 1) for k, v in kind_p50_s(ops).items()}),
              file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": float(values[name]), "unit": unit}
                        for name, unit in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
