"""`lanes`: batch curation and analytics through the registered query lanes.

A fixed roster of oracle-backed lanes, two from each query module,
runs in an order the seed permutes.  Each lane is forced with the
`noop` sink, as ``bench.py`` does.  Set-up is ``bench.py``'s
scan-layout rewrite; the warm-up pass collects every lane once and
compares each result with its DuckDB oracle.  Routing, index builds
and the write path do almost nothing here.

The roster is a subset of lanes that need no persisted index, because
one warm pass over every lane takes about a minute even at the
smallest scale on four cores, and the index builds another twenty
seconds: longer than a whole benchmark run may take.
"""

from __future__ import annotations

import gc
import glob
import os
import random
import sys
import time

from perfbench import datagen
from perfbench.common import Ctx, Op, closed_loop, dir_bytes, tree_cpu_s

SF = 0.001

ROSTER = (
    "q05", "q18",  # relational
    "r05", "r12",  # restructure_ops
    "d01", "d06",  # dedup_ops
    "t12", "t27",  # text_ops
    "v16", "v22",  # vector_ops
)


def write_inputs(seed: int, data_dir: str) -> None:
    datagen.write_tables(datagen.make_tables(seed, SF), data_dir)


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def roster(registry: dict) -> dict:
    by_prefix = {name.split("_")[0]: q for name, q in registry.items()}
    missing = [p for p in ROSTER if p not in by_prefix]
    if missing:
        raise KeyError(f"lanes missing from the registry: {missing}")
    return {p: by_prefix[p] for p in ROSTER}


def pass_order(seed: int, pass_no: int) -> list[str]:
    order = list(ROSTER)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


def scrub(i: int) -> None:
    """bench.py's cache hygiene: every tenth lane release the tracked
    persists and let the ContextCleaner drain, outside the timed span."""
    if i % 10 == 9:
        from deeplake_spark.operators.dedup import release_cached

        release_cached()
        gc.collect()
        time.sleep(0.3)


def setup(ctx: Ctx) -> dict:
    from deeplake_spark.io import build_scan_cache
    from deeplake_spark.queries import load_all

    t0 = time.perf_counter()
    build_scan_cache(ctx.spark, ctx.data_dir)
    ctx.layer["io.scan_ingest_s"] = time.perf_counter() - t0
    return {"lanes": roster(load_all()), "failed": set()}


def warm_up(ctx: Ctx, state: dict) -> None:
    """Collect each lane once (compiles its plans) and compare it with
    its DuckDB oracle; a lane that fails fails all its timed runs."""
    from tests.oracle import canon, run_oracle

    for i, (prefix, q) in enumerate(state["lanes"].items()):
        try:
            got = q.fn(ctx.spark, ctx.data_dir).toPandas()
            if q.oracle and canon(got) != canon(run_oracle(q.oracle, ctx.data_dir)):
                print(f"perfbench: lane {prefix} differs from its oracle",
                      file=sys.stderr)
                state["failed"].add(prefix)
        except Exception as exc:  # a broken lane is a failed op, not a crash
            print(f"perfbench: lane {prefix} failed: {exc}", file=sys.stderr)
            state["failed"].add(prefix)
        scrub(i)
    # bytes the program wrote (scan-layout copies, memoized indexes) per
    # byte of the input tables
    written = sum(dir_bytes(d)[0] for d in glob.glob(
        os.path.join(os.environ["TMPDIR"], "*")))
    source = sum(os.path.getsize(f) for f in glob.glob(
        os.path.join(ctx.data_dir, "*.parquet")))
    state["bytes_per_user_byte"] = written / source


def run(ctx: Ctx, state: dict, tracer, seconds: float) -> tuple[list[Op], float]:
    spark, sf_dir, lanes = ctx.spark, ctx.data_dir, state["lanes"]
    module_s: dict[str, float] = {}

    def one_pass(pass_no: int) -> list[Op]:
        ops = []
        for i, prefix in enumerate(pass_order(ctx.seed, pass_no)):
            q = lanes[prefix]
            ok = prefix not in state["failed"]
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                with tracer.span("op", lane=prefix):
                    with tracer.span("construct"):
                        df = q.fn(spark, sf_dir)
                    if tracer.on:
                        with tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec"):
                        force(df)
            except Exception as exc:
                print(f"perfbench: lane {prefix} failed: {exc}",
                      file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - c0
            mod = q.fn.__module__.rsplit(".", 1)[-1]
            module_s[mod] = module_s.get(mod, 0.0) + dt
            ops.append(Op(prefix, dt, ok, cpu))
            scrub(i)
        return ops

    ops, wall = closed_loop(seconds, one_pass)
    passes = max(1, len(ops) // len(ROSTER))
    for mod in ("dedup_ops", "relational", "restructure_ops", "text_ops",
                "vector_ops"):
        ctx.layer[f"queries.{mod}_s"] = module_s.get(mod, 0.0) / passes
    return ops, wall
