"""Repo benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest_landing --seed 1 --seconds 10 --trace 0

Builds the inputs from the seed inside the checkout (``.perfbench/``,
git-ignored), starts local Spark on at most ``nproc`` cores, runs the
engine's first job and, for ingest_landing, one small operation of the
workload (set-up),
runs the workload's operations until ``--seconds`` have passed (at
least one), checks every output, and prints one JSON line last on
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans and counters around the benchmark's calls into each layer, reports
the per-layer metrics and writes the spans to
``.perfbench/out/trace-<workload>-<seed>.json``. Every result is also
appended, with the machine facts needed to compare runs (nproc, cores
used, Spark and Java versions), to ``.perfbench/out/results.jsonl``.
Runs are compared on one machine only; nothing is rescaled across hosts.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "datalake_scripts_spark"

WORKLOADS = {
    "ingest_landing": "w_ingest",
    "olap_star": "w_olap",
    "dedup_corpus": "w_dedup",
}


class Ctx:
    """What a workload sees: the session, its tracer, its directories,
    the seed and the measuring time."""

    def __init__(self, spark, trace, work, data, seed, seconds, scale=1.0, cpu=None):
        self.spark = spark
        self.cpu = cpu  # CpuMeter: CPU seconds used so far
        self.trace = trace
        self.work = work
        self.data = data
        self.seed = seed
        self.seconds = seconds
        self.scale = scale

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def guard(self, fn, *args) -> dict:
        """Run one operation under an ``op`` span (the parent of its layer
        spans); an exception counts as a failed operation."""
        try:
            with self.trace.span("op"):
                return fn(*args)
        except Exception:
            self.log("operation failed:\n" + traceback.format_exc())
            return {"op_s": None, "cpu_s": None, "items": 0, "ok": False, "layer": {}}


def configure_env(root: str) -> dict:
    """Cores, scratch dirs and the workers' import path, set before the
    JVM starts so both the JVM and its Python workers inherit them."""
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    want = os.environ.get("SPARK_GRAFT_CPUS", "")
    cores = min(nproc, int(want)) if want.isdigit() and int(want) > 0 else nproc
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # glibc's per-thread malloc arenas make a many-threaded JVM's native
    # RSS swing by gigabytes run to run; Hadoop caps them at 4 too
    os.environ["MALLOC_ARENA_MAX"] = "4"
    local = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # temporary files stay in the checkout too: every JVM started here
    # (the launcher's as well) and every Python process
    os.environ["TMPDIR"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={local}", "-XX:-UsePerfData"]))
    # Python workers import the package by name; they start from the
    # JVM's environment, not the driver's sys.path
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if root not in sys.path:
        sys.path.insert(0, root)
    return {"nproc": nproc, "cores": cores, "want": want}


def start_spark(tmp: str):
    from datalake_scripts_spark.session import get_spark

    derby_log = os.path.join(tmp, "derby.log")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # fixed sets of JIT compiler and GC threads, so that CpuMeter
            # can leave their time out of operation times
            "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads "
                                             "-XX:-UseDynamicNumberOfGCThreads "
                                             f"-Dderby.stream.error.file={derby_log}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def warm_up(spark) -> None:
    """The engine's first job (scheduler, codegen, one shuffle)."""
    spark.range(1000).selectExpr("id % 10 AS k").groupBy("k").count().collect()


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


# per-layer metrics read from spans: name -> (span names, field)
SPAN_METRICS = {
    "io.read_json_s": (("io.read_json",), "dur"),
    "io.input_bytes": (("io.read_json",), "input_bytes"),
    "io.write_jdbc_s": (("io.write_jdbc",), "dur"),
    "plans.call_s": (("plans.call",), "dur"),
    "plans.eager_jobs": (("plans.call",), "jobs"),
    "plans.materialize_s": (("plans.materialize",), "dur"),
    "versioned.write_s": (("versioned.write",), "dur"),
    "versioned.merge_s": (("versioned.merge",), "dur"),
    "sinks.batch_commit_s": (("sinks.batch_commit",), "dur"),
    "queries.build_s": (("queries.build",), "dur"),
    "queries.exec_s": (("queries.exec",), "dur"),
    "queries.jobs": (("queries.build", "queries.exec"), "jobs"),
    "queries.tasks": (("queries.build", "queries.exec"), "tasks"),
    "queries.shuffle_write_bytes": (("queries.build", "queries.exec"), "shuffle_write_bytes"),
    "text.quality_s": (("text.quality",), "dur"),
    "dedup.exact_s": (("dedup.exact",), "dur"),
    "dedup.minhash_lsh_s": (("dedup.minhash_lsh",), "dur"),
    "dedup.clusters_s": (("dedup.clusters",), "dur"),
    "similarity.embedding_pairs_s": (("similarity.embedding_pairs",), "dur"),
    "dedup.shuffle_write_bytes": (
        ("text.quality", "dedup.exact", "dedup.minhash_lsh", "dedup.clusters",
         "similarity.embedding_pairs"), "shuffle_write_bytes"),
}


def _span_value(s: dict, field: str) -> float:
    if field == "dur":
        return s["end"] - s["start"]
    return s["counters"].get(field, 0)


def per_layer(tracer, ops: list[dict], session_s: float, counters: dict, mem: dict) -> dict:
    """Median over operations of each layer's per-operation value."""
    from perfbench.common import PER_LAYER, QUERY_NAMES, median

    by_op: dict = {}
    for s in tracer.spans:
        if "end" in s and s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    vals = {name: 0.0 for name, _, _ in PER_LAYER}
    for name, (spans, field) in SPAN_METRICS.items():
        per_op = [
            sum(_span_value(s, field) for s in ss if s["name"] in spans)
            for ss in by_op.values() if any(s["name"] in spans for s in ss)
        ]
        vals[name] = median(per_op)
    ratio = [
        sum(s["counters"]["task_ms"] for s in ss if s["name"] == "queries.exec") / 1000.0
        / max(1e-9, sum(s["end"] - s["start"] for s in ss if s["name"] == "queries.exec"))
        for ss in by_op.values() if any(s["name"] == "queries.exec" for s in ss)
    ]
    vals["queries.task_s_per_wall_s"] = median(ratio)
    for q in QUERY_NAMES:
        vals[f"queries.{q}.exec_s"] = median([
            s["end"] - s["start"] for s in tracer.by_name("queries.exec")
            if s["attrs"].get("query") == q and s["op"] is not None
        ])
    keys = {k for op in ops for k in op.get("layer", {})}
    for k in keys:
        vals[k] = median([op["layer"][k] for op in ops if k in op.get("layer", {})])
    vals["session.start_s"] = session_s
    vals["spark.gc_s"] = counters.get("gc_ms", 0) / 1000.0
    vals["spark.tasks_failed"] = counters.get("tasks_failed", 0)
    vals.update(mem)
    return vals


def op_stats(ops: list[dict], key: str) -> dict:
    """p50/p90 of one per-operation time (``op_s`` wall or ``cpu_s``)
    over the correct operations, and operations and items per second of
    it. olap_star's operations carry a ``query``: its percentiles are
    over the per-query medians, so every run weighs the same queries."""
    from perfbench.common import median, quantile

    good = [op for op in ops if op["ok"] and op[key] is not None]
    busy = sum(op[key] for op in good) if good else float("nan")
    by_q: dict = {}
    for op in good:
        by_q.setdefault(op.get("query"), []).append(op[key])
    times = [median(t) for t in by_q.values()] or [float("nan")]
    return {
        "p50": median(times),
        "p90": quantile(times, 0.9),
        "ops_per_s": len(good) / busy,
        "items_per_s": sum(op["items"] for op in good) / busy,
    }


def end_to_end(checked: list[dict], ops: list[dict], setup_cpu_s: float) -> dict:
    """``checked``: every operation whose output was checked, set-up's
    included; ``ops``: the measured ones."""
    cpu = op_stats(ops, "cpu_s")
    return {
        "setup_s": setup_cpu_s,
        "ops_ok_ratio": sum(1 for op in checked if op["ok"]) / max(1, len(checked)),
        "op_cpu_s_p50": cpu["p50"],
        "ops_per_cpu_s": cpu["ops_per_s"],
        "items_per_cpu_s": cpu["items_per_s"],
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a tiny scale)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ not found next to perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    env = configure_env(ROOT)
    from perfbench.common import (END_TO_END, PER_LAYER, Counters, CpuMeter, RssSampler,
                                  Tracer, heap_peak_mb, now)

    mod = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(base, "data")
    out = os.path.join(base, "out")
    os.makedirs(out, exist_ok=True)

    # inputs that do not depend on the seed are built once per checkout
    if hasattr(mod, "build"):
        mod.build(data, Ctx.log)

    t0, py0 = now(), os.times()
    spark = start_spark(os.environ["SPARK_LOCAL_DIRS"])
    session_s = now() - t0
    sc = spark.sparkContext
    cpu = CpuMeter(sc._gateway.proc.pid)
    sampler = RssSampler(sc._gateway.proc.pid).start()
    try:
        run_id = uuid.uuid4().hex[:12]
        tracer = Tracer(spark, bool(args.trace), run_id)
        ctx = Ctx(spark, tracer, work, data, args.seed, args.seconds, args.scale, cpu)
        t1 = now()
        warm_up(spark)
        if hasattr(mod, "setup"):
            mod.setup(ctx)
        # one small operation pays the workload's first-use costs; its
        # gates count, its times do not
        tracer.op = None
        warm_ops = mod.warm(ctx) if hasattr(mod, "warm") else []
        setup_s = session_s + (now() - t1)
        # the JVM's whole CPU so far (it started with the session), its
        # runtime threads included, minus what this Python process had
        # used before it
        setup_cpu_s = cpu.total() - (py0.user + py0.system)
        rt0 = cpu.runtime()
        c0 = Counters(spark).snap() if args.trace else None
        t2 = now()
        res = mod.run(ctx)
        Ctx.log(f"phases: session {session_s:.1f} s, warm-up {t2 - t1:.1f} s, "
                f"run {now() - t2:.1f} s")
        counters = Counters.diff(c0, Counters(spark).snap()) if args.trace else {}
        rt1 = cpu.runtime()
        heap_mb = heap_peak_mb(spark)
        ops = res["ops"]
        checked = warm_ops + ops
        versions = {
            "spark": spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
        }
    finally:
        rss_mb = sampler.stop()
        stop_spark(spark)

    attempted = len(checked)
    failed = sum(1 for op in checked if not op["ok"])
    if args.trace:
        metrics = per_layer(tracer, ops, session_s, counters, {
            "spark.heap_peak_mb": heap_mb,
            "jvm.jit_cpu_s": rt1["jit"] - rt0["jit"],
            "jvm.gc_cpu_s": rt1["gc"] - rt0["gc"],
            "mem.rss_peak_mb": rss_mb,
            "mem.jvm_rss_peak_mb": sampler.peak_jvm_kb / 1024.0,
            "mem.workers_pss_peak_mb": sampler.peak_workers_kb / 1024.0,
        })
        units = {n: u for n, u, _ in PER_LAYER}
    else:
        metrics = end_to_end(checked, ops, setup_cpu_s)
        units = {n: u for n, u, _, _ in END_TO_END}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    record = {
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "run_id": run_id,
        "env": {"nproc": env["nproc"], "cores_used": env["cores"],
                "SPARK_GRAFT_CPUS": env["want"], **versions},
        "inputs": res.get("inputs", {}),
        "wall": {"setup_s": setup_s, **{f"op_s_{k}": v for k, v in op_stats(ops, "op_s").items()}},
        **result,
    }
    if args.trace:
        record["trace"] = trace_report(tracer, out, args, res)
    with open(os.path.join(out, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"env": record["env"], "inputs": record["inputs"],
                      "wall": record["wall"]}))
    print(json.dumps(result))
    return 0


def trace_report(tracer, out: str, args, res: dict) -> dict:
    """Write spans + per-name self times; the tracing overhead is this
    run's median operation time minus that of the latest untraced run of
    the same workload, seed and length on this checkout."""
    traced = op_stats(res["ops"], "op_s")["p50"]
    untraced = None
    path = os.path.join(out, "results.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                if (r["workload"], r["seed"], r["seconds"], r["trace"], r.get("scale")) == (
                        args.workload, args.seed, args.seconds, 0, args.scale) and "wall" in r:
                    untraced = r["wall"]["op_s_p50"]
    summary = {
        "op_s_p50_traced": traced,
        "op_s_p50_untraced": untraced,
        "overhead_s": None if untraced is None else traced - untraced,
        "spans": tracer.report(),
    }
    with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"run_id": tracer.run_id, "summary": summary,
                   "spans": tracer.spans}, f, default=str)
    print("[perfbench] tracing overhead: "
          + ("no untraced run of this seed on record" if untraced is None
             else f"{summary['overhead_s']:+.3f} s per operation "
                  f"({traced:.3f} traced vs {untraced:.3f} untraced)"),
          file=sys.stderr)
    return {k: v for k, v in summary.items() if k != "spans"}


if __name__ == "__main__":
    sys.exit(main())
