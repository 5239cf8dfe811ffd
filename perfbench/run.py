"""Benchmark for sparkglm_spark: seeded closed-loop workloads.

    python3 perfbench/run.py --workload model_fit --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs operations back to back on
`local[nproc]` for `--seconds`, checks every operation's output, and
prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are the per-layer ones, measured on half the operations of each kind
(spans around the benchmark's calls into the program, Spark work read from
the status store, CPU from /proc), with the traced-versus-untraced gap of
each end-to-end metric. The line before it is the run record: load, versions,
operation counts, the latency tail and dedup recall. Spans are written to
`.perfbench_work/spans/` at the end of a traced run.

Exits with code 2, printing no result, when the program is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

import workloads as W
from measure import (
    PeakSampler,
    ProcTree,
    SparkSpans,
    cpu_ticks,
    median,
    storage_bytes,
    tail,
)

END_TO_END = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "op_p50_s": "s",
    "cpu_s_per_krow": "s",
    "peak_rss_mb": "MB",
}

SPARK_METRICS = {
    # per-op mean over traced operations: metric → (span key, unit)
    "spark.jobs_per_op": ("jobs", "count"),
    "spark.stages_per_op": ("stages", "count"),
    "spark.tasks_per_op": ("tasks", "count"),
    "spark.driver_gap_s": ("driver_gap_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.spill_bytes": ("spill_bytes", "bytes"),
    "spark.gc_s": ("gc_s", "s"),
}

PER_LAYER_UNITS = {
    "functions.encoding.levels_s": "s",
    "functions.encoding.levels_jobs": "count",
    "plans.gram.aggregate_s": "s",
    "plans.gram.aggregate_jobs": "count",
    "operators.lm.fit_s": "s",
    "operators.lm.fit_jobs": "count",
    "operators.lm.predict_s": "s",
    "operators.lm.predict_jobs": "count",
    "operators.glm.fit_s": "s",
    "operators.glm.fit_jobs": "count",
    "operators.glm.iterations": "count",
    "operators.glm.s_per_iteration": "s",
    "operators.survival.coxph_s": "s",
    "operators.survival.coxph_jobs": "count",
    "operators.survival.cindex_s": "s",
    "operators.survival.cindex_jobs": "count",
    "operators.survival.shuffle_bytes": "bytes",
    "operators.pipeline.prepare_s": "s",
    "operators.pipeline.prepare_jobs": "count",
    "operators.pipeline.survivor_ratio": "ratio",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.candidate_yield": "ratio",
    "operators.dedup.index_docs_per_s": "docs/s",
    "operators.dedup.match_s": "s",
    "operators.dedup.match_jobs": "count",
    "operators.dedup.match_shuffle_bytes": "bytes",
    "sources.io.index_append_s": "s",
    "operators.pack.greedy_s": "s",
    **{k: unit for k, (_, unit) in SPARK_METRICS.items()},
    "spark.cached_bytes_peak": "bytes",
    "process.driver_py_cpu_s": "s",
    "process.jvm_cpu_s": "s",
    "process.pyworker_cpu_s": "s",
    "trace.overhead_s_per_op": "s",
    **{f"trace.gap.{k}": "ratio" for k in END_TO_END},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke run uses a small one)")
    return p.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_environment(root: str) -> str:
    """Keep every file the run writes inside the checkout, and make the
    program importable by the driver and by Spark's Python workers."""
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    tmp = os.path.join(run_dir, "tmp")
    nproc = os.cpu_count() or 1
    os.environ.update({
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
            "--conf spark.ui.showConsoleProgress=false",
            # no hsperfdata file under /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]),
    })
    sys.path.insert(0, root)
    return run_dir


def start_session():
    from sparkglm_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{os.cpu_count() or 1}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Layers:
    """Per-layer lookups over the recorded spans."""

    def __init__(self, spans: list[dict]):
        self.by_layer: dict[str, list[dict]] = {}
        for s in spans:
            self.by_layer.setdefault(s["layer"], []).append(s)

    def get(self, layer: str) -> list[dict]:
        return self.by_layer.get(layer, [])

    def med(self, layer: str, key: str) -> float:
        return float(median([s[key] for s in self.get(layer) if key in s]))


def loop_metrics(ops: list[dict], wall_s: float, setup_s: float,
                 peak_rss: int) -> dict:
    rows = sum(o["rows"] for o in ops)
    cpu = sum(sum(o["cpu"].values()) for o in ops)
    return {
        "setup_s": setup_s,
        "throughput_rows_per_s": rows / wall_s if wall_s > 0 else 0.0,
        "op_p50_s": median([o["latency_s"] for o in ops]),
        "cpu_s_per_krow": 1000.0 * cpu / rows if rows else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
    }


def run(args) -> dict:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkglm_spark", "__init__.py")):
        fail(f"the sparkglm_spark package is not in {root}; run from the repository root")
    if args.workload not in W.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    run_dir = prepare_environment(root)
    load_start = os.getloadavg()
    tree = ProcTree()

    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        import pyspark

        spans = SparkSpans(spark) if args.trace else None
        ctx = W.Ctx(spark, args.seed, run_dir, args.scale, spans)
        wl = W.WORKLOADS[args.workload]()
        errors: list[str] = []
        ops: list[dict] = []

        def one(i: int, traced: bool) -> dict:
            prepared = wl.prepare(i)
            ctx.tracing = traced
            cpu0, _ = tree.cpu_and_memory()
            overhead0 = spans.overhead_s if spans else 0.0
            t = time.perf_counter()
            rec = {"i": i, "traced": traced, "ok": False}
            try:
                with ctx.span(f"op:{wl.name}"):
                    out = wl.run_op(i, prepared)
                rec["latency_s"] = time.perf_counter() - t
                cpu1, _ = tree.cpu_and_memory()
                rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
                rec["rows"] = out["rows"]
                rec["kind"] = out["kind"]
                rec["overhead_s"] = (spans.overhead_s if spans else 0.0) - overhead0
                ctx.tracing = False
                errs = wl.check(out)
                rec["ok"] = not errs
                errors.extend(errs)
            except Exception as e:  # an operation that raises counts as failed
                rec.setdefault("latency_s", time.perf_counter() - t)
                errors.append(f"op {i} raised {type(e).__name__}: {e}")
            finally:
                ctx.tracing = False
            return rec

        # set-up: session start, input generation (median of 3), any
        # index build, and one warm-up pass over the operation cycle
        ctx.tracing = bool(spans)
        parts = wl.setup(ctx)
        ctx.tracing = False
        t = time.perf_counter()
        warm = [one(i, False) for i in wl.warm_ids]
        parts["warm_up_s"] = time.perf_counter() - t
        setup_s = session_s + sum(parts.values())
        setup_overhead = spans.overhead_s if spans else 0.0

        sampler = PeakSampler(
            tree, storage=(lambda: storage_bytes(spark.sparkContext)) if spans else None,
        ).start()
        ticks0 = cpu_ticks()
        loop_t0 = time.perf_counter()
        # whole cycles only. A traced run traces half the operations of
        # each kind, in an order that puts a trend over the run (warming, a
        # growing index) on both sides of the traced-versus-untraced gap:
        # one kind is traced, untraced, untraced, traced; in a cycle of
        # several kinds, alternate kinds start traced
        min_ops = max(2 * wl.cycle, 4) if spans else 1
        i = 0
        while True:
            elapsed = time.perf_counter() - loop_t0
            if elapsed >= args.seconds and i % wl.cycle == 0 and i >= min_ops:
                break
            sampler.mark()
            c, k = divmod(i, wl.cycle)
            rec = one(i, bool(spans) and (k + c + c // 2) % 2 == 0)
            rec["peak_rss"], rec["cached_peak"] = sampler.take()
            ops.append(rec)
            i += 1
        loop_wall = time.perf_counter() - loop_t0
        sampler.stop()
        dt = [b - a for a, b in zip(ticks0, cpu_ticks())]
        if spans:
            ctx.tracing = True
            try:
                wl.probes(ctx)
            finally:
                ctx.tracing = False
        errors.extend(wl.finish(ctx))

        all_ops = warm + ops
        failed = sum(1 for o in all_ops if not o["ok"])
        good = [o for o in ops if o["ok"]]
        latencies = [o["latency_s"] for o in good]
        record = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(),
            "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "load_avg_start": load_start, "load_avg_end": os.getloadavg(),
            "session_s": session_s, "setup_parts_s": parts,
            "loop_wall_s": loop_wall, "ops": len(ops), "warm_up_ops": len(warm),
            # share of the machine's CPU time during the loop that was
            # busy, and that the hypervisor gave to other guests
            "loop_cpu_busy_share": 1 - (dt[3] + dt[4]) / max(1, sum(dt)),
            "loop_cpu_steal_share": dt[7] / max(1, sum(dt)),
            "ops_by_kind": {k: sum(1 for o in ops if o.get("kind") == k)
                            for k in sorted({o.get("kind") for o in ops} - {None})},
            "op_latencies_s": [o["latency_s"] for o in ops],
            "op_tail_s": tail(latencies),
            "failed_op_ratio": failed / len(all_ops) if all_ops else 0.0,
            "errors": errors[:20],
            **wl.record(),
        }

        if not args.trace:
            peak = max((o.get("peak_rss", 0) for o in ops), default=0)
            metrics = loop_metrics(good, loop_wall, setup_s, peak)
        else:
            metrics = traced_metrics(wl, spans, good, setup_s, setup_overhead)
            os.makedirs(os.path.join(root, ".perfbench_work", "spans"), exist_ok=True)
            with open(os.path.join(root, ".perfbench_work", "spans",
                                   f"{wl.name}-{args.seed}.json"), "w") as f:
                json.dump({"record": record, "spans": spans.spans}, f)
        return {
            "record": record,
            "result": {
                "correct": not errors,
                "attempted": len(all_ops),
                "failed": failed,
                "metrics": metrics,
            },
        }
    finally:
        stop_session(spark)


def traced_metrics(wl, spans, good: list[dict], setup_s: float,
                   setup_overhead: float) -> dict:
    L = Layers(spans.spans)
    traced = [o for o in good if o["traced"]]
    plain = [o for o in good if not o["traced"]]
    ops = L.get(f"op:{wl.name}")
    n = max(len(ops), 1)
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m.update(wl.layer_metrics(L))
    for name, (key, _) in SPARK_METRICS.items():
        m[name] = sum(s[key] for s in ops) / n
    m["spark.cached_bytes_peak"] = float(max((o["cached_peak"] for o in traced), default=0))
    for kind in ("driver_py", "jvm", "pyworker"):
        m[f"process.{kind}_cpu_s"] = (
            sum(o["cpu"][kind] for o in traced) / len(traced) if traced else 0.0)
    m["trace.overhead_s_per_op"] = (
        sum(o["overhead_s"] for o in traced) / len(traced) if traced else 0.0)

    # tracing overhead as the relative gap by which traced operations are
    # worse than untraced ones (positive = costlier), each traced operation
    # against the untraced median of its own kind, so a cycle of different
    # calls compares like with like
    base = {}
    for kind in {o["kind"] for o in plain}:
        same = [o for o in plain if o["kind"] == kind]
        base[kind] = (median([o["latency_s"] for o in same]),
                      median([sum(o["cpu"].values()) for o in same]))
    pairs = [o for o in traced if o["kind"] in base]
    if pairs:
        lat = sum(o["latency_s"] for o in pairs)
        lat0 = sum(base[o["kind"]][0] for o in pairs)
        cpu = sum(sum(o["cpu"].values()) for o in pairs)
        cpu0 = sum(base[o["kind"]][1] for o in pairs)
        m["trace.gap.op_p50_s"] = median(
            [o["latency_s"] / base[o["kind"]][0] for o in pairs]) - 1.0
        m["trace.gap.throughput_rows_per_s"] = lat / lat0 - 1.0
        m["trace.gap.cpu_s_per_krow"] = cpu / cpu0 - 1.0 if cpu0 else 0.0
        m["trace.gap.peak_rss_mb"] = (
            max(o["peak_rss"] for o in traced) / max(o["peak_rss"] for o in plain) - 1.0)
    base_setup = setup_s - setup_overhead
    m["trace.gap.setup_s"] = setup_overhead / base_setup if base_setup > 0 else 0.0
    return m


def main(argv=None) -> None:
    args = parse_args(argv)
    if args.seconds <= 0:
        fail("--seconds must be positive")
    out = run(args)
    print(json.dumps({"run": out["record"]}, default=float), flush=True)
    res = out["result"]
    res["metrics"] = {
        k: {"value": float(v), "unit": (END_TO_END if not out["record"]["trace"]
                                        else PER_LAYER_UNITS)[k]}
        for k, v in res["metrics"].items()
    }
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
