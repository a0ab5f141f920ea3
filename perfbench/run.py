#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its metrics.

    python3 perfbench/run.py --workload sis_nightly --seed 1 --seconds 20 --trace 0

Run from the repository root. The process derives the seed's inputs
(cached under ``.perfbench_work/``), starts one SparkSession on
``local[<cores>]``, runs a cold pass and then warm passes until
``--seconds`` have gone by and the workload's minimum number of warm
passes is done, stops the JVM, checks every output and prints a metrics
table followed by one JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, job groups per op and timing shims, and reports the
per-layer metrics instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import RssSampler, median, now_ms, tail, tree_pids  # noqa: E402

#: End-to-end metrics (``--trace 0``).
E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
}

#: Per-layer metrics (``--trace 1``), medians over the warm passes. The
#: op-latency and memory figures are here rather than end to end: over
#: one run's few warm ops they do not repeat closely enough to gate on.
LAYER_UNITS = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalog.scan_rows": "count",
    "catalog.scan_bytes": "bytes",
    "catalog.scan_tasks": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_share": "ratio",
    "exec.gc_s": "s",
    "exec.deser_s": "s",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_s": "s",
    "exec.python_boot_s": "s",
    "exec.python_bytes_sent": "bytes",
    "exec.python_bytes_received": "bytes",
    "operators.persisted_rdds_left": "count",
    "sinks.write_s": "s",
    "sinks.upload_s": "s",
    "sinks.objects": "count",
    "sinks.bytes": "bytes",
    "intake.s": "s",
    "intake.rows_clean": "count",
    "intake.clean_ratio": "ratio",
    "corpus.docs_kept": "count",
    "corpus.keep_ratio": "ratio",
    "output_bytes": "bytes",
    "trace.warm_pass_s": "s",
}

#: Per-layer metrics that are measured per pass (the rest once per run).
RUN_WIDE = ("op_p50_s", "op_tail_s", "peak_rss_mb", "session.start_s")
LAYER_PER_PASS = [n for n in LAYER_UNITS if n not in RUN_WIDE]

MAX_PASSES = 40


class Recorder:
    """Times ops, tags their Spark jobs with a job group and keeps the
    attempted/failed ledger."""

    def __init__(self, spark, tracer=None):
        self.spark, self.tracer = spark, tracer
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.overhead: dict[str, float] = {}

    @contextmanager
    def op(self, p: int, name: str):
        from layers import group_id

        gid = group_id(p, name)
        self.spark.sparkContext.setJobGroup(gid, name)
        rec = {"pass": p, "name": name, "ok": True}
        span = self.tracer.span(f"op:{name}", op=gid) if self.tracer else nullcontext()
        start, t0 = now_ms(), time.perf_counter()
        try:
            with span:
                yield
        except Exception as exc:  # noqa: BLE001 - an op that raises is a failed op
            rec["ok"] = False
            self.failures.append(f"pass {p} {name}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["start_ms"], rec["end_ms"] = start, now_ms()
            self.ops.append(rec)

    @contextmanager
    def untimed(self, what: str):
        """Account wall time spent outside the timed windows."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead[what] = self.overhead.get(what, 0.0) + time.perf_counter() - t0

    def check(self, p: int, name: str, errors: list[str]) -> None:
        if not errors:
            return
        self.failures.extend(f"pass {p} {name}: {e}" for e in errors)
        for rec in self.ops:
            if rec["pass"] == p and rec["name"] == name:
                rec["ok"] = False

    def pass_seconds(self, p: int) -> float:
        return sum(r["s"] for r in self.ops if r["pass"] == p)


def configure_env(work: Path) -> None:
    """Process environment every run needs: the repo on PYTHONPATH (the
    Python workers import the package), one Spark core per CPU, local
    dirs inside the work tree and a UTC clock."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, str(ROOT))


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and len(tree_pids(os.getpid())) > 1:
        time.sleep(0.2)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "jonesy_spark" / "__init__.py").exists():
        print(f"no jonesy_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work"
    run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    configure_env(work)

    from inputs import derive_inputs

    t_derive = time.perf_counter()
    sf_dir = derive_inputs(args.seed, work / "inputs")
    derive_s = time.perf_counter() - t_derive

    sampler = RssSampler(os.getpid()).start()
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if args.trace:
        from layers import eventlog_conf

        (run_dir / "eventlog").mkdir()
        conf.update(eventlog_conf(run_dir / "eventlog"))

    # ---- set-up: session start, registry import, warm-up probe
    t0 = time.perf_counter()
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    import jonesy_spark.pipeline.corpus_job  # noqa: F401
    import jonesy_spark.pipeline.jobs  # noqa: F401
    from jonesy_spark.plans import all_queries

    all_queries()
    # warm-up probe: one shuffle join, aggregation and sort, so the cold
    # pass starts from a JVM that has run each kind of stage once
    left = spark.range(0, 200_000, numPartitions=4).selectExpr("id", "id % 97 AS k")
    right = spark.range(0, 97).withColumnRenamed("id", "k")
    left.join(right.hint("shuffle_hash"), "k").groupBy("k").count().orderBy("k").collect()
    setup_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer()
        tracer.install_shims()
    rec = Recorder(spark, tracer)
    workload = WORKLOADS[args.workload](spark, rec, sf_dir, run_dir / "out", args.seed)
    rec.overhead["derive"] = derive_s
    with rec.untimed("prepare"):
        workload.prepare()

    # ---- measured passes: one cold, then warm until the window is used
    # and the workload's minimum of warm passes is reached
    window_start = time.perf_counter()
    p = 0
    while True:
        if tracer:
            tracer.current_pass = p
        with tracer.span(f"pass:{p}") if tracer else nullcontext():
            workload.run_pass(p)
        elapsed = time.perf_counter() - window_start
        if p >= workload.MIN_WARM and (elapsed >= args.seconds or p + 1 >= MAX_PASSES):
            break
        p += 1
    n_passes = p + 1
    peak_rss = sampler.stop()
    with rec.untimed("stop"):
        stop_spark(spark)
    with rec.untimed("check"):
        workload.verify()

    warm = list(range(1, n_passes))
    warm_ops = [r["s"] for r in rec.ops if r["pass"] >= 1]
    tail_s, tail_p, tail_beyond = tail(warm_ops)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": rec.pass_seconds(0),
        "warm_pass_s": median([rec.pass_seconds(q) for q in warm]),
    }
    run_wide = {
        "op_p50_s": median(warm_ops),
        "op_tail_s": tail_s,
        "peak_rss_mb": peak_rss / 2**20,
    }
    attempted = len(rec.ops)
    failed = sum(1 for r in rec.ops if not r["ok"])

    lines = [
        f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cores={os.environ['SPARK_GRAFT_CPUS']} passes=1 cold + {len(warm)} warm "
        f"ops={attempted}",
    ]
    for k, v in {**e2e, **run_wide}.items():
        extra = ""
        if k == "op_tail_s":
            extra = f"  (p{tail_p:g} of {len(warm_ops)} warm ops, {tail_beyond} beyond)"
        unit = E2E_UNITS.get(k) or LAYER_UNITS[k]
        lines.append(f"  {k:<14} {v:12.4f} {unit}{extra}")
    lines.append(f"  {'fail_ratio':<14} {failed / attempted:12.4f} ratio  ({failed}/{attempted})")
    lines.append(f"  {'output_bytes':<14} {median([workload.output_bytes[q] for q in warm]):12.0f} bytes")

    lines.append("  passes: " + " ".join(f"p{q}={rec.pass_seconds(q):.3f}s" for q in range(n_passes)))
    lines.append("  untimed: " + " ".join(f"{k}={v:.1f}s" for k, v in rec.overhead.items()))
    lines.append("  ops (cold s / warm median s):")
    for name in dict.fromkeys(r["name"] for r in rec.ops):
        times = [r["s"] for r in rec.ops if r["name"] == name and r["pass"] >= 1]
        cold = sum(r["s"] for r in rec.ops if r["name"] == name and r["pass"] == 0)
        lines.append(f"    {name:<28} {cold:8.3f} {median(times):8.3f}")

    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if tracer:
        from layers import exec_layers, fold_event_log, read_event_log, warm_median

        folded = fold_event_log(read_event_log(run_dir / "eventlog"))
        windows = [(r["pass"], r["name"], r["start_ms"], r["end_ms"]) for r in rec.ops]
        per_pass = exec_layers(folded, windows)
        for q in range(n_passes):
            merged = per_pass.setdefault(q, {})
            merged.update(tracer.counters.get(q, {}))
            merged.update(workload.layer.get(q, {}))
            merged["output_bytes"] = workload.output_bytes.get(q, 0)
            merged["trace.warm_pass_s"] = rec.pass_seconds(q)
        layer = warm_median(per_pass, warm, LAYER_PER_PASS)
        layer.update(run_wide, **{"session.start_s": session_s})
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
        keep = work / "traces" / f"{args.workload}-seed{args.seed}"
        keep.mkdir(parents=True, exist_ok=True)
        tracer.write_spans(keep / "spans.json")
        (keep / "layers.json").write_text(json.dumps(
            {"warm_passes": warm, "per_pass": per_pass}, indent=1, default=float))
        lines.append("  per-layer (median over warm passes):")
        lines.extend(f"    {k:<28} {m['value']:16.4f} {m['unit']}" for k, m in metrics.items())
        lines.append(f"  spans and per-pass layers: {keep}")

    print("\n".join(lines))
    for f in rec.failures:
        print(f"FAILED {f}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
