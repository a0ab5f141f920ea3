"""The traced run's instruments: Spark event-log fold, timing shims
around public pipeline functions, and a span recorder.

Nothing here changes what the engine computes. The shims wrap public
functions in place for the life of one benchmark process only.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from stats import median, now_ms

GROUP_PREFIX = "pb"
BUILD = "build"


def group_id(pass_idx: int, op: str, phase: str | None = None) -> str:
    """Job-group id of one op (``pb|<pass>|<op>[|<phase>]``)."""
    return "|".join([GROUP_PREFIX, str(pass_idx), op] + ([phase] if phase else []))


def parse_group(gid: str | None):
    """``(pass, op, phase)`` of a benchmark job group, else None."""
    if not gid:
        return None
    parts = gid.split("|")
    if len(parts) < 3 or parts[0] != GROUP_PREFIX:
        return None
    return int(parts[1]), parts[2], parts[3] if len(parts) > 3 else None


def eventlog_conf(directory: Path) -> dict[str, str]:
    """Spark conf for one plain-text, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": Path(directory).resolve().as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


# --------------------------------------------------------------------------
# event-log fold

_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_boot_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}

_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
    "deser_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "scan_rows", "scan_bytes", "scan_tasks", "python_ms", "python_boot_ms",
    "python_sent_bytes", "python_recv_bytes",
)


def fold_event_log(lines) -> dict[str, dict]:
    """Fold Spark event-log JSON lines into per-job-group counters.

    Returns ``{group: {counter: value, ..., "stage_spans": [(start_ms,
    end_ms), ...]}}``. A stage belongs to the group of the first job
    that lists it; tasks belong to their stage's group. Jobs without a
    group fold under ``""``.
    """
    groups: dict[str, dict] = defaultdict(
        lambda: {**{c: 0 for c in _COUNTERS}, "stage_spans": []}
    )
    stage_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[gid]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = groups[stage_group.get(info["Stage ID"], "")]
            g["stages"] += 1
            if info.get("Submission Time") and info.get("Completion Time"):
                g["stage_spans"].append(
                    (info["Submission Time"], info["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            g["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["deser_ms"] += m.get("Executor Deserialize Time", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            inp = m.get("Input Metrics") or {}
            g["scan_rows"] += inp.get("Records Read", 0)
            g["scan_bytes"] += inp.get("Bytes Read", 0)
            if inp.get("Records Read", 0) or inp.get("Bytes Read", 0):
                g["scan_tasks"] += 1
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                key = _PY_METRICS.get(acc.get("Name"))
                if key:
                    g[key] += int(acc.get("Update") or 0)
    return dict(groups)


def uncovered_ms(window: tuple[float, float], spans) -> float:
    """Milliseconds of ``window`` not covered by any of ``spans``."""
    lo, hi = window
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (hi - lo) - covered)


def exec_layers(folded: dict[str, dict], op_windows) -> dict[int, dict]:
    """Per-pass ``exec.*``, ``catalog.*`` and ``plans.build_jobs`` from
    the folded log. ``op_windows``: ``[(pass, op, start_ms, end_ms)]``
    of the timed op windows."""
    per_pass: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    spans_by_op: dict[tuple[int, str], list] = defaultdict(list)
    for gid, g in folded.items():
        parsed = parse_group(gid)
        if parsed is None:
            continue
        p, op, phase = parsed
        out = per_pass[p]
        for c in _COUNTERS:
            out[c] += g[c]
        if phase == BUILD:
            out["build_jobs"] += g["jobs"]
        spans_by_op[(p, op)].extend(g["stage_spans"])
    for p, op, start, end in op_windows:
        per_pass[p]["driver_ms"] += uncovered_ms((start, end), spans_by_op[(p, op)])
    result = {}
    for p, c in per_pass.items():
        run_s = c["run_ms"] / 1e3
        cpu_s = c["cpu_ns"] / 1e9
        result[p] = {
            "plans.build_jobs": c["build_jobs"],
            "catalog.scan_rows": c["scan_rows"],
            "catalog.scan_bytes": c["scan_bytes"],
            "catalog.scan_tasks": c["scan_tasks"],
            "exec.jobs": c["jobs"],
            "exec.stages": c["stages"],
            "exec.tasks": c["tasks"],
            "exec.driver_s": c["driver_ms"] / 1e3,
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": cpu_s,
            "exec.cpu_share": cpu_s / run_s if run_s else 0.0,
            "exec.gc_s": c["gc_ms"] / 1e3,
            "exec.deser_s": c["deser_ms"] / 1e3,
            "exec.failed_tasks": c["failed_tasks"],
            "exec.shuffle_write_bytes": c["shuffle_write_bytes"],
            "exec.shuffle_read_bytes": c["shuffle_read_bytes"],
            "exec.spill_bytes": c["spill_bytes"],
            "exec.python_s": c["python_ms"] / 1e3,
            "exec.python_boot_s": c["python_boot_ms"] / 1e3,
            "exec.python_bytes_sent": c["python_sent_bytes"],
            "exec.python_bytes_received": c["python_recv_bytes"],
        }
    return result


def read_event_log(directory: Path) -> list[str]:
    files = [p for p in Path(directory).iterdir() if p.is_file()
             and not p.name.startswith(".") and not p.name.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, got {files}")
    return files[0].read_text().splitlines()


# --------------------------------------------------------------------------
# spans and shims


class Tracer:
    """Records spans and the shim counters of the traced run.

    ``counters[pass][metric]`` accumulates shim measurements for the
    pass that is running when the shim fires."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.current_pass = -1
        self._build_depth = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record a span; ``op`` (the op's job-group id) is inherited from
        the enclosing span, so every span inside one op shares it."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self.spans.append({
            "id": idx, "name": name, "op": op, "start": now_ms(), "end": None,
            "parent": parent,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = now_ms()

    def add(self, metric: str, value: float) -> None:
        self.counters[self.current_pass][metric] += value

    def _timed(self, name: str, metric: str, fn, on_return=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with self.span(name):
                out = fn(*args, **kwargs)
            self.add(metric, time.perf_counter() - t0)
            if on_return:
                on_return(args, out)
            return out

        return wrapper

    def _builder(self, name: str, fn):
        """Time a plan builder and tag the jobs it fires with ``|build``."""

        @functools.wraps(fn)
        def wrapper(spark, *args, **kwargs):
            if self._build_depth:  # a builder called from another builder
                return fn(spark, *args, **kwargs)
            sc = spark.sparkContext
            outer = sc.getLocalProperty("spark.jobGroup.id")
            if outer:
                sc.setLocalProperty("spark.jobGroup.id", f"{outer}|{BUILD}")
            self._build_depth += 1
            t0 = time.perf_counter()
            try:
                with self.span(f"build:{name}"):
                    return fn(spark, *args, **kwargs)
            finally:
                self._build_depth -= 1
                self.add("plans.build_s", time.perf_counter() - t0)
                if outer:
                    sc.setLocalProperty("spark.jobGroup.id", outer)

        return wrapper

    def install_shims(self) -> None:
        """Wrap ``sinks.write_gzip_csv``, ``MultiTargetSink.upload``,
        ``intake.intake_batch`` and every registry plan builder."""
        import os

        from jonesy_spark import plans
        from jonesy_spark.pipeline import intake, jobs, sinks

        def uploaded(args, results):
            size = os.path.getsize(args[1])
            ok = sum(1 for v in results.values() if v)
            self.add("sinks.objects", ok)
            self.add("sinks.bytes", ok * size)

        write = self._timed("sinks.write_gzip_csv", "sinks.write_s", sinks.write_gzip_csv)
        sinks.write_gzip_csv = jobs.write_gzip_csv = write
        sinks.MultiTargetSink.upload = self._timed(
            "sinks.upload", "sinks.upload_s", sinks.MultiTargetSink.upload, uploaded
        )
        intake.intake_batch = self._timed("intake.intake_batch", "intake.s", intake.intake_batch)
        for mod in plans._modules():
            for name, fn in list(mod.QUERIES.items()):
                mod.QUERIES[name] = self._builder(name, fn)

    def write_spans(self, path: Path) -> None:
        Path(path).write_text(json.dumps(self.spans, indent=1))


def warm_median(per_pass: dict[int, dict], warm_passes, names) -> dict[str, float]:
    """Median over the warm passes of each named per-pass metric (0 when
    a pass has no value for it)."""
    return {
        n: median([float(per_pass.get(p, {}).get(n, 0.0)) for p in warm_passes])
        for n in names
    }
