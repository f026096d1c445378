"""Measurements taken from outside the program: the query checkpoint,
the generator manifest, progress events, the sink timing wrapper and
/proc. Pure functions over plain data, so they are testable without
Spark.

Per-layer metric names follow `<phase>.<layer>.<metric>`; the layer
names are the package's module groups (sources, runner, state, sinks)
plus the generator (gen) and the Spark executor (exec).
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

#: (name, unit, better) of every per-phase layer metric; the traced
#: result reports each of them once per phase, prefixed with the phase.
LAYER_METRICS = [
    ("gen.files", "count", "higher"),
    ("gen.rows", "count", "higher"),
    ("gen.late_ms_max", "ms", "lower"),
    ("sources.rows_per_batch_p50", "rows", "higher"),
    ("sources.offset_ms_p50", "ms", "lower"),
    ("sources.backlog_files_max", "count", "lower"),
    ("runner.batches", "count", "lower"),
    ("runner.trigger_ms_p50", "ms", "lower"),
    ("runner.trigger_ms_p95", "ms", "lower"),
    ("runner.planning_ms_p50", "ms", "lower"),
    ("runner.add_batch_ms_p50", "ms", "lower"),
    ("runner.commit_ms_p50", "ms", "lower"),
    ("runner.idle_frac", "ratio", "higher"),
    ("state.update_ms_sum", "ms", "lower"),
    ("state.removal_ms_sum", "ms", "lower"),
    ("state.commit_ms_sum", "ms", "lower"),
    ("state.rows_total_end", "rows", "lower"),
    ("state.memory_bytes_end", "bytes", "lower"),
    ("state.dropped_late_frac", "ratio", "lower"),
    ("sinks.call_ms_p50", "ms", "lower"),
    ("sinks.call_ms_sum", "ms", "lower"),
    ("sinks.bytes_written", "bytes", "lower"),
    ("sinks.write_amp", "ratio", "lower"),
    ("exec.task_ms_sum", "ms", "lower"),
    ("exec.gc_ms_sum", "ms", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
]
PHASES = ("catchup", "live")
#: The end-to-end numbers as seen by the traced run; set against the
#: untraced run's numbers they give the tracing overhead.
TRACED_E2E = [
    ("trace.setup_s", "s", "lower"),
    ("trace.freshness_p50_ms", "ms", "lower"),
    ("trace.freshness_p95_ms", "ms", "lower"),
    ("trace.catchup_rows_per_s", "rows/s", "higher"),
    ("trace.peak_rss_mb", "MB", "lower"),
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    return [(f"{p}.{n}", u, b) for p in PHASES for n, u, b in LAYER_METRICS] \
        + TRACED_E2E


def quantile(values, q: float) -> float:
    """Linear-interpolation quantile (numpy's default); 0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# checkpoint
# ---------------------------------------------------------------------------

def _log_entries(log_dir: str):
    """JSON entries of a metadata log dir (plain and .compact files)."""
    if not os.path.isdir(log_dir):
        return
    for f in os.listdir(log_dir):
        if f.startswith(".") or not (f.isdigit() or f.endswith(".compact")):
            continue
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    yield json.loads(line)


def consumed_files(ck: str) -> dict[tuple[str, str], int]:
    """(input dir name, file name) → id of the batch that read it, from
    the file sources' logs under the checkpoint."""
    out: dict[tuple[str, str], int] = {}
    src_root = os.path.join(ck, "sources")
    if not os.path.isdir(src_root):
        return out
    for s in os.listdir(src_root):
        for e in _log_entries(os.path.join(src_root, s)):
            parts = e["path"].rstrip("/").split("/")
            out[(parts[-2], parts[-1])] = int(e["batchId"])
    return out


def commit_times_ms(ck: str) -> dict[int, float]:
    """batch id → wall time its commit-log entry was written."""
    d = os.path.join(ck, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(f): os.stat(os.path.join(d, f)).st_mtime_ns / 1e6
            for f in os.listdir(d) if f.isdigit()}


def last_batch(ck: str, log: str) -> int:
    """Highest batch id in a checkpoint log dir (offsets, commits); -1 if none."""
    d = os.path.join(ck, log)
    ids = [int(f) for f in os.listdir(d) if f.isdigit()] if os.path.isdir(d) else []
    return max(ids, default=-1)


def freshness(manifest: dict, consumed: dict, commits: dict) -> tuple[list[float], int]:
    """One sample per request: the files one tick writes share a name
    (one per input directory), and the request is in a committed result
    once the last of them is. Sample = that commit time minus the time
    the tick was due. Returns (samples, number of files never
    committed); sentinels are not requests."""
    done: dict[str, float] = {}
    missing, lost = 0, set()
    for f in manifest["files"]:
        if f["sentinel"]:
            continue
        b = consumed.get((f["dir"], f["name"]))
        if b is None or b not in commits:
            missing += 1
            lost.add(f["name"])
            continue
        done[f["name"]] = max(done.get(f["name"], float("-inf")),
                              commits[b] - f["due_ms"])
    return [v for k, v in done.items() if k not in lost], missing


def backlog_files_max(manifest: dict, consumed: dict, commits: dict) -> int:
    """Largest number of files written but not yet committed, taken at
    each batch commit."""
    written = sorted(f["written_ms"] for f in manifest["files"])
    per_batch: dict[int, int] = defaultdict(int)
    for f in manifest["files"]:
        b = consumed.get((f["dir"], f["name"]))
        if b is not None:
            per_batch[b] += 1
    done, best, i = 0, 0, 0
    for b, t in sorted(commits.items(), key=lambda kv: kv[1]):
        while i < len(written) and written[i] <= t:
            i += 1
        best = max(best, i - done)
        done += per_batch.get(b, 0)
    return best


# ---------------------------------------------------------------------------
# progress events, sink wrapper, executor store
# ---------------------------------------------------------------------------

def progress_metrics(progress: list[dict], wall_s: float) -> dict[str, float]:
    """sources / runner / state metrics of one phase's progress events."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(p: dict, *keys: str) -> float:
        d = p.get("durationMs", {})
        return float(sum(d.get(k, 0) for k in keys))

    ops = [op for p in progress for op in p.get("stateOperators", [])]
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    rows_in = sum(p.get("numInputRows", 0) for p in progress)
    dropped = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    busy_ms = sum(dur(p, "triggerExecution") for p in progress)
    return {
        "sources.rows_per_batch_p50": quantile([p["numInputRows"] for p in data], 0.5),
        "sources.offset_ms_p50": quantile(
            [dur(p, "latestOffset", "getBatch") for p in data], 0.5),
        "runner.batches": float(len(progress)),
        "runner.trigger_ms_p50": quantile([dur(p, "triggerExecution") for p in data], 0.5),
        "runner.trigger_ms_p95": quantile([dur(p, "triggerExecution") for p in data], 0.95),
        "runner.planning_ms_p50": quantile([dur(p, "queryPlanning") for p in data], 0.5),
        "runner.add_batch_ms_p50": quantile([dur(p, "addBatch") for p in data], 0.5),
        "runner.commit_ms_p50": quantile(
            [dur(p, "walCommit", "commitOffsets") for p in data], 0.5),
        "runner.idle_frac": max(0.0, 1.0 - busy_ms / (wall_s * 1000.0)) if wall_s > 0 else 0.0,
        "state.update_ms_sum": float(sum(op.get("allUpdatesTimeMs", 0) for op in ops)),
        "state.removal_ms_sum": float(sum(op.get("allRemovalsTimeMs", 0) for op in ops)),
        "state.commit_ms_sum": float(sum(op.get("commitTimeMs", 0) for op in ops)),
        "state.rows_total_end": float(sum(max(0, op.get("numRowsTotal", 0)) for op in last_ops)),
        "state.memory_bytes_end": float(sum(op.get("memoryUsedBytes", 0) for op in last_ops)),
        "state.dropped_late_frac": dropped / rows_in if rows_in else 0.0,
    }


def sink_metrics(calls: list[dict], bytes_written: int, input_bytes: int) -> dict[str, float]:
    """calls: one {"ms": ...} per foreachBatch invocation (empty for a
    built-in sink)."""
    ms = [c["ms"] for c in calls]
    return {
        "sinks.call_ms_p50": quantile(ms, 0.5),
        "sinks.call_ms_sum": float(sum(ms)),
        "sinks.bytes_written": float(bytes_written),
        "sinks.write_amp": bytes_written / input_bytes if input_bytes else 0.0,
    }


def dir_files(root: str) -> dict[str, int]:
    """relative path → size of every data file under a sink dir,
    skipping Spark's and the merge table's metadata."""
    out = {}
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                try:
                    out[os.path.relpath(p, root)] = os.path.getsize(p)
                except FileNotFoundError:
                    pass  # retired by a concurrent merge
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(sz for p, sz in after.items() if p not in before)


def exec_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(root: int, exclude: set[int] = frozenset()) -> list[int]:
    kids, out, stack = _ppid_map(), [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            if c not in exclude:
                out.append(c)
                stack.append(c)
    return out


def pss_kb(pid: int) -> int:
    """Proportional resident set of a process: shared pages are split
    among the processes mapping them, so a sum over a process tree
    counts forked children (Python workers, the JVM's short-lived
    helper processes) without counting their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
