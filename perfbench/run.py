"""Open-loop streaming benchmark of the warehouse's DWD join, DWS dedup
and DIM upsert paths.

One run of one workload, from the root of a checkout:

    python3 perfbench/run.py --workload dwd_order_join --seed 1 \\
        --seconds 15 --trace 0

The run starts a Spark session at local[nproc], runs one untimed
warm-up batch and has the generator (perfbench/gen.py, a separate
process) write the catch-up backlog; that is the set-up. Then two
timed phases:

- catchup: drain the backlog with streaming.runner.run_available_now /
  run_foreach_batch at the workload's maxFilesPerTrigger;
- live: start the same pipeline with Spark's default trigger while the
  generator writes files on a fixed schedule for --seconds, then a
  far-future sentinel that flushes watermarked state.

After each phase the sink's contents are compared with DuckDB over the
exact generated files (realtime_data_warehouse_spark.oracle.compare).
A summary goes to stdout; the last line is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A traced run
also writes its layer metrics and spans under .perfbench_out/.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import datetime as dt  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "realtime_data_warehouse_spark"
#: Hard bound on one run; past it the run kills its processes and
#: exits non-zero instead of hanging.
DEADLINE_S = 170
#: The live generator's schedule starts this long after the live query.
LIVE_LEAD_S = 0.5
CATCHUP_TIMEOUT_S = 60
LIVE_DRAIN_TIMEOUT_S = 30

sys.path.insert(0, HERE)
import layers  # noqa: E402

E2E_UNITS = {"setup_s": "s", "freshness_p50_ms": "ms", "freshness_p95_ms": "ms",
             "catchup_rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def pin_environment(work: str, cpus: int, driver_mem: str) -> None:
    """Everything the JVM and its Python workers inherit: the package on
    PYTHONPATH (pandas-UDF workers import it by name), the core count,
    a heap that fits the box, and scratch space inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


class Listener:
    """StreamingQueryListener that files progress events by phase."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.phase = "setup"
        self.run_phase: dict[str, str] = {}
        self.events: dict[str, list[dict]] = {}
        self.lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.run_phase[str(event.runId)] = outer.phase

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer.lock:
                    ph = outer.run_phase.get(p["runId"], outer.phase)
                    outer.events.setdefault(ph, []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.impl = _L()

    def progress(self, phase: str, last_batch: int | None, wait_s: float = 3.0) -> list[dict]:
        """Events of a phase, once the one for `last_batch` has arrived
        (delivery is asynchronous)."""
        end = time.time() + wait_s
        while True:
            with self.lock:
                evs = list(self.events.get(phase, []))
            if last_batch is None or any(e["batchId"] >= last_batch for e in evs) \
                    or time.time() > end:
                return sorted(evs, key=lambda e: e["batchId"])
            time.sleep(0.05)


class Bench:
    def __init__(self, args, spec: dict, work: str):
        self.args, self.spec, self.work = args, spec, work
        self.cfg = spec["workloads"][args.workload]
        self.trace = bool(args.trace)
        self.gen_pids: set[int] = set()
        self.peak_rss_kb = 0
        self._stop = threading.Event()
        self.spark = None
        self.listener = None
        self.sink_calls: dict[str, list[dict]] = {}
        self.spans: list[dict] = []

    # -- processes ---------------------------------------------------------

    def _sample_rss(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = layers.descendants(me, exclude=self.gen_pids)
            self.peak_rss_kb = max(self.peak_rss_kb,
                                   sum(layers.pss_kb(p) for p in pids))
            self._stop.wait(0.2)

    def generate(self, phase: str, out: str, start_epoch: float | None = None,
                 timeout_s: float = 60.0) -> dict | None:
        """Run the generator process for a phase; the manifest, or None
        when it failed or overran its timeout."""
        manifest = out.rstrip("/") + ".manifest.json"
        cmd = [sys.executable, os.path.join(HERE, "gen.py"),
               "--workload", self.args.workload, "--seed", str(self.args.seed),
               "--phase", phase, "--out", out, "--manifest", manifest]
        if start_epoch is not None:
            cmd += ["--start-epoch", repr(start_epoch),
                    "--seconds", str(self.args.seconds)]
        proc = subprocess.Popen(cmd)
        self.gen_pids.add(proc.pid)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"generator ({phase}) timed out")
            return None
        finally:
            self.gen_pids.discard(proc.pid)
        if rc != 0 or not os.path.exists(manifest):
            log(f"generator ({phase}) exited {rc}")
            return None
        with open(manifest) as f:
            return json.load(f)

    # -- spark -------------------------------------------------------------

    def start_spark(self) -> None:
        from realtime_data_warehouse_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        heap = self.spec["driver_mem"]
        self.spark = get_spark("perfbench", extra_conf={
            # freshness is read from the commit and source logs: keep
            # every batch's entries for the length of a run
            "spark.sql.streaming.minBatchesToRetain": "100000",
            # a fixed, pre-touched heap keeps peak memory from swinging
            # with the collector's heap sizing
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.listener = Listener()
            self.spark.streams.addListener(self.listener.impl)

    def exec_snapshot(self) -> dict[str, float]:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(True)
        tot = dict.fromkeys(("exec.task_ms_sum", "exec.gc_ms_sum",
                             "exec.shuffle_write_bytes", "exec.shuffle_read_bytes"), 0.0)
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["exec.task_ms_sum"] += e.totalDuration()
            tot["exec.gc_ms_sum"] += e.totalGCTime()
            tot["exec.shuffle_write_bytes"] += e.totalShuffleWrite()
            tot["exec.shuffle_read_bytes"] += e.totalShuffleRead()
        return tot

    def sink_for(self, wl, out: str, phase: str):
        fn = wl.sink(out)
        if fn is None or not self.trace:
            return fn
        calls = self.sink_calls.setdefault(phase, [])

        def traced(batch, batch_id):
            before = layers.dir_files(out)
            t0 = time.time()
            fn(batch, batch_id)
            t1 = time.time()
            calls.append({"batch": int(batch_id), "start_ms": t0 * 1000,
                          "end_ms": t1 * 1000, "ms": (t1 - t0) * 1000,
                          "bytes": layers.new_bytes(before, layers.dir_files(out))})
        return traced

    def drain(self, wl, in_root: str, out: str, ck: str, phase: str) -> None:
        """availableNow drain through the package's runner entry points."""
        from realtime_data_warehouse_spark.streaming.runner import (
            run_available_now,
            run_foreach_batch,
        )

        if self.listener:
            self.listener.phase = phase
        sdf = wl.stream(self.spark, in_root, int(self.cfg["max_files_per_trigger"]))
        fn = self.sink_for(wl, out, phase)
        if fn is None:
            run_available_now(sdf, out, ck, output_mode=wl.output_mode,
                              timeout_s=CATCHUP_TIMEOUT_S)
        else:
            run_foreach_batch(sdf, fn, ck, output_mode=wl.output_mode,
                              timeout_s=CATCHUP_TIMEOUT_S)

    def start_query(self, wl, in_root: str, out: str, ck: str, phase: str):
        """The pipeline on Spark's default trigger: the next batch starts
        as soon as the previous one ends (the runner has only availableNow
        entry points)."""
        if self.listener:
            self.listener.phase = phase
        sdf = wl.stream(self.spark, in_root, None)
        writer = (sdf.writeStream.outputMode(wl.output_mode)
                  .option("checkpointLocation", ck).queryName(f"perfbench_{phase}"))
        fn = self.sink_for(wl, out, phase)
        writer = (writer.format("parquet").option("path", out) if fn is None
                  else writer.foreachBatch(fn))
        return writer.start()

    def warm_up(self, wl) -> None:
        """One untimed batch of the pipeline over the warm-up input, on
        the live phase's code path; the query stops once it commits."""
        w = os.path.join(self.work, "warmup")
        if self.generate("warmup", os.path.join(w, "in")) is None:
            raise RuntimeError("warm-up input generation failed")
        ck = os.path.join(w, "ck")
        q = self.start_query(wl, os.path.join(w, "in"), os.path.join(w, "out"), ck, "warmup")
        try:
            end = time.time() + CATCHUP_TIMEOUT_S
            while 0 not in layers.commit_times_ms(ck):
                if not q.isActive or time.time() > end:
                    raise RuntimeError(f"warm-up batch did not commit: {q.exception()}")
                time.sleep(0.05)
        finally:
            q.stop()

    def wait_drained(self, q, ck: str, manifest: dict, timeout_s: float) -> bool:
        """True once every generated file is committed and no batch has
        been planned or in flight for 0.5 s, so the no-data batches that
        follow a watermark jump have run too."""
        expected = {(f["dir"], f["name"]) for f in manifest["files"]}
        end = time.time() + timeout_s
        last, since = None, 0.0
        while time.time() < end:
            if not q.isActive:
                return False
            consumed = layers.consumed_files(ck)
            commits = layers.commit_times_ms(ck)
            if expected <= consumed.keys() and commits:
                top = max(consumed[e] for e in expected)
                state = (max(commits), layers.last_batch(ck, "offsets"))
                if top in commits and state[0] == state[1]:
                    if state != last:
                        last, since = state, time.time()
                    elif time.time() - since >= 0.5:
                        return True
            time.sleep(0.05)
        return False

    def check(self, wl, out: str, manifests: list[dict], root_by_manifest: list[str]) -> tuple[bool, str]:
        import duckdb

        from realtime_data_warehouse_spark.oracle import compare
        from workloads import duckdb_views

        files: dict[str, list[str]] = {}
        for m, root in zip(manifests, root_by_manifest):
            for f in m["files"]:
                files.setdefault(f["dir"], []).append(
                    os.path.join(root, f["dir"], f["name"]))
        con = duckdb.connect()
        try:
            duckdb_views(con, wl, files)
            want = con.execute(wl.oracle_sql()).fetchdf()
            return compare(wl.result(self.spark, out), want)
        except Exception as e:  # noqa: BLE001  (an unreadable sink is a mismatch)
            return False, f"check failed: {e!r}"
        finally:
            con.close()

    # -- phases ------------------------------------------------------------

    def run(self) -> dict:
        from workloads import WORKLOADS

        wl = WORKLOADS[self.args.workload]
        sampler = threading.Thread(target=self._sample_rss, daemon=True)
        sampler.start()
        self.start_spark()
        self.warm_up(wl)
        log(f"warm-up batch committed at {time.time() - T_START:.1f} s")
        backlog = self.generate("backlog", os.path.join(self.work, "catchup", "in"))
        if backlog is None:
            raise RuntimeError("backlog generation failed")
        setup_s = time.time() - T_START

        res = {"setup_s": setup_s, "load1_start": os.getloadavg()[0]}
        res["catchup"] = self.catchup(wl, backlog)
        log(f"catch-up done at {time.time() - T_START:.1f} s")
        res["live"] = self.live(wl, backlog)
        log(f"live phase done at {time.time() - T_START:.1f} s")
        res["load1_end"] = os.getloadavg()[0]
        self._stop.set()
        sampler.join(timeout=2)
        res["peak_rss_mb"] = self.peak_rss_kb / 1024.0
        return res

    def catchup(self, wl, backlog: dict) -> dict:
        w = self.work
        c_in, out, ck = (os.path.join(w, "catchup", d) for d in ("in", "out", "ck"))
        files = [f for f in backlog["files"] if not f["sentinel"]]
        ph = {"manifest": backlog, "attempted": len(files),
              "rows": sum(f["rows"] for f in files)}
        ex0 = self.exec_snapshot() if self.trace else None
        t0 = time.perf_counter()
        try:
            self.drain(wl, c_in, out, ck, "catchup")
            ph["ok_run"] = True
        except Exception as e:  # noqa: BLE001  (a failed drain is a measured failure)
            log(f"catch-up drain failed: {e!r}")
            ph["ok_run"] = False
        ph["wall_s"] = time.perf_counter() - t0
        if self.trace:
            ph["exec"] = layers.exec_delta(ex0, self.exec_snapshot())
        ph["consumed"] = layers.consumed_files(ck)
        ph["commits"] = layers.commit_times_ms(ck)
        _, missing = layers.freshness(backlog, ph["consumed"], ph["commits"])
        ph["ok_check"], ph["check_msg"] = (
            self.check(wl, out, [backlog], [c_in]) if ph["ok_run"] else (False, "drain failed"))
        ph["failed"] = ph["attempted"] if not (ph["ok_run"] and ph["ok_check"]) else missing
        ph["out"] = out
        return ph

    def live(self, wl, backlog: dict) -> dict:
        w = self.work
        l_in, ck = os.path.join(w, "live", "in"), os.path.join(w, "live", "ck")
        out = (os.path.join(w, "catchup", "out") if wl.live_reuses_sink
               else os.path.join(w, "live", "out"))
        for d in wl.dirs:
            os.makedirs(os.path.join(l_in, d), exist_ok=True)
        expected = int(round(self.args.seconds * 1000.0 / float(self.cfg["cadence_ms"]))) \
            * len(wl.dirs)
        ph = {"attempted": expected, "ok_run": False, "ok_check": False}
        ex0 = self.exec_snapshot() if self.trace else None
        q = self.start_query(wl, l_in, out, ck, "live")
        t0 = time.time()
        manifest = None
        try:
            manifest = self.generate("live", l_in, start_epoch=t0 + LIVE_LEAD_S,
                                     timeout_s=self.args.seconds + LIVE_LEAD_S + 30)
            if manifest is not None:
                ph["ok_run"] = self.wait_drained(q, ck, manifest, LIVE_DRAIN_TIMEOUT_S)
        finally:
            exc = q.exception()
            q.stop()
        if exc is not None:
            log(f"live query failed: {exc}")
            ph["ok_run"] = False
        ph["wall_s"] = time.time() - t0
        if self.trace:
            ph["exec"] = layers.exec_delta(ex0, self.exec_snapshot())
        ph["consumed"] = layers.consumed_files(ck)
        ph["commits"] = layers.commit_times_ms(ck)
        ph["out"] = out
        if manifest is None:
            ph.update(manifest={"files": [], "late_ms_max": 0.0}, samples=[],
                      failed=expected, rows=0, check_msg="generator failed")
            return ph
        files = [f for f in manifest["files"] if not f["sentinel"]]
        ph["manifest"], ph["rows"] = manifest, sum(f["rows"] for f in files)
        ph["attempted"] = max(expected, len(files))
        ph["samples"], missing = layers.freshness(manifest, ph["consumed"], ph["commits"])
        if ph["ok_run"]:
            ms, roots = [manifest], [l_in]
            if wl.live_reuses_sink:
                ms, roots = [backlog, manifest], [os.path.join(w, "catchup", "in"), l_in]
            ph["ok_check"], ph["check_msg"] = self.check(wl, out, ms, roots)
        else:
            ph["check_msg"] = "live phase did not drain"
        unwritten = ph["attempted"] - len(files)
        ph["failed"] = ph["attempted"] if not ph["ok_check"] else missing + unwritten
        return ph

    # -- results -----------------------------------------------------------

    def e2e(self, res: dict) -> dict[str, float]:
        c, lv = res["catchup"], res["live"]
        samples = lv.get("samples") or [LIVE_DRAIN_TIMEOUT_S * 1000.0]
        return {
            "setup_s": res["setup_s"],
            "freshness_p50_ms": layers.quantile(samples, 0.5),
            "freshness_p95_ms": layers.quantile(samples, 0.95),
            "catchup_rows_per_s": c["rows"] / c["wall_s"] if c["wall_s"] > 0 else 0.0,
            "peak_rss_mb": res["peak_rss_mb"],
        }

    def per_layer(self, res: dict, wl) -> dict[str, float]:
        out: dict[str, float] = {}
        for phase in layers.PHASES:
            ph = res[phase]
            m = ph["manifest"]
            files = [f for f in m["files"] if not f["sentinel"]]
            last = max(ph["commits"]) if ph["commits"] else None
            prog = self.listener.progress(phase, last)
            vals = {"gen.files": float(len(files)),
                    "gen.rows": float(sum(f["rows"] for f in files)),
                    "gen.late_ms_max": float(m.get("late_ms_max", 0.0))}
            vals.update(layers.progress_metrics(prog, ph["wall_s"]))
            vals["sources.backlog_files_max"] = float(
                layers.backlog_files_max(m, ph["consumed"], ph["commits"]))
            calls = self.sink_calls.get(phase, [])
            in_bytes = sum(f["bytes"] for f in m["files"])
            written = (sum(c["bytes"] for c in calls) if wl.foreach_sink
                       else sum(layers.dir_files(ph["out"]).values()))
            vals.update(layers.sink_metrics(calls, written, in_bytes))
            vals.update(ph.get("exec", {}))
            out.update({f"{phase}.{k}": v for k, v in vals.items()})
            self.spans += self._spans(phase, m, ph, prog, calls)
        e2e = self.e2e(res)
        for k in ("setup_s", "freshness_p50_ms", "freshness_p95_ms",
                  "catchup_rows_per_s", "peak_rss_mb"):
            out[f"trace.{k}"] = e2e[k]
        return out

    @staticmethod
    def _spans(phase: str, manifest: dict, ph: dict, progress: list[dict],
               calls: list[dict]) -> list[dict]:
        """gen.file → runner.batch → sinks.call spans of every generated
        file; spans of one request (the tick's file name) share a trace."""
        def ts_ms(s: str) -> float:
            t = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
            return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0

        batches = {p["batchId"]: (ts_ms(p["timestamp"]),
                                  ts_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0))
                   for p in progress}
        sink = {c["batch"]: c for c in calls}
        spans = []
        for f in manifest["files"]:
            tid = f"{phase}/{f['name']}"
            spans.append({"trace": tid, "span": "gen.file", "parent": None,
                          "input": f["dir"], "start_ms": f["due_ms"],
                          "end_ms": f["written_ms"]})
            b = ph["consumed"].get((f["dir"], f["name"]))
            if b in batches:
                spans.append({"trace": tid, "span": "runner.batch", "parent": "gen.file",
                              "input": f["dir"], "batch": b,
                              "start_ms": batches[b][0], "end_ms": batches[b][1]})
                if b in sink:
                    spans.append({"trace": tid, "span": "sinks.call",
                                  "parent": "runner.batch", "input": f["dir"], "batch": b,
                                  "start_ms": sink[b]["start_ms"], "end_ms": sink[b]["end_ms"]})
        return spans

    def close(self) -> None:
        """Stop every query, the session, the JVM and its workers, and
        wait until they are gone."""
        self._stop.set()
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=15)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        reap_children(timeout_s=10)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def kill_descendants() -> None:
    for p in layers.descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def reap_children(timeout_s: float) -> None:
    """Wait for every descendant to exit; kill what outlives the wait."""
    end = time.time() + timeout_s
    while time.time() < end and layers.descendants(os.getpid()):
        time.sleep(0.1)
    kill_descendants()
    for p in layers.descendants(os.getpid()):
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def _watchdog() -> None:
    log(f"run exceeded {DEADLINE_S} s, killing it")
    kill_descendants()
    os._exit(3)


def summary(name: str, seed: int, e2e: dict, res: dict, limit_ms: float,
            failed: int, attempted: int) -> str:
    n = len(res["live"].get("samples", []))
    beyond = sum(1 for s in res["live"].get("samples", []) if s > e2e["freshness_p95_ms"])
    met = "met" if e2e["freshness_p95_ms"] <= limit_ms and failed == 0 else "MISSED"
    return "\n".join([
        f"{name} seed={seed}",
        f"  setup_s            {e2e['setup_s']:.3f} s",
        f"  freshness_p50_ms   {e2e['freshness_p50_ms']:.1f} ms",
        f"  freshness_p95_ms   {e2e['freshness_p95_ms']:.1f} ms  "
        f"(limit {limit_ms:.0f} ms at p95: {met}; {n} requests, {beyond} beyond p95)",
        f"  catchup_rows_per_s {e2e['catchup_rows_per_s']:.1f} rows/s  "
        f"(backlog {res['catchup']['rows']} rows in {res['catchup']['wall_s']:.3f} s)",
        f"  peak_rss_mb        {e2e['peak_rss_mb']:.1f} MB",
        f"  failed_frac        {failed / max(attempted, 1):.4f} ratio  "
        f"({failed} of {attempted} files)",
        f"  check catchup: {res['catchup']['check_msg']}; live: {res['live']['check_msg']}",
    ])


def main(argv: list[str] | None = None) -> int:
    from gen import load_spec

    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the live phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] cores (default: every core this process may use)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S - (time.time() - T_START), _watchdog)
    watchdog.daemon = True
    watchdog.start()
    cpus = args.cpus or len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    pin_environment(work, cpus, spec["driver_mem"])
    from workloads import WORKLOADS

    bench = Bench(args, spec, work)
    try:
        res = bench.run()
        e2e = bench.e2e(res)
        layer = bench.per_layer(res, WORKLOADS[args.workload]) if bench.trace else None
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    attempted = res["catchup"]["attempted"] + res["live"]["attempted"]
    failed = res["catchup"]["failed"] + res["live"]["failed"]
    correct = failed == 0 and res["catchup"]["ok_check"] and res["live"]["ok_check"]
    env = {"cpus": cpus, "heap": spec["driver_mem"],
           "load1_start": res["load1_start"], "load1_end": res["load1_end"],
           "gen.late_ms_max": res["live"]["manifest"].get("late_ms_max", 0.0),
           "failed_frac": failed / max(attempted, 1),
           "latency_limit_p95_ms": spec["latency_limit_p95_ms"]}
    print(summary(args.workload, args.seed, e2e, res, spec["latency_limit_p95_ms"],
                  failed, attempted))
    print("env " + json.dumps(env))
    if layer is not None:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}")
        units = {n: u for n, u, _ in layers.per_layer_spec()}
        with open(stem + "-layers.json", "w") as f:
            json.dump({"env": env, "end_to_end": e2e, "per_layer": layer,
                       "units": units}, f, indent=1)
        with open(stem + "-spans.jsonl", "w") as f:
            for s in bench.spans:
                f.write(json.dumps(s) + "\n")
        metrics = {n: {"value": layer[n], "unit": units[n]} for n in units}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E_UNITS.items()}
    watchdog.cancel()
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
