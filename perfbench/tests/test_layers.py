"""Checkpoint parsing and metric derivation, on hand-made inputs."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import layers  # noqa: E402


def _manifest(rows):
    return {"files": [{"dir": "in", "name": n, "due_ms": due, "written_ms": w,
                       "sentinel": s, "rows": 1, "bytes": 10}
                      for n, due, w, s in rows]}


def test_quantile_matches_linear_interpolation():
    assert layers.quantile([], 0.5) == 0.0
    assert layers.quantile([3, 1, 2], 0.5) == 2
    assert layers.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert layers.quantile(range(101), 0.95) == 95


def test_freshness_waits_for_the_last_file_of_a_request():
    m = {"files": [{"dir": d, "name": "t1", "due_ms": 100, "written_ms": 101,
                    "sentinel": False} for d in ("x", "y")]}
    consumed = {("x", "t1"): 0, ("y", "t1"): 1}
    assert layers.freshness(m, consumed, {0: 500, 1: 900}) == ([800], 0)
    assert layers.freshness(m, consumed, {0: 500}) == ([], 1)


def test_checkpoint_logs_give_freshness_and_backlog(tmp_path):
    ck = tmp_path / "ck"
    (ck / "sources" / "0").mkdir(parents=True)
    (ck / "commits").mkdir()
    entries = {0: ["a", "b"], 1: ["c"]}
    for b, names in entries.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///x/in/{n}", "timestamp": 0,
                                      "batchId": b}) for n in names]
        (ck / "sources" / "0" / str(b)).write_text("\n".join(lines))
    for b, t in ((0, 1_000), (1, 3_000)):
        p = ck / "commits" / str(b)
        p.write_text("v1\n{}")
        os.utime(p, ns=(t * 1_000_000, t * 1_000_000))
    m = _manifest([("a", 100, 110, False), ("b", 200, 210, False),
                   ("c", 900, 950, False), ("d", 2_000, 2_010, False),
                   ("e", 2_500, 2_510, True)])
    consumed = layers.consumed_files(str(ck))
    commits = layers.commit_times_ms(str(ck))
    assert consumed == {("in", "a"): 0, ("in", "b"): 0, ("in", "c"): 1}
    samples, missing = layers.freshness(m, consumed, commits)
    assert sorted(samples) == [800, 900, 2_100] and missing == 1
    # at commit 0 (t=1000): a, b, c written, none committed yet -> 3;
    # at commit 1 (t=3000): all 5 written, a and b committed -> 3
    assert layers.backlog_files_max(m, consumed, commits) == 3
    assert layers.last_batch(str(ck), "commits") == 1
    assert layers.last_batch(str(ck), "offsets") == -1


def test_progress_metrics_split_data_and_idle_batches():
    prog = [
        {"batchId": 0, "numInputRows": 10,
         "durationMs": {"triggerExecution": 1000, "latestOffset": 5, "getBatch": 5,
                        "queryPlanning": 100, "addBatch": 800, "walCommit": 20,
                        "commitOffsets": 30},
         "stateOperators": [{"allUpdatesTimeMs": 7, "allRemovalsTimeMs": 1,
                             "commitTimeMs": 2, "numRowsTotal": 5,
                             "memoryUsedBytes": 100, "numRowsDroppedByWatermark": 1}]},
        {"batchId": 1, "numInputRows": 0,
         "durationMs": {"triggerExecution": 500},
         "stateOperators": [{"allUpdatesTimeMs": 3, "allRemovalsTimeMs": 4,
                             "commitTimeMs": 2, "numRowsTotal": 0,
                             "memoryUsedBytes": 50, "numRowsDroppedByWatermark": 0}]},
    ]
    m = layers.progress_metrics(prog, wall_s=3.0)
    assert m["runner.batches"] == 2
    assert m["runner.trigger_ms_p50"] == 1000  # data batches only
    assert m["sources.offset_ms_p50"] == 10
    assert m["runner.commit_ms_p50"] == 50
    assert m["runner.idle_frac"] == 0.5
    assert m["state.update_ms_sum"] == 10 and m["state.removal_ms_sum"] == 5
    assert m["state.rows_total_end"] == 0 and m["state.memory_bytes_end"] == 50
    assert m["state.dropped_late_frac"] == 0.1


def test_benchmark_json_lists_every_metric_the_run_reports():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        [tuple(m) for m in layers.per_layer_spec()]
    sys.path.insert(0, os.path.dirname(HERE))
    import gen

    assert {w["name"] for w in bench["workloads"]} <= set(gen.load_spec()["workloads"])
