"""The load generator: determinism, atomic placement, open-loop schedule.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

TIME_COLS = {"d_ts", "o_ts", "a_ts", "c_ts", "create_time", "ts"}


def _without_time(payload) -> object:
    if isinstance(payload, pa.Table):
        return payload.drop_columns([c for c in payload.column_names
                                     if c in TIME_COLS]).to_pylist()
    rows = [json.loads(line) for line in payload.splitlines()]
    for r in rows:
        r.pop("ts")
    return rows


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
@pytest.mark.parametrize("phase", ["warmup", "backlog", "live"])
def test_same_seed_same_rows_apart_from_time(workload, phase):
    a = gen.tick_rows(workload, 7, phase, 3, due_ms=1_700_000_000_000)
    b = gen.tick_rows(workload, 7, phase, 3, due_ms=1_800_000_000_123)
    c = gen.tick_rows(workload, 8, phase, 3, due_ms=1_700_000_000_000)
    assert a.keys() == b.keys() == set(gen.input_dirs(workload))
    assert {d: _without_time(p) for d, p in a.items()} == \
        {d: _without_time(p) for d, p in b.items()}
    assert {d: _without_time(p) for d, p in a.items()} != \
        {d: _without_time(p) for d, p in c.items()}


def test_order_ids_never_repeat_across_phases_and_ticks():
    seen = set()
    for phase in ("warmup", "backlog", "live"):
        for tick in range(3):
            ids = gen.tick_rows("dwd_order_join", 1, phase, tick, 0)["order"]
            ids = ids.column("o_order_id").to_pylist()
            assert not seen & set(ids)
            seen |= set(ids)


def test_backlog_files_are_whole_ordered_and_listed(tmp_path):
    out, manifest = str(tmp_path / "in"), str(tmp_path / "m.json")
    doc = gen.generate("dwd_order_join", 3, "backlog", out, manifest)
    spec = gen.load_spec()["workloads"]["dwd_order_join"]
    assert json.load(open(manifest)) == doc
    assert len(doc["files"]) == (spec["backlog_ticks"] + 1) * 4
    for d in gen.input_dirs("dwd_order_join"):
        names = sorted(os.listdir(os.path.join(out, d)))
        assert not [n for n in names if n.startswith(".")], "temporary file left behind"
        recs = [f for f in doc["files"] if f["dir"] == d]
        assert [f["name"] for f in recs] == names
        mtimes = [os.stat(os.path.join(out, d, n)).st_mtime_ns for n in names]
        assert mtimes == sorted(set(mtimes)), "mtimes must strictly increase"
        assert recs[-1]["sentinel"] and not any(f["sentinel"] for f in recs[:-1])
        for f in recs:
            assert pq.read_metadata(os.path.join(out, d, f["name"])).num_rows == f["rows"]


def test_live_schedule_is_open_loop(tmp_path):
    cad = gen.load_spec()["workloads"]["dim_cdc_upsert"]["cadence_ms"]
    start = time.time() + 0.2
    doc = gen.generate("dim_cdc_upsert", 1, "live", str(tmp_path / "in"),
                       str(tmp_path / "m.json"), start_epoch=start, seconds=0.5)
    due = [f["due_ms"] for f in doc["files"]]
    ticks = int(round(500 / cad))
    assert len(due) == ticks + 1  # every tick plus the sentinel
    assert all(abs((b - a) - cad) < 1e-6 for a, b in zip(due, due[1:]))
    assert due[0] == pytest.approx(start * 1000.0)
    assert all(f["written_ms"] >= f["due_ms"] for f in doc["files"])
    assert doc["late_ms_max"] == max(f["written_ms"] - f["due_ms"] for f in doc["files"])
