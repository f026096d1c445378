"""Each workload's DuckDB reference query runs over generated files and
gives the answer worked out by hand from the rows (no Spark)."""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
import gen  # noqa: E402
from workloads import WORKLOADS, duckdb_views  # noqa: E402


def _oracle(tmp_path, name: str):
    out = str(tmp_path / "in")
    doc = gen.generate(name, 5, "warmup", out, str(tmp_path / "m.json"))
    files: dict[str, list[str]] = {}
    for f in doc["files"]:
        files.setdefault(f["dir"], []).append(os.path.join(out, f["dir"], f["name"]))
    con = duckdb.connect()
    try:
        duckdb_views(con, WORKLOADS[name], files)
        return doc, con.execute(WORKLOADS[name].oracle_sql()).fetchdf()
    finally:
        con.close()


def test_dwd_oracle_keeps_every_detail_row_and_matches_side_inputs(tmp_path):
    doc, got = _oracle(tmp_path, "dwd_order_join")
    details = sum(f["rows"] for f in doc["files"]
                  if f["dir"] == "detail" and not f["sentinel"])
    assert len(got) == details
    assert (got["activity_id"].notna() == (got["order_id"] % 7 == 0)).all()
    assert (got["coupon_id"].notna() == (got["order_id"] % 11 == 0)).all()


def test_dws_oracle_counts_each_user_once_per_day(tmp_path):
    doc, got = _oracle(tmp_path, "dws_uv_window")
    events = [json.loads(line) for f in doc["files"]
              for line in open(tmp_path / "in" / f["dir"] / f["name"])]
    user_days = {(e["common"]["uid"], e["ts"] // 1000 // 86400) for e in events}
    assert (got["stt"] % 10 == 0).all()
    assert got["uv_ct"].sum() == len(user_days)
    assert got["new_uv_ct"].sum() == len({u for u, _ in user_days})


def test_dim_oracle_routes_only_configured_tables(tmp_path):
    _, got = _oracle(tmp_path, "dim_cdc_upsert")
    assert set(got["sink_table"]) <= {"dim_sku_info", "dim_supplier", "dim_base_province"}
    assert not (got["type"] == "delete").any()
    assert got.groupby(["sink_table", "rowkey"]).size().max() == 1
    # map pruning keeps only the configured columns
    assert not got["kv"].str.contains("p_comment|s_comment|n_comment").any()
