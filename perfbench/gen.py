"""Open-loop load generator for the streaming benchmark.

Runs as its own single-threaded process, separate from the Spark job
under test. For a phase it writes one file per input directory per
tick; a tick is due at ``start + tick * cadence``. The schedule never
waits for Spark: when the generator itself runs late it writes at once
and records the lateness, so a stalled consumer shows up as queueing
in the freshness numbers rather than as a slower offered rate.

Every file is written under a hidden temporary name (Spark's file
source skips names starting with ``.``) and renamed into place, so a
reader never sees a partial file. Rows are a pure function of
(seed, phase, tick); only the time columns depend on when the tick
was due. After the last tick a sentinel file per directory carries a
far-future event time, the terminal flush that lets watermarked
operators emit everything. A JSON manifest lists every file with the
time it was due and the time it landed.

    python3 perfbench/gen.py --workload dws_uv_window --seed 1 \\
        --phase live --out DIR --manifest DIR/manifest.json \\
        --start-epoch 1760000000.0 --seconds 10
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import signal
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")
PHASES = {"warmup": 0, "backlog": 1, "live": 2}
#: Order ids of different phases never collide.
KEY_SPAN = 10**8
FAR_FUTURE_MS = 400 * 86_400_000


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def _rng(seed: int, phase: str, tick: int) -> np.random.Generator:
    return np.random.default_rng([seed, PHASES[phase], tick])


def _ts_us(ms: int, n: int) -> pa.Array:
    return pa.array(np.full(n, ms * 1000, dtype=np.int64),
                    type=pa.timestamp("us", tz="UTC"))


def _zipf(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """Zipf(1) ranks in [0, n_keys): k = floor((n+1)^u) - 1."""
    u = rng.random(size)
    return np.minimum(n_keys - 1,
                      np.floor(np.power(n_keys + 1.0, u)).astype(np.int64) - 1)


# ---------------------------------------------------------------------------
# dwd_order_join: four CDC inputs of one order transaction per tick
# ---------------------------------------------------------------------------

DWD_SCHEMAS = {
    "detail": pa.schema([("id", pa.int64()), ("order_id", pa.int64()),
                         ("sku_id", pa.int64()), ("sku_num", pa.int64()),
                         ("l_extendedprice", pa.float64()),
                         ("l_discount", pa.float64()),
                         ("d_ts", pa.timestamp("us", tz="UTC"))]),
    "order": pa.schema([("o_order_id", pa.int64()), ("user_id", pa.int64()),
                        ("create_time", pa.string()),
                        ("o_ts", pa.timestamp("us", tz="UTC"))]),
    "activity": pa.schema([("a_detail_id", pa.int64()),
                           ("activity_id", pa.int64()),
                           ("a_ts", pa.timestamp("us", tz="UTC"))]),
    "coupon": pa.schema([("c_detail_id", pa.int64()), ("coupon_id", pa.int64()),
                         ("c_ts", pa.timestamp("us", tz="UTC"))]),
}


def dwd_tick(seed: int, phase: str, tick: int, n: int, due_ms: int,
             cfg: dict) -> dict[str, pa.Table]:
    """TPC-H lineitem/orders-shaped rows for `n` new orders, stamped
    with the tick's due time: detail (lineitem), order, and the
    activity (orderkey % 7 == 0) and coupon (orderkey % 11 == 0) rows
    of the same transaction."""
    rng = _rng(seed, phase, tick)
    okey = PHASES[phase] * KEY_SPAN + tick * n + np.arange(n, dtype=np.int64)
    lines = rng.integers(1, 8, n)
    cust = rng.integers(1, 15_001, n)
    order_id = np.repeat(okey, lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]) if n else \
        np.zeros(0, dtype=np.int64)
    m = len(order_id)
    ident = order_id * 100 + linenumber
    qty = rng.integers(1, 51, m)
    part_price = np.round(rng.uniform(900.0, 2100.0, m), 2)
    price = np.round(qty * part_price, 2)
    disc = rng.integers(0, 11, m) / 100.0
    day = dt.datetime.fromtimestamp(due_ms / 1000, dt.timezone.utc).strftime("%Y-%m-%d")
    act = order_id % 7 == 0
    cpn = order_id % 11 == 0
    return {
        "detail": pa.table([ident, order_id, rng.integers(1, 20_001, m), qty,
                            price, disc, _ts_us(due_ms, m)],
                           schema=DWD_SCHEMAS["detail"]),
        "order": pa.table([okey, cust, pa.array([day] * n, pa.string()),
                           _ts_us(due_ms, n)], schema=DWD_SCHEMAS["order"]),
        "activity": pa.table([ident[act], order_id[act] % 5,
                              _ts_us(due_ms, int(act.sum()))],
                             schema=DWD_SCHEMAS["activity"]),
        "coupon": pa.table([ident[cpn], order_id[cpn] % 3,
                            _ts_us(due_ms, int(cpn.sum()))],
                           schema=DWD_SCHEMAS["coupon"]),
    }


def dwd_sentinel(due_ms: int) -> dict[str, pa.Table]:
    """Far-future rows whose keys match nothing: they only advance the
    min-policy watermark so the left-outer hops emit their null rows."""
    far = due_ms + FAR_FUTURE_MS
    rows = {"detail": [[-2], [-2], [-2], [0], [0.0], [0.0]],
            "order": [[-1], [-1], ["x"]],
            "activity": [[-3], [-3]],
            "coupon": [[-4], [-4]]}
    return {d: pa.table([*cols, _ts_us(far, 1)], schema=DWD_SCHEMAS[d])
            for d, cols in rows.items()}


# ---------------------------------------------------------------------------
# dws_uv_window: topic_log JSON page events
# ---------------------------------------------------------------------------

_PAGES = np.array(["home", "good_detail", "cart", "trade", "search", "mine"])
_PAGE_P = np.array([0.35, 0.3, 0.1, 0.05, 0.15, 0.05])
_CHANNELS = np.array(["xiaomi", "oppo", "vivo", "huawei", "web", "appstore"])


def _log_line(uid: str, mid: int, ch: str, is_new: int, page: str,
              during: int, ts_ms: int) -> str:
    return ('{"common":{"uid":"%s","mid":"mid_%d","ch":"%s","is_new":"%d"},'
            '"page":{"page_id":"%s","during_time":%d},"ts":%d}'
            % (uid, mid, ch, is_new, page, during, ts_ms))


def dws_tick(seed: int, phase: str, tick: int, n: int, due_ms: int,
             cfg: dict) -> dict[str, str]:
    """`n` page events from a Zipf-skewed user population, spread
    evenly over the tick's cadence."""
    rng = _rng(seed, phase, tick)
    ranks = _zipf(rng, int(cfg["users"]), n)
    pages = rng.choice(len(_PAGES), n, p=_PAGE_P)
    chans = rng.integers(0, len(_CHANNELS), n)
    during = rng.integers(100, 30_000, n)
    is_new = rng.integers(0, 2, n)
    ts = due_ms + (np.arange(n) * int(cfg["cadence_ms"])) // max(n, 1)
    lines = [_log_line("u%07d" % r, r % 9973, _CHANNELS[c], w, _PAGES[p], d, t)
             for r, p, c, d, w, t in zip(ranks.tolist(), pages.tolist(),
                                         chans.tolist(), during.tolist(),
                                         is_new.tolist(), ts.tolist())]
    return {"log": "\n".join(lines) + ("\n" if lines else "")}


def dws_sentinel(due_ms: int) -> dict[str, str]:
    return {"log": _log_line("zz_sentinel", 0, "web", 0, "home", 0,
                             due_ms + FAR_FUTURE_MS) + "\n"}


# ---------------------------------------------------------------------------
# dim_cdc_upsert: topic_db CDC rows (Maxwell envelope)
# ---------------------------------------------------------------------------

CDC_SCHEMA = pa.schema([("database", pa.string()), ("table", pa.string()),
                        ("type", pa.string()), ("ts", pa.int64()),
                        ("data", pa.map_(pa.string(), pa.string())),
                        ("old", pa.map_(pa.string(), pa.string()))])


def _dim_row(table: str, key: int, v: int) -> list[tuple[str, str]]:
    """Full post-image of one dim row; `v` varies the mutable columns."""
    if table == "part":
        return [("p_partkey", str(key)), ("p_name", f"part {key} name {v % 97}"),
                ("p_mfgr", f"Manufacturer#{key % 5 + 1}"),
                ("p_brand", f"Brand#{key % 5 + 1}{v % 5 + 1}"),
                ("p_type", "STANDARD POLISHED TIN"), ("p_size", str(v % 50 + 1)),
                ("p_container", "SM BOX"), ("p_retailprice", f"{900 + key % 1000}.00"),
                ("p_comment", f"comment {v}")]
    if table == "supplier":
        return [("s_suppkey", str(key)), ("s_name", f"Supplier#{key:09d}"),
                ("s_address", f"addr {v}"), ("s_nationkey", str(v % 25)),
                ("s_phone", f"10-{key % 1000:03d}-{v % 10000:04d}"),
                ("s_acctbal", f"{v % 10000}.00"), ("s_comment", f"comment {v}")]
    if table == "nation":
        return [("n_nationkey", str(key)), ("n_name", f"NATION{key}"),
                ("n_regionkey", str(v % 5)), ("n_comment", f"comment {v}")]
    return [("id", str(key)), ("user_id", str(v)), ("order_status", "1001"),
            ("total_amount", f"{v % 1000}.00")]


_UPDATE_COL = {"part": "p_size", "supplier": "s_nationkey",
               "nation": "n_regionkey", "order_info": "order_status"}


def dim_tick(seed: int, phase: str, tick: int, n: int, due_ms: int,
             cfg: dict) -> dict[str, pa.Table]:
    """`n` change rows: updates, deletes and inserts on part/supplier/
    nation keys drawn Zipf-skewed (hot keys), plus order_info rows the
    routing join must drop. Backlog ticks also carry their slice of
    the bootstrap-insert of every dim key."""
    rng = _rng(seed, phase, tick)
    sizes = {"part": int(cfg["parts"]), "supplier": int(cfg["suppliers"]),
             "nation": int(cfg["nations"])}
    rows: list[tuple[str, str, tuple]] = []
    if phase == "backlog":
        ticks = int(cfg["backlog_ticks"])
        for table, size in sizes.items():
            lo, hi = size * tick // ticks, size * (tick + 1) // ticks
            rows += [(table, "bootstrap-insert", (k, k)) for k in range(lo, hi)]
    tables = rng.choice(4, n, p=[0.6, 0.15, 0.05, 0.2])
    ops = rng.choice(3, n, p=[0.75, 0.1, 0.15])
    vals = rng.integers(0, 1_000_000, n)
    hot = rng.random(n)
    for t, op, v, u in zip(tables.tolist(), ops.tolist(), vals.tolist(), hot.tolist()):
        table = ("part", "supplier", "nation", "order_info")[t]
        size = sizes.get(table, 1_000_000)
        # Zipf(1) rank, scattered over the key range so hot keys are
        # spread across the merge table's buckets
        rank = min(size - 1, int((size + 1.0) ** u) - 1)
        key = (rank * 7919) % size
        if table == "order_info":
            rows.append((table, "insert", (key, v)))
        elif op == 2:
            rows.append((table, "insert", (size + v % size, v)))
        else:
            rows.append((table, ("update", "delete")[op], (key, v)))
    base_us = due_ms * 1000
    data, old = [], []
    for table, typ, (key, v) in rows:
        data.append(_dim_row(table, key, v))
        old.append([(_UPDATE_COL[table], str(v % 7))] if typ == "update" else None)
    m = len(rows)
    return {"db": pa.table([
        pa.array(["gmall"] * m, pa.string()),
        pa.array([r[0] for r in rows], pa.string()),
        pa.array([r[1] for r in rows], pa.string()),
        pa.array(base_us + np.arange(m, dtype=np.int64), pa.int64()),
        pa.array(data, CDC_SCHEMA.field("data").type),
        pa.array(old, CDC_SCHEMA.field("old").type),
    ], schema=CDC_SCHEMA)}


def dim_sentinel(due_ms: int) -> dict[str, pa.Table]:
    """A change row of an unconfigured table: routing drops it, so it
    only marks the end of the stream."""
    return {"db": pa.table([
        pa.array(["gmall"]), pa.array(["__end__"]), pa.array(["insert"]),
        pa.array([(due_ms + FAR_FUTURE_MS) * 1000], pa.int64()),
        pa.array([[("id", "0")]], CDC_SCHEMA.field("data").type),
        pa.array([None], CDC_SCHEMA.field("old").type),
    ], schema=CDC_SCHEMA)}


WORKLOADS = {
    "dwd_order_join": (dwd_tick, dwd_sentinel, "parquet"),
    "dws_uv_window": (dws_tick, dws_sentinel, "json"),
    "dim_cdc_upsert": (dim_tick, dim_sentinel, "parquet"),
}


def input_dirs(workload: str) -> list[str]:
    return {"dwd_order_join": list(DWD_SCHEMAS), "dws_uv_window": ["log"],
            "dim_cdc_upsert": ["db"]}[workload]


def tick_rows(workload: str, seed: int, phase: str, tick: int,
              due_ms: int, spec: dict | None = None) -> dict:
    """The rows of one tick, per input directory."""
    cfg = (spec or load_spec())["workloads"][workload]
    n = int(cfg["live_rows_per_tick"] if phase == "live"
            else cfg[f"{phase}_rows_per_tick"])
    return WORKLOADS[workload][0](seed, phase, tick, n, due_ms, cfg)


def _num_rows(payload) -> int:
    return payload.num_rows if isinstance(payload, pa.Table) else payload.count("\n")


class Writer:
    """Atomic file placement with strictly increasing mtimes per
    directory (the file source replays in mtime order)."""

    def __init__(self, out: str, dirs: list[str], fmt: str):
        self.out, self.fmt = out, fmt
        self.last_ns = dict.fromkeys(dirs, 0)
        for d in dirs:
            os.makedirs(os.path.join(out, d), exist_ok=True)

    def write(self, d: str, name: str, payload, mtime_ns: int | None) -> dict:
        final = os.path.join(self.out, d, name)
        tmp = os.path.join(self.out, d, f".{name}.tmp")
        if self.fmt == "parquet":
            pq.write_table(payload, tmp)
        else:
            with open(tmp, "w") as f:
                f.write(payload)
        stamp = max(mtime_ns if mtime_ns is not None else time.time_ns(),
                    self.last_ns[d] + 1_000_000)
        self.last_ns[d] = stamp
        os.utime(tmp, ns=(stamp, stamp))
        os.rename(tmp, final)
        return {"dir": d, "name": name, "rows": _num_rows(payload),
                "bytes": os.path.getsize(final),
                "written_ms": time.time_ns() / 1e6}


def generate(workload: str, seed: int, phase: str, out: str, manifest: str,
             start_epoch: float | None = None, seconds: float | None = None) -> dict:
    """Write a phase's files and its manifest; returns the manifest.

    warmup/backlog: every tick is written at once, due times laid out
    in the past at the workload's cadence. live: ticks are written on
    the open-loop schedule starting at `start_epoch`, for `seconds`."""
    spec = load_spec()
    cfg = spec["workloads"][workload]
    cad_ms = float(cfg["cadence_ms"])
    tick_fn, sentinel_fn, fmt = WORKLOADS[workload]
    ext = "parquet" if fmt == "parquet" else "json"
    writer = Writer(out, input_dirs(workload), fmt)
    live = phase == "live"
    if live:
        n_ticks = int(round(float(seconds) * 1000.0 / cad_ms))
        t0_ms = float(start_epoch) * 1000.0
    else:
        n_ticks = int(cfg[f"{phase}_ticks"])
        t0_ms = time.time() * 1000.0 - (n_ticks + 1) * cad_ms
    files, late_max = [], 0.0
    for tick in range(n_ticks + 1):
        due_ms = t0_ms + tick * cad_ms
        end = tick == n_ticks
        payloads = (sentinel_fn(int(due_ms)) if end else
                    tick_rows(workload, seed, phase, tick, int(due_ms), spec))
        if live:
            wait = due_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
        for d, payload in payloads.items():
            name = f"{phase}-{tick:06d}{'-end' if end else ''}.{ext}"
            rec = writer.write(d, name, payload,
                               None if live else int(due_ms * 1e6))
            rec.update(tick=tick, due_ms=due_ms, sentinel=end)
            if live:
                late_max = max(late_max, rec["written_ms"] - due_ms)
            files.append(rec)
    doc = {"workload": workload, "seed": seed, "phase": phase,
           "cadence_ms": cad_ms, "ticks": n_ticks, "late_ms_max": late_max,
           "files": files}
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, manifest)
    return doc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--phase", required=True, choices=sorted(PHASES))
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--start-epoch", type=float)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args(argv)
    if args.phase == "live" and (args.start_epoch is None or args.seconds is None):
        ap.error("--phase live needs --start-epoch and --seconds")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    generate(args.workload, args.seed, args.phase, args.out, args.manifest,
             args.start_epoch, args.seconds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
