"""The three warehouse paths the benchmark drives, each built only from
the package's public functions, with the DuckDB query that recomputes
its sink contents from the generated files.

A workload knows its input directories and schemas, builds the
streaming DataFrame that feeds its sink, names its sink (a parquet
append sink or a foreachBatch function), and reads the sink back for
the correctness check.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_data_warehouse_spark.operators.etl import parse_json_stream
from realtime_data_warehouse_spark.plans.dim import (
    DIM_CONFIG,
    dim_config_df,
    route_dim_changes,
)
from realtime_data_warehouse_spark.streaming.joins import windowed_equi_join
from realtime_data_warehouse_spark.streaming.runner import read_back
from realtime_data_warehouse_spark.streaming.sinks import (
    additive_merge_batch,
    dim_upsert_batch,
)
from realtime_data_warehouse_spark.streaming.stateful import daily_first_event_stream


def _reader(spark: SparkSession, max_files: int | None):
    r = spark.readStream
    if max_files:
        r = r.option("maxFilesPerTrigger", str(max_files))
    return r


class DwdOrderJoin:
    """detail ⋈ order ⟕ activity ⟕ coupon with the reference's short
    TTL and 5 s watermark, into a parquet append sink."""

    name = "dwd_order_join"
    dirs = ("detail", "order", "activity", "coupon")
    output_mode = "append"
    #: DuckDB table function over the generated files
    duck_source = "read_parquet({files})"
    #: Spark's parquet sink, no foreachBatch function
    foreach_sink = False
    #: the live query writes into a fresh sink, not the catch-up one
    live_reuses_sink = False
    TTL = "5 seconds"
    WATERMARK = "5 seconds"
    SCHEMAS = {
        "detail": "id long, order_id long, sku_id long, sku_num long, "
                  "l_extendedprice double, l_discount double, d_ts timestamp",
        "order": "o_order_id long, user_id long, create_time string, o_ts timestamp",
        "activity": "a_detail_id long, activity_id long, a_ts timestamp",
        "coupon": "c_detail_id long, coupon_id long, c_ts timestamp",
    }
    COLS = ["id", "order_id", "sku_id", "sku_num", "split_total_amount",
            "user_id", "create_time", "activity_id", "coupon_id"]

    def stream(self, spark: SparkSession, in_root: str,
               max_files: int | None) -> DataFrame:
        def src(d: str, ts: str) -> DataFrame:
            return (_reader(spark, max_files).schema(self.SCHEMAS[d])
                    .parquet(os.path.join(in_root, d))
                    .withWatermark(ts, self.WATERMARK))

        price = F.col("l_extendedprice").cast("decimal(12,2)")
        disc = (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
        detail = src("detail", "d_ts").select(
            "id", "order_id", "sku_id", "sku_num",
            (price * disc).cast("double").alias("split_total_amount"), "d_ts")
        hop1 = windowed_equi_join(
            detail, src("order", "o_ts"),
            equi=F.col("order_id") == F.col("o_order_id"),
            left_ts="d_ts", right_ts="o_ts", ttl=self.TTL, how="inner",
        ).drop("o_order_id", "o_ts")
        hop2 = windowed_equi_join(
            hop1, src("activity", "a_ts"),
            equi=F.col("id") == F.col("a_detail_id"),
            left_ts="d_ts", right_ts="a_ts", ttl=self.TTL, how="left",
        ).drop("a_detail_id", "a_ts")
        return windowed_equi_join(
            hop2, src("coupon", "c_ts"),
            equi=F.col("id") == F.col("c_detail_id"),
            left_ts="d_ts", right_ts="c_ts", ttl=self.TTL, how="left",
        ).select(*self.COLS)

    def sink(self, out_dir: str):
        return None

    def result(self, spark: SparkSession, out_dir: str) -> DataFrame:
        return spark.read.parquet(out_dir).select(*self.COLS)

    def oracle_sql(self) -> str:
        def within(ts: str) -> str:
            return (f"{ts} BETWEEN d.d_ts - INTERVAL 5 SECOND "
                    f"AND d.d_ts + INTERVAL 5 SECOND")

        return f"""
        SELECT d.id, d.order_id, d.sku_id, d.sku_num,
               CAST(CAST(d.l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - d.l_discount AS DECIMAL(3,2)) AS DOUBLE)
                   AS split_total_amount,
               o.user_id, o.create_time, a.activity_id, c.coupon_id
        FROM src_detail d
        JOIN src_order o ON d.order_id = o.o_order_id AND {within('o.o_ts')}
        LEFT JOIN src_activity a ON d.id = a.a_detail_id AND {within('a.a_ts')}
        LEFT JOIN src_coupon c ON d.id = c.c_detail_id AND {within('c.c_ts')}
        WHERE d.order_id >= 0"""


class DwsUvWindow:
    """topic_log JSON → parse → per-user daily first event (Python keyed
    state) → 10 s UV window counts merged additively into a table."""

    name = "dws_uv_window"
    dirs = ("log",)
    output_mode = "append"
    foreach_sink = True
    live_reuses_sink = False
    WINDOW_S = 10
    LOG_SCHEMA = ("common struct<uid:string, mid:string, ch:string, is_new:string>, "
                  "page struct<page_id:string, during_time:long>, ts long")
    duck_source = ("read_json({files}, format='newline_delimited', columns="
                   "{{'common': 'STRUCT(uid VARCHAR, mid VARCHAR, ch VARCHAR, "
                   "is_new VARCHAR)', 'page': 'STRUCT(page_id VARCHAR, "
                   "during_time BIGINT)', 'ts': 'BIGINT'}})")

    def stream(self, spark: SparkSession, in_root: str,
               max_files: int | None) -> DataFrame:
        raw = _reader(spark, max_files).text(os.path.join(in_root, "log"))
        log = parse_json_stream(raw, self.LOG_SCHEMA)  # from_json takes DDL too
        events = log.select(F.col("common.uid").alias("uid"),
                            F.expr("ts div 1000").alias("ts_s"))
        return daily_first_event_stream(events, "uid", "ts_s")

    def sink(self, out_dir: str):
        w = self.WINDOW_S

        def windows(firsts: DataFrame) -> DataFrame:
            return firsts.groupBy(
                (F.col("first_ts") - F.col("first_ts") % w).alias("stt")
            ).agg(F.count(F.lit(1)).alias("uv_ct"),
                  F.sum("is_first_ever").cast("long").alias("new_uv_ct"))

        return additive_merge_batch(out_dir, keys=["stt"],
                                    sum_cols=["uv_ct", "new_uv_ct"],
                                    prepare=windows)

    def result(self, spark: SparkSession, out_dir: str) -> DataFrame:
        return read_back(spark, out_dir).select("stt", "uv_ct", "new_uv_ct")

    def oracle_sql(self) -> str:
        w = self.WINDOW_S
        return f"""
        WITH ev AS (SELECT common.uid AS uid, ts // 1000 AS ts_s FROM src_log),
        firsts AS (SELECT uid, ts_s // 86400 AS day, min(ts_s) AS first_ts
                   FROM ev GROUP BY uid, day),
        flagged AS (SELECT first_ts,
                           CASE WHEN day = min(day) OVER (PARTITION BY uid)
                                THEN 1 ELSE 0 END AS is_first_ever
                    FROM firsts)
        SELECT first_ts - first_ts % {w} AS stt,
               CAST(count(*) AS BIGINT) AS uv_ct,
               CAST(sum(is_first_ever) AS BIGINT) AS new_uv_ct
        FROM flagged GROUP BY stt"""


class DimCdcUpsert:
    """topic_db CDC → broadcast config routing + map pruning → per-dim
    BucketedMergeTable upserts and deletes. The live query keeps
    writing into the warehouse the catch-up drain built, so small
    batches land on a large table."""

    name = "dim_cdc_upsert"
    dirs = ("db",)
    output_mode = "append"
    duck_source = "read_parquet({files})"
    foreach_sink = True
    live_reuses_sink = True
    SCHEMA = ("database string, table string, type string, ts long, "
              "data map<string,string>, old map<string,string>")

    def stream(self, spark: SparkSession, in_root: str,
               max_files: int | None) -> DataFrame:
        changes = (_reader(spark, max_files).schema(self.SCHEMA)
                   .parquet(os.path.join(in_root, "db")))
        return route_dim_changes(changes, dim_config_df(spark))

    def sink(self, out_dir: str):
        return dim_upsert_batch(out_dir, key_expr="rowkey",
                                table_col="sink_table", op_col="type")

    def result(self, spark: SparkSession, out_dir: str) -> DataFrame:
        d = F.col("data")
        kv = F.array_join(F.transform(
            F.array_sort(F.map_keys(d)),
            lambda k: F.concat(k, F.lit("="), F.element_at(d, k))), ",")
        parts = [
            read_back(spark, os.path.join(out_dir, sink)).select(
                F.lit(sink).alias("sink_table"), "rowkey", "type", "ts",
                kv.alias("kv"))
            for _, sink, *_ in DIM_CONFIG
            if os.path.isdir(os.path.join(out_dir, sink))
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def oracle_sql(self) -> str:
        cfg = ", ".join(f"('{src}', '{sink}', '{cols}', '{key}')"
                        for src, sink, cols, _fam, key, _op in DIM_CONFIG)
        return f"""
        WITH cfg(source_table, sink_table, sink_columns, sink_row_key) AS
                 (VALUES {cfg}),
        routed AS (
            SELECT c.sink_table, map_extract(r.data, c.sink_row_key)[1] AS rowkey,
                   r.type, r.ts, r.data, c.sink_columns
            FROM src_db r JOIN cfg c ON r."table" = c.source_table),
        latest AS (
            SELECT * FROM routed
            QUALIFY row_number() OVER (PARTITION BY sink_table, rowkey
                                       ORDER BY ts DESC) = 1),
        kvs AS (
            SELECT sink_table, rowkey, type, ts, sink_columns,
                   unnest(map_keys(data)) AS k, unnest(map_values(data)) AS v
            FROM latest WHERE type <> 'delete')
        SELECT sink_table, rowkey, type, ts,
               string_agg(k || '=' || v, ',' ORDER BY k) AS kv
        FROM kvs WHERE list_contains(string_split(sink_columns, ','), k)
        GROUP BY sink_table, rowkey, type, ts"""


WORKLOADS = {w.name: w for w in (DwdOrderJoin(), DwsUvWindow(), DimCdcUpsert())}


def duckdb_views(con, workload, files_by_dir: dict[str, list[str]]) -> None:
    """One DuckDB view per input directory over exactly the given files."""
    for d in workload.dirs:
        files = "[" + ", ".join(f"'{f}'" for f in files_by_dir.get(d, [])) + "]"
        src = workload.duck_source.format(files=files)
        con.execute(f"CREATE OR REPLACE VIEW src_{d} AS SELECT * FROM {src}")
