"""The benchmark's workloads: the pipelines each runs in a closed loop
and the DuckDB oracle for each pipeline (inputs are in ``gen.TABLES``).

A pipeline is built from the generated files through the engine's public
modules only (``sources``, ``core.OmigoDF``, ``functions``, ``operators``,
``streaming``) and returns its output DataFrame; the runner ends it with
a sink that collects the output. Every engine call goes through a module
attribute or a name ``__spark_entry__`` imported, both of which the
traced run wraps.

Pipelines that match a registry entry of ``__spark_entry__`` call it
and reuse its DuckDB oracle from ``oracle_sql()``. Two entries name
absolute keys (``vec_id < 3``, ``c_custkey < 5``); those pipelines keep
their own body, with the keys shifted by the seed's key offset, and
shift the oracle the same way. The other ETL pipelines carry their own
oracle SQL.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import functions as F

import __spark_entry__ as E
from omigo_data_analytics_spark.core.dataframe import OmigoDF
from omigo_data_analytics_spark.functions import aggs as AG
from omigo_data_analytics_spark.functions import timefuncs as TFN
from omigo_data_analytics_spark.operators import graph as GR
from omigo_data_analytics_spark.operators import similarity as SIM
from omigo_data_analytics_spark.sources import io as IO
from omigo_data_analytics_spark.streaming import stream as ST


@dataclass
class Ctx:
    """What a pipeline may know: the session, where the generated tables
    are, each table's key offset for this seed, and a scratch directory."""
    spark: object
    data_dir: str
    scratch_dir: str
    offsets: dict

    def path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def read(self, table: str) -> OmigoDF:
        return IO.read_parquet(self.spark, self.path(table))

    def scratch(self, name: str) -> str:
        return os.path.join(self.scratch_dir, f"{name}-{uuid.uuid4().hex[:12]}")


@dataclass(frozen=True)
class Pipeline:
    name: str
    tables: tuple[str, ...]              # inputs it reads, for rows/s
    build: Callable[[Ctx], object]       # -> DataFrame (streaming or batch)
    oracle: Callable[[dict], str]        # key offsets -> DuckDB SQL


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pipelines: tuple[Pipeline, ...]


def _registry_sql(name: str, replace: dict | None = None) -> Callable[[dict], str]:
    """Oracle SQL of a ``__spark_entry__`` registry entry; ``replace`` maps a
    literal key predicate to a function of the seed's key offsets."""
    def sql(offsets):
        text = E.oracle_sql()[name]
        for old, new in (replace or {}).items():
            if old not in text:
                raise RuntimeError(f"oracle for {name} no longer contains {old!r}")
            text = text.replace(old, new(offsets))
        return text
    return sql


def _entry(fn) -> Callable[[Ctx], object]:
    """Build a registry entry's query over the generated tables."""
    return lambda ctx: fn(ctx.spark, ctx.data_dir)


def _dsum(c: str) -> str:
    return f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"


# =====================================================================
# etl_scan: wide relational pipelines in the reference's style
# =====================================================================

def etl_lineitem(ctx: Ctx):
    """Regex column selection, typed filters and a grouped aggregate over
    the largest table (a TPC-H Q1 shape)."""
    li = ctx.read("lineitem")
    f = (li.select(["l_orderkey", "l_quantity", "l_.*price", "l_discount",
                    "l_return.*", "l_linestatus", "l_shipdate"])
           .values_in("l_linestatus", ["F", "O"])
           .gt_float("l_quantity", 3)
           .where("l_shipdate <= timestamp'1998-09-02 00:00:00'"))
    return (f.aggregate(["l_returnflag", "l_linestatus"],
                        ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey"],
                        ["sumdec", "sumdec", "meandec", "uniq_count"])
             .rename("l_quantity:sumdec", "sum_qty")
             .rename("l_extendedprice:sumdec", "sum_price")
             .rename("l_discount:meandec", "avg_disc")
             .rename("l_orderkey:uniq_count", "n_orders")
             .df)


SQL_ETL_LINEITEM = f"""
SELECT l_returnflag, l_linestatus, {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
WHERE l_linestatus IN ('F', 'O') AND l_quantity > 3
  AND l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def etl_orders_customers(ctx: Ctx):
    """A Python lambda transform, a shuffle join, a broadcast (map-side)
    join and aggregates taken from the ``functions.aggs`` registry."""
    c = ctx.read("customer").transform(["c_mktsegment"], lambda s: s[:4].lower(), ["seg4"])
    j = (ctx.read("orders").gt_float("o_totalprice", 1000.0)
         .inner_join(c, lkeys="o_custkey", rkeys="c_custkey")
         .inner_map_join(ctx.read("nation"), lkeys="c_nationkey", rkeys="n_nationkey"))
    return j.df.groupBy("n_regionkey", "seg4").agg(
        AG.agg_expr("sumdec", F.col("o_totalprice")).alias("total_price"),
        AG.agg_expr("uniq_count", F.col("o_custkey")).alias("n_customers"),
        AG.agg_expr("get_array_len", F.col("o_orderkey")).alias("n_orders"))


SQL_ETL_ORDERS_CUSTOMERS = f"""
SELECT n_regionkey, lower(substr(c_mktsegment, 1, 4)) AS seg4,
       {_dsum('o_totalprice')} AS total_price,
       COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
WHERE o_totalprice > 1000.0
GROUP BY 1, 2
"""


def etl_write_clustered(ctx: Ctx):
    """Shuffle join of the two largest tables, a range-clustered write,
    and a filtered read-back of what was written."""
    li = ctx.read("lineitem").select(["l_orderkey", "l_extendedprice", "l_discount",
                                      "l_returnflag"])
    o = ctx.read("orders").select(["o_orderkey", "o_orderstatus"])
    out = ctx.scratch("clustered")
    IO.write_clustered(li.inner_join(o, lkeys="l_orderkey", rkeys="o_orderkey"),
                       out, cluster_by="l_orderkey", num_files=8)
    back = IO.read_parquet(ctx.spark, out)
    return (back.ge_float("l_discount", 0.05)
                .aggregate(["l_returnflag", "o_orderstatus"],
                           ["l_extendedprice", "l_orderkey"], ["sumdec", "get_array_len"])
                .rename("l_extendedprice:sumdec", "revenue")
                .rename("l_orderkey:get_array_len", "n_lines")
                .df)


SQL_ETL_WRITE_CLUSTERED = f"""
SELECT l_returnflag, o_orderstatus, {_dsum('l_extendedprice')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_discount >= 0.05
GROUP BY 1, 2
"""


def etl_stream(ctx: Ctx):
    """A ``streaming.file_source`` over the event files, a few files per
    micro-batch (run by the sink). The ``timefuncs`` sniffing ladder
    re-reads every timestamp from two string shapes; rows it recovers
    exactly feed event-time hourly windows."""
    schema = ctx.spark.read.parquet(ctx.path("events")).schema
    sdf = ST.file_source(ctx.spark, ctx.path("events"), schema, max_files_per_trigger=2)
    # the event files store zone-less timestamps (as the test data does)
    sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    iso_ms = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    ok = sdf.where((TFN.to_utctimestamp_sec(iso) == F.unix_timestamp("ts"))
                   & (TFN.to_utctimestamp_millis(iso_ms)
                      == F.floor(F.unix_micros("ts") / 1000)))
    return ST.windowed_aggregate(ok, "ts", "1 hour", ["value"], ["sumdec"],
                                 grouping_cols=["event_type"])


SQL_ETL_STREAM = f"""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, {_dsum('value')} AS "value:sumdec"
FROM events GROUP BY 1, 2, 3
"""


# =====================================================================
# operator_loops: token-rotated near-twin documents, perturbed embeddings
# and per-round driver jobs; the other pipelines are registry entries
# =====================================================================

def nd_ivf(ctx: Ctx):
    e = ctx.read("embeddings")
    lo = ctx.offsets["embeddings"]
    q = OmigoDF(e.df.where(f"vec_id < {lo + 3}"))
    c = OmigoDF(e.df.where(f"vec_id >= {lo + 3}"))
    return SIM.cosine_topk_ivf(c, q, k=5).df


def it_bfs(ctx: Ctx):
    """BFS levels from five seed customers over the customer -> order ->
    part graph: one round of driver jobs per level."""
    lo = ctx.offsets["customer"]
    seeds = OmigoDF(ctx.read("customer").df.where(f"c_custkey < {lo + 5}").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node_id")))
    return GR.bfs_levels(E._edges_df(ctx.spark, ctx.data_dir), seeds).df


def _const(sql: str) -> Callable[[dict], str]:
    return lambda offsets: sql


WORKLOADS = {
    "etl_scan": Workload(
        "etl_scan",
        "data volume and scan parallelism set its time; reads and writes "
        "multi-file parquet, few operators or iterative jobs",
        (Pipeline("lineitem_aggregate", ("lineitem",), etl_lineitem,
                  _const(SQL_ETL_LINEITEM)),
         Pipeline("orders_customer_join", ("orders", "customer", "nation"),
                  etl_orders_customers, _const(SQL_ETL_ORDERS_CUSTOMERS)),
         Pipeline("events_day_windows", ("events",), _entry(E.q_window_tumbling),
                  _registry_sql("window_tumbling")),
         Pipeline("join_write_clustered", ("lineitem", "orders"), etl_write_clustered,
                  _const(SQL_ETL_WRITE_CLUSTERED)),
         Pipeline("events_stream_timefuncs", ("events",), etl_stream,
                  _const(SQL_ETL_STREAM))),
    ),
    "operator_loops": Workload(
        "operator_loops",
        "operators on small inputs: candidate pairs, shuffles and per-round "
        "driver jobs and checkpoints set its time, not data volume",
        (Pipeline("text_metrics", ("documents",), _entry(E.q_text_metrics),
                  _registry_sql("text_metrics")),
         Pipeline("tfidf_top_terms", ("documents",), _entry(E.q_tfidf_top_terms),
                  _registry_sql("tfidf_top_terms")),
         Pipeline("minhash_cluster", ("documents",), _entry(E.q_dedup_cluster),
                  _registry_sql("dedup_cluster")),
         Pipeline("ngram_jaccard", ("documents",), _entry(E.q_ngram_jaccard),
                  _registry_sql("ngram_jaccard")),
         Pipeline("ivf_topk", ("embeddings",), nd_ivf, _registry_sql(
             "similarity_ivf",
             {"vec_id < 3": lambda o: f"vec_id < {o['embeddings'] + 3}",
              "vec_id >= 3": lambda o: f"vec_id >= {o['embeddings'] + 3}"})),
         Pipeline("graph_bfs", ("orders", "lineitem", "customer"), it_bfs,
                  _registry_sql("graph_bfs", {
                      "custkey < 5": lambda o: f"custkey < {o['customer'] + 5}"})),
         Pipeline("sessionize_bucketed", ("events",), _entry(E.q_sessionize_bucketed),
                  _registry_sql("sessionize_bucketed"))),
    ),
}
