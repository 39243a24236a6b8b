"""Parquet table loaders + edge derivations over the driver testdata.

``/root/testdata/sf*/`` ships TPC-H-ish tables plus ``events``,
``documents``, ``embeddings`` (TESTDATA.md). In production these are
Iceberg tables (``spark.read.format("iceberg")``); the sandbox reads
plain Parquet — same DataFrame downstream either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_user_edges(
    spark: SparkSession, sf_dir: str, n_ranges: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Interaction graph from the events stream: consecutive events in
    global ``(ts, event_id)`` order produce an edge previous-actor →
    current-actor; self-loops dropped; weight = multiplicity.

    This is the testdata analog of the transcript reply-edge rule
    (consecutive turns under stable ordering → edge), SQL-expressible so
    the DuckDB oracle can replay it exactly.

    Scale note: semantics need one *global* event order, but a naive
    ``Window.orderBy`` funnels the whole table through a single-task
    sort. Instead we range-partition on the ordering key
    (``repartitionByRange`` — a parallel, sampled range shuffle), run the
    ``lag`` *within* each contiguous range, and stitch the ≤ ``n_ranges``
    boundary rows (each range's last actor feeds the next range's first
    row) via a tiny broadcast join. Identical output, no single-task
    stage; the stitch table is bounded by the partition count, so the
    driver collect is O(partitions) at any data scale.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    n_ranges = n_ranges or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Bucket = range-partition id on the full ordering key (the
    # dense_ids pattern, `extraction._ranked`): repartitionByRange is a
    # parallel sampled range shuffle, and spark_partition_id gives each
    # contiguous range its ordinal. The frame is pinned with
    # localCheckpoint so the window below and the boundary-stitch
    # collect see the SAME bucket assignment (partition ids are
    # plan-scoped, not pure). A chained `WHEN` per quantile boundary —
    # the previous design — builds an O(n_ranges)-deep expression tree,
    # a Catalyst-analysis blow-up at 10⁴ shuffle partitions.
    bucketed = ev.repartitionByRange(n_ranges, "ts", "event_id").withColumn(
        "_bkt", F.spark_partition_id()
    )
    if pin:
        bucketed = bucketed.localCheckpoint(eager=True)
    # ``pin=False`` keeps the frame lazy so plan tests can see the
    # parquet FileScan (column pruning); production callers leave the
    # default — an unpinned spark_partition_id could be re-derived
    # differently between the window pass and the stitch collect.
    w = Window.partitionBy("_bkt").orderBy("ts", "event_id")
    lagged = bucketed.withColumn("prev_user", F.lag("user_id").over(w))
    # last actor per non-empty bucket → first row of the next non-empty
    # bucket (lag is NULL only there); empty buckets are skipped by
    # construction because only observed _bkt values appear
    lasts = sorted(
        bucketed.groupBy("_bkt")
        .agg(F.max_by("user_id", F.struct(F.col("ts"), F.col("event_id"))).alias("u"))
        .collect(),
        key=lambda r: r["_bkt"],
    )
    stitch = [(lasts[i + 1]["_bkt"], lasts[i]["u"]) for i in range(len(lasts) - 1)]
    stitch_df = spark.createDataFrame(stitch, "_bkt int, _stitch_user bigint")
    return (
        lagged.join(F.broadcast(stitch_df), "_bkt", "left")
        .withColumn("prev_user", F.coalesce("prev_user", "_stitch_user"))
        .filter(F.col("prev_user").isNotNull() & (F.col("prev_user") != F.col("user_id")))
        .groupBy(
            F.col("prev_user").alias("src_vertex"), F.col("user_id").alias("dst_vertex")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


EVENTS_USER_EDGES_SQL = """
WITH ordered AS (
  SELECT user_id, lag(user_id) OVER (ORDER BY ts, event_id) AS prev_user
  FROM events
)
SELECT prev_user AS src_vertex, user_id AS dst_vertex,
       CAST(count(*) AS DOUBLE) AS weight
FROM ordered
WHERE prev_user IS NOT NULL AND prev_user <> user_id
GROUP BY 1, 2
"""


def customer_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted bipartite graph customer → supplier via orders ⋈ lineitem.

    The bigger derived graph (≈ lineitem cardinality pre-agg). The
    orders→lineitem join is a plain shuffle hash join on ``orderkey``;
    customer keys are negated to keep the two vertex namespaces disjoint.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            (-F.col("o_custkey") - 1).cast("long").alias("src_vertex"),
            F.col("l_suppkey").cast("long").alias("dst_vertex"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


CUSTOMER_SUPPLIER_EDGES_SQL = """
SELECT CAST(-o.o_custkey - 1 AS BIGINT) AS src_vertex,
       CAST(l.l_suppkey AS BIGINT) AS dst_vertex,
       CAST(count(*) AS DOUBLE) AS weight
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
"""
