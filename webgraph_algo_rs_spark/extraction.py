"""Transcript → edge-table extraction (north-rule input pipeline).

Produces the engine's fundamental abstraction — an edge DataFrame
``(src_vertex:bigint, dst_vertex:bigint, weight:double)`` — from the
transcript table, mirroring how the reference consumes a
``RandomAccessGraph`` with dense ``usize`` node ids
(``/root/reference/src/algo/visits/breadth_first/seq.rs:92-95``).

Edge rules (FIXTURES.md §2):
* **reply edge**: within each ``conv_id`` under stable
  ``(conv_id, turn_idx)`` ordering, turn *t−1*'s author-vertex → turn
  *t*'s author-vertex (window ``lag`` — no global sort, partitioned by
  conversation so it scales to 10^12 turns);
* **tool-invocation edge**: turn's author-vertex → tool-vertex when
  ``tool IS NOT NULL``;
* weights = multiplicity after ``groupBy(src,dst)`` aggregation.

One scan (:func:`_aggregate`). A single window pass over the transcripts
emits, per turn, the reply pair ``(prev_author_key, author_key)``, the
tool pair ``(author_key, tool_key)`` and a ``(key, NULL)`` marker for the
author key (every turn, tool or not) and for the tool key. One
``groupBy(src_key, dst_key, kind)`` then yields the weighted edge
multiset (rows with a ``dst_key``) and every vertex key exactly once (the
marker rows, ``kind`` = ``participant`` or ``tool``), with no separate
distinct. The aggregate is pinned once; the id assignment and both id
joins read the pin, never the transcripts.

Vertex dictionary: ``(kind, key) → dense bigint id``, ids ``0..n-1``
ordered by key. A key that is both a participant and a tool (conversation
``tool`` with role ``tool_000``) has two dictionary rows and one id; the
edge joins go through the key-unique id frame, so each edge appears once.

:func:`dense_ids` takes one range shuffle: ``repartitionByRange`` on the
key clusters equal keys, so ``dropDuplicates`` and ``sortWithinPartitions``
run in the same stage, where ``monotonically_increasing_id() - (pid << 33)``
is each key's rank inside its range. After the pin, one small collect of
per-partition counts gives each range's offset, added back as a literal
array indexed by partition id. No global single-task window, no offsets
join.

The per-turn **text equality invariant** (input_hint): extraction never
mutates the transcript rows; ``tests/test_extraction.py`` checks texts
survive byte-identical under stable ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ranked(df: DataFrame, key_col: str) -> DataFrame:
    """Distinct keys in range order, with ``_pid`` (range ordinal) and
    ``_rn`` (rank inside the range) — one range shuffle, one stage after it.

    ``monotonically_increasing_id`` is ``(pid << 33) + row number`` of the
    partition it runs in; evaluated right after the sort, the row number
    is the key's rank.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pid = F.spark_partition_id().cast("long")
    return (
        df.select(key_col)
        .repartitionByRange(n_part, key_col)
        .dropDuplicates([key_col])
        .sortWithinPartitions(key_col)
        .select(
            key_col,
            pid.alias("_pid"),
            (F.monotonically_increasing_id() - F.shiftleft(pid, 33)).alias("_rn"),
        )
    )


def dense_ids(df: DataFrame, key_col: str, id_col: str = "id") -> DataFrame:
    """Assign dense contiguous ids ``0..n-1`` to distinct keys, ordered by key.

    Duplicate input keys are allowed. The ranked keys are pinned (partition
    ids are plan-scoped, so both reads must see one evaluation); the
    per-partition counts (≤ one small row per partition — driver-safe at
    any scale) become the offsets.
    """
    ranked = _ranked(df, key_col).localCheckpoint(eager=True)
    counts = dict(ranked.groupBy("_pid").count().collect())
    offsets, acc = [], 0
    for p in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += counts.get(p, 0)
    offset = F.lit(offsets).cast("array<bigint>")[F.col("_pid")]
    return ranked.select(key_col, (offset + F.col("_rn")).alias(id_col))


def author_vertex_key(conv_id=None, role=None):
    """A turn's author-vertex natural key: the (conversation, role) pair."""
    conv_id = F.col("conv_id") if conv_id is None else conv_id
    role = F.col("role") if role is None else role
    return F.concat_ws("/", conv_id, role)


def _aggregate(transcripts: DataFrame) -> DataFrame:
    """Pinned ``(src_key, dst_key, kind, weight)``: edges where ``dst_key``
    is set (``kind`` NULL), vertex markers where it is NULL."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    author = F.col("author_key")
    tool = F.col("tool_key")
    none = F.lit(None).cast("string")
    turns = transcripts.select(
        "conv_id",
        "turn_idx",
        author_vertex_key().alias("author_key"),
        F.concat(F.lit("tool/"), "tool").alias("tool_key"),  # NULL when tool is
    ).withColumn("prev_key", F.lag("author_key").over(w))

    def row(src, dst, kind):
        return F.struct(src.alias("src_key"), dst.alias("dst_key"), kind.alias("kind"))

    rows = F.array(
        row(F.col("prev_key"), author, none),
        row(author, tool, none),
        row(author, none, F.lit("participant")),
        row(tool, none, F.lit("tool")),
    )
    return (
        turns.select(F.inline(rows))
        # drops the first turn's reply pair and, on tool-less turns, the
        # tool pair and the tool marker
        .filter(F.col("src_key").isNotNull() & F.coalesce("dst_key", "kind").isNotNull())
        .groupBy("src_key", "dst_key", "kind")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .localCheckpoint(eager=True)
    )


def _markers(agg: DataFrame) -> DataFrame:
    return agg.filter(F.col("dst_key").isNull()).select("kind", F.col("src_key").alias("key"))


def build_vertices(transcripts: DataFrame) -> DataFrame:
    """Vertex dictionary ``(kind, key, vertex_id)`` with dense long ids."""
    markers = _markers(_aggregate(transcripts))
    ids = dense_ids(markers, "key", "vertex_id")
    return markers.join(ids, "key").select("kind", "key", "vertex_id")


def extract_edges(transcripts: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Full pipeline: transcripts → ``(src_vertex, dst_vertex, weight)``.

    Aggregates key-pairs *before* mapping to ids (map-side combine on the
    smaller distinct key space), then joins the key-unique id frame twice:
    the dense ids of the aggregate's own markers or, when ``vertices`` is
    given, that dictionary deduplicated by key. The dictionary join
    broadcasts when small; at 10^12-turn scale it is a shuffle hash join
    on the dictionary's dense key — both sides pre-aggregated, no skew
    beyond what AQE's skew-join splits.
    """
    agg = _aggregate(transcripts)
    if vertices is None:
        v = dense_ids(_markers(agg), "key", "vertex_id")
    else:
        v = vertices.select("key", "vertex_id").dropDuplicates(["key"])
    src = v.select(F.col("key").alias("src_key"), F.col("vertex_id").alias("src_vertex"))
    dst = v.select(F.col("key").alias("dst_key"), F.col("vertex_id").alias("dst_vertex"))
    return (
        agg.filter(F.col("dst_key").isNotNull())
        .join(src, "src_key")
        .join(dst, "dst_key")
        .select("src_vertex", "dst_vertex", "weight")
    )
