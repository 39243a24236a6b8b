"""One-off physical-strategy probe for the big-graph PageRank superstep.

Compares, on the committed 157M-edge scaling input at local[32],
physical strategies for the scatter join (``state ⋈ edges ON src``) over
the normalized edge table ``repartition(64, src)`` +
``persist(MEMORY_AND_DISK)``:

  a) ``cached``     — sort-merge join: scan from the block manager, but
     the SMJ re-sorts 157M rows per superstep;
  b) ``cached_shj`` — ``preferSortMergeJoin=false``, so the scatter is a
     shuffled hash join with the *state* as build side;
  c) ``cached_hint`` — the same through a ``shuffle_hash`` hint on the
     state side;
  d) ``cached_int`` / ``cached_int_f32`` — the hash join over int32 ids
     (and float32 weights): the bytes-per-edge probe.

A bucketed+sorted ``saveAsTable`` store ran slower than ``cached``
and ``cached_shj`` in the recorded run
(``bench_logs/pr_superstep_probe_157m_r4.log``).

Each variant runs the same hand-rolled superstep loop (scatter, gather,
apply, L1-residual action per step) for ``iters`` steps after one
untimed warm step. Prints one JSON line per variant. Evidence for
choosing the edge-side storage of the superstep loop, not a committed
benchmark.

Usage: python tools/pr_superstep_probe.py <edges_parquet> [iters] [variants...]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from webgraph_algo_rs_spark.session import get_spark

N_BUCKETS = 64


def norm_edges_plan(edges):
    out_w = edges.groupBy("src_vertex").agg(F.sum("weight").alias("out_w"))
    return edges.join(out_w, "src_vertex").select(
        F.col("src_vertex").alias("src"),
        F.col("dst_vertex").alias("dst"),
        (F.col("weight") / F.col("out_w")).alias("nw"),
    )


def loop(spark, norm, vertices, n, iters: int, build_hint: bool = False) -> dict:
    state = (
        vertices.select("vertex", F.lit(1.0 / n).alias("rank"))
        .repartition(N_BUCKETS, "vertex")
        .persist()
    )
    state.count()
    walls = []
    prev = state
    for it in range(iters + 1):  # +1 warm step, untimed
        t0 = time.time()
        scatter_state = state.hint("shuffle_hash") if build_hint else state
        msgs = (
            scatter_state.join(norm, scatter_state.vertex == norm.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("nw")).alias("contrib"))
        )
        stepped = (
            state.join(msgs, state.vertex == msgs.dst, "left")
            .select(
                "vertex",
                (
                    F.lit(0.15 / n)
                    + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
                F.col("rank").alias("prev_rank"),
            )
            .persist()
        )
        stepped.agg(F.sum(F.abs(F.col("rank") - F.col("prev_rank")))).first()
        prev.unpersist()
        prev = stepped
        state = stepped.select("vertex", "rank")
        if it > 0:
            walls.append(time.time() - t0)
    prev.unpersist()
    return {"walls": [round(w, 1) for w in walls], "wall": round(sum(walls), 1)}


def main() -> None:
    edges_path = sys.argv[1]
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    variants = sys.argv[3:] or ["cached", "cached_shj", "cached_hint"]
    spark = get_spark(
        app_name="pr-probe",
        master="local[32]",
        shuffle_partitions=N_BUCKETS,
        extra_conf={"spark.driver.memory": "28g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    vertices = (
        edges.select(F.col("src_vertex").alias("vertex"))
        .union(edges.select(F.col("dst_vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = vertices.count()
    print(json.dumps({"n_edges": n_edges, "n_vertices": n}), flush=True)

    for variant in variants:
        if variant == "cached_shj" or variant.startswith("cached_int"):
            # narrow-id variants measure bytes-per-edge under the
            # same (winning) shuffled-hash-join physical strategy
            spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        else:
            spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        norm_plan = norm_edges_plan(edges)
        verts = vertices
        if variant.startswith("cached_int"):
            # bytes-per-edge probe for the DRAM-bound 8->32 plateau:
            # dense ids < 2^31 fit int32 (edge row 24B -> 16B; with
            # float32 weights -> 12B). Both join sides narrowed so
            # hash co-partitioning stays consistent.
            max_id = vertices.agg(F.max("vertex")).first()[0]
            assert max_id < 2**31, (
                f"cached_int* probe needs ids < 2^31, got max {max_id}: "
                "the non-ANSI int cast would silently wrap"
            )
            nw_t = "float" if variant.endswith("f32") else "double"
            norm_plan = norm_plan.select(
                F.col("src").cast("int").alias("src"),
                F.col("dst").cast("int").alias("dst"),
                F.col("nw").cast(nw_t).alias("nw"),
            )
            verts = vertices.select(F.col("vertex").cast("int").alias("vertex"))
        norm = (
            norm_plan
            .repartition(N_BUCKETS, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        norm.count()
        res = loop(
            spark, norm, verts, n, iters,
            build_hint=(variant == "cached_hint"),
        )
        norm.unpersist()
        res.update(
            variant=variant,
            eps=round(n_edges * iters / res["wall"]) if res["wall"] else None,
        )
        print(json.dumps(res), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
