"""Transcript→edge extraction vs a pandas oracle + the per-turn text
equality invariant (input_hint contract)."""

import random
import re
from collections import Counter

import pandas as pd
import pytest

from webgraph_algo_rs_spark.extraction import (
    _ranked,
    build_vertices,
    dense_ids,
    extract_edges,
)
from webgraph_algo_rs_spark.sources.transcripts import TRANSCRIPT_SCHEMA, gen_transcripts


def _oracle_edges(pdf: pd.DataFrame) -> Counter:
    """Pandas re-derivation of reply + tool edges on natural keys."""
    edges = Counter()
    for conv_id, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values("turn_idx")
        keys = [f"{conv_id}/{r}" for r in grp["role"]]
        for prev, cur in zip(keys, keys[1:]):
            edges[(prev, cur)] += 1
        for k, tool in zip(keys, grp["tool"]):
            if tool is not None and not pd.isna(tool):
                edges[(k, f"tool/{tool}")] += 1
    return edges


def test_generator_deterministic_and_valid(spark):
    t1 = gen_transcripts(spark, 30, seed=42).toPandas()
    t2 = gen_transcripts(spark, 30, seed=42, partitions=7).toPandas()
    key = ["conv_id", "turn_idx"]
    a = t1.sort_values(key).reset_index(drop=True)
    b = t2.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # (conv_id, turn_idx) unique; ts monotone within conversation
    assert not a.duplicated(key).any()
    for _, g in a.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        assert g["ts"].is_monotonic_increasing
        assert list(g["turn_idx"]) == list(range(len(g)))


def test_edges_match_pandas_oracle(spark):
    t = gen_transcripts(spark, 40, seed=42)
    pdf = t.toPandas()
    want = _oracle_edges(pdf)

    vertices = build_vertices(t)
    vmap = {r["key"]: r["vertex_id"] for r in vertices.collect()}
    got = {
        (r["src_vertex"], r["dst_vertex"]): r["weight"]
        for r in extract_edges(t, vertices).collect()
    }
    want_ids = {(vmap[s], vmap[d]): float(c) for (s, d), c in want.items()}
    assert got == want_ids


def test_dense_vertex_ids(spark):
    t = gen_transcripts(spark, 25, seed=42)
    v = build_vertices(t).toPandas()
    n = len(v)
    assert sorted(v["vertex_id"]) == list(range(n))  # dense 0..V-1
    assert v["key"].is_unique
    # deterministic: ids ordered by key
    assert list(v.sort_values("key")["vertex_id"]) == list(range(n))


def test_text_equality_invariant(spark):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    survives the extraction pipeline (BASELINE.json input_hint)."""
    t = gen_transcripts(spark, 20, seed=42)
    before = t.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    extract_edges(t).count()  # run the pipeline end to end
    after = t.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert before == after
    assert all(
        r["text"] == f"{r['conv_id']}:{r['turn_idx']}:{r['text'].split(':')[2]}"
        for r in after
    )


def test_dense_ids_utility(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",), ("a",)], "k string")
    got = {r["k"]: r["id"] for r in dense_ids(df, "k").collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def _oracle_vertices(pdf: pd.DataFrame) -> set:
    """Pandas dictionary ``(kind, key, vertex_id)``: every turn's author key,
    every tool key, ids by a dense rank of the distinct keys."""
    rows = {("participant", f"{c}/{r}") for c, r in zip(pdf["conv_id"], pdf["role"])}
    rows |= {("tool", f"tool/{t}") for t in pdf["tool"] if t is not None and not pd.isna(t)}
    keys = pd.Series(sorted({k for _, k in rows}), dtype=object)
    rank = dict(zip(keys, keys.rank(method="dense").astype(int) - 1))
    return {(kind, key, rank[key]) for kind, key in rows}


# (conv_id, role, tool) per turn; turn_idx is the position within conv_id
DEGENERATE = {
    "empty": [],
    # "a/user" sorts first: the isolated vertex takes id 0, shifting the rest
    "single_turn_conversation": [
        ("b", "user", None), ("b", "assistant", "tool_001"), ("a", "user", None),
    ],
    # every assistant turn calls a tool: its key must still be a vertex
    "author_always_calls_tool": [
        ("c", "user", None), ("c", "assistant", "tool_000"),
        ("c", "user", None), ("c", "assistant", "tool_002"),
        ("d", "assistant", "tool_000"),
    ],
    "tool_null_everywhere": [
        ("e", "user", None), ("e", "assistant", None), ("e", "user", None),
        ("f", "assistant", None),
    ],
    # participant key "tool/tool_000" equals the tool key of tool_000: two
    # dictionary rows share one id, and every edge still appears once
    "participant_key_equals_tool_key": [
        ("tool", "tool_000", None), ("tool", "assistant", "tool_000"),
        ("tool", "tool_000", None),
    ],
}


@pytest.mark.parametrize("case", list(DEGENERATE))
def test_extraction_degenerate_inputs(spark, case):
    seen = Counter()
    rows = []
    for conv, role, tool in DEGENERATE[case]:
        rows.append((conv, seen[conv], role, f"{conv}:{seen[conv]}:x", tool, None))
        seen[conv] += 1
    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    pdf = t.toPandas()

    vertices = build_vertices(t)
    assert vertices.schema.simpleString() == "struct<kind:string,key:string,vertex_id:bigint>"
    want_v = _oracle_vertices(pdf)
    got_v = [tuple(r) for r in vertices.collect()]
    assert len(got_v) == len(want_v) and set(got_v) == want_v

    ids = {key: vid for _, key, vid in want_v}
    want = sorted((ids[s], ids[d], float(c)) for (s, d), c in _oracle_edges(pdf).items())
    for edges in (extract_edges(t), extract_edges(t, vertices=vertices)):
        assert edges.schema.simpleString() == "struct<src_vertex:bigint,dst_vertex:bigint,weight:double>"
        assert sorted(tuple(r) for r in edges.collect()) == want


def _shuffle_exchanges(df) -> list:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\bExchange (\w+)", plan)


def test_dense_ids_one_range_shuffle(spark):
    """The ranks are taken in the stage after the one range shuffle; any
    other shuffle in front of them would break the key order."""
    df = spark.createDataFrame([("c",), ("a",), ("b",), ("a",)], "k string")
    assert _shuffle_exchanges(_ranked(df, "k")) == ["rangepartitioning"]
    assert _shuffle_exchanges(dense_ids(df, "k")) == []


@pytest.mark.parametrize("keys", ["repeated", "identical", "empty"])
def test_dense_ids_matches_pandas_rank(spark, keys):
    rng = random.Random(7)
    distinct = {
        "repeated": [f"k{n}" for n in rng.sample(range(10**9), 5000)],
        "identical": ["same"],
        "empty": [],
    }[keys]
    rows = [(k,) for k in distinct * 3]
    rng.shuffle(rows)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        got = sorted(tuple(r) for r in dense_ids(spark.createDataFrame(rows, "k string"), "k").collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    s = pd.Series(sorted(set(distinct)), dtype=object)
    assert got == list(zip(s, s.rank(method="dense").astype(int) - 1))
