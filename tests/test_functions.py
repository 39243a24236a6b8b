"""Dedup / text / similarity / multimodal functions vs python oracles."""

import hashlib
from collections import Counter

import numpy as np
import pytest

from webgraph_algo_rs_spark.functions import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    exact_duplicates,
    fingerprints,
    language_id,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_scores,
    simhash64,
    token_counts,
)
from webgraph_algo_rs_spark.functions.multimodal import extract_media_features

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),  # near dup
    (3, "el gato esta en la casa de la abuela"),
    (4, "completely different text about spark engines"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    rows = {r["text_hash"]: r for r in exact_duplicates(docs).collect()}
    h = hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert rows[h]["dup_count"] == 2 and rows[h]["canonical_id"] == 0
    assert len(rows) == 5  # 6 docs, one exact-dup pair


def _shingle_set(text, n=3):
    toks = text.lower().strip().split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_minhash_and_lsh_pairs(docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    # python oracle for the affine family: one md5 per shingle split into
    # 32-bit halves (a, b); member i = min (a + i*b) mod 2^32
    def member(text, i):
        vals = []
        for s in _shingle_set(text):
            h = hashlib.md5(s.encode()).hexdigest()
            a, b = int(h[:8], 16), int(h[8:16], 16)
            vals.append((a + i * b) % 2**32)
        return min(vals)

    for d, text in DOCS[:5]:
        if not text:
            continue
        assert sigs[d][0] == member(text, 0), d
        assert sigs[d][3] == member(text, 3), d
    # default path: exact dups collapse to their canonical before
    # banding (dedup_first) — (0, 1) is exact_duplicates' job, LSH only
    # reports pairs that are *not* byte-identical
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) not in pairs
    # with the guard off, identical docs share the full signature →
    # always LSH candidates
    raw = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(docs, dedup_first=False).collect()
    }
    assert (0, 1) in raw
    # unrelated docs don't collide on any band (8 hashes / 4 bands)
    assert (3, 4) not in raw


def test_ngram_jaccard(docs, spark):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (3, 4)], "doc_a bigint, doc_b bigint")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, pairs).collect()
    }
    for a, b in [(0, 1), (0, 2), (3, 4)]:
        sa, sb = _shingle_set(DOCS[a][1]), _shingle_set(DOCS[b][1])
        want = len(sa & sb) / len(sa | sb)
        assert abs(got[(a, b)] - want) < 1e-12
    assert got[(0, 1)] == 1.0 and 0 < got[(0, 2)] < 1 and got[(3, 4)] == 0.0


def test_simhash(docs):
    got = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert got[0] == got[1]  # identical text → identical simhash
    # near-dup closer in hamming distance than unrelated
    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(got[0], got[2]) < ham(got[0], got[4])


def test_lsh_degenerate_bucket_guards(spark):
    """10⁴ byte-identical docs must not produce a quadratic band
    self-join (VERDICT r2 what's-wrong №3): the exact-dup pre-filter
    collapses them to one canonical, and with the pre-filter disabled
    the bucket-size cap drops the mega-buckets entirely."""
    import time as _time

    from pyspark.sql import functions as F

    n = 10_000
    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("boilerplate header repeated verbatim across the whole corpus").alias(
                "text"
            ),
        )
    )
    t0 = _time.time()
    # dedup_first (default): one canonical survives → zero candidate pairs
    assert lsh_candidate_pairs(docs).count() == 0
    # guard off + cap: every band forms one 10⁴-doc bucket; all dropped
    stats: dict = {}
    capped = lsh_candidate_pairs(docs, dedup_first=False, max_bucket=100, stats=stats)
    assert capped.count() == 0
    assert stats["dropped_buckets"] == 4  # one mega-bucket per band
    assert stats["dropped_rows"] == 4 * n
    # the whole degenerate corpus must finish in bounded time — an
    # uncapped self-join here would emit 2·10⁸ pairs
    assert _time.time() - t0 < 120


def test_simhash_null_text_keeps_row(spark):
    d = spark.createDataFrame(
        [(0, "hello world"), (1, None)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash64(d).collect()}
    assert set(got) == {0, 1}  # NULL text still yields a signature row


def test_token_counts_and_quality(docs):
    tc = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert tc[0]["n_tokens"] == 9
    assert tc[0]["n_chars"] == len(DOCS[0][1])
    q = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert q[0]["stopword_ratio"] == 2 / 9  # 'the' twice, 'over' not a stopword
    assert q[0]["punct_ratio"] == 0.0
    assert q[0]["alpha_ratio"] < 1.0  # spaces


def test_language_id(docs):
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert got[0] == "en"
    assert got[3] == "es"
    assert got[4] == "und"  # no stopword from any list matches
    assert got[5] == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "other")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprints(df).collect()}
    assert got[0] == got[1] != got[2]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 8))
    base[1] = base[0] + 0.01 * rng.standard_normal(8)  # 1 is 0's neighbor
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"), base


def _cosine_oracle(base, q, k):
    norms = np.linalg.norm(base, axis=1)
    sims = base @ base[q] / (norms * norms[q])
    order = sorted(
        (i for i in range(len(base)) if i != q),
        key=lambda i: (-sims[i], i),
    )
    return order[:k]


def test_cosine_topk_bruteforce(vectors):
    df, base = vectors
    got = cosine_topk_bruteforce(df, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for q in range(len(base)):
        want = _cosine_oracle(base, q, 3)
        assert [n for _, n in sorted(by_q[q])] == want, q
    assert [n for _, n in sorted(by_q[0])][0] == 1  # planted neighbor


def test_cosine_topk_lsh_recall(vectors):
    df, base = vectors
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(df, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(df, dim=8, k=3, n_planes=4, n_tables=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall
    # the planted near-identical pair must survive LSH
    assert (0, 1) in approx


def test_cosine_topk_ivf_recall(vectors):
    """IVF probes the n_probe nearest coarse lists; with n_lists=4 and
    n_probe=2 every query sees half the corpus, so the planted
    near-identical pair and most true top-3 neighbors must survive."""
    from webgraph_algo_rs_spark.functions.similarity import (
        cosine_topk_ivf,
        ivf_centroids,
    )

    df, base = vectors
    cents = ivf_centroids(df, n_lists=4).collect()
    assert [c["list_id"] for c in sorted(cents, key=lambda c: c["list_id"])] == [1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(df, k=3).collect()
    }
    rows = cosine_topk_ivf(df, k=3, n_lists=4, n_probe=2).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    # ranks are dense from 1 within each query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    assert (0, 1) in approx


def test_cosine_topk_ivf_kernel_matches_expression_path(vectors):
    """The cogrouped Arrow re-rank kernel (vectorized=True, the default)
    must produce exactly the rows of the pair-at-a-time expression path:
    same candidates (per-list top-k covers the global top-k because each
    pair meets in exactly one list), same tie order (cosine desc,
    neighbor_id asc via stable argsort over id-sorted members), and the
    self-match masked. Exercised with n_probe == n_lists so every query
    scores every list, including its own (the self-mask path)."""
    from webgraph_algo_rs_spark.functions.similarity import cosine_topk_ivf

    df, _ = vectors
    for n_lists, n_probe, k in [(4, 2, 3), (4, 4, 3), (3, 1, 25)]:
        fast = cosine_topk_ivf(df, k=k, n_lists=n_lists, n_probe=n_probe).collect()
        slow = cosine_topk_ivf(
            df, k=k, n_lists=n_lists, n_probe=n_probe, vectorized=False
        ).collect()
        key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
        assert sorted(map(key, fast)) == sorted(map(key, slow)), (n_lists, n_probe, k)


def test_cosine_topk_ivf_boundary_ties_deterministic(spark):
    """Exact-duplicate embeddings tying at the k-th cosine exercise the
    re-rank kernel's argpartition fast path (list width > 4k): the
    partition picks an arbitrary subset of the tied members, so the
    kernel must detect boundary ties and restore the engine tie order
    (cosine desc, neighbor_id asc) — identical rows to the expression
    path, which sorts exhaustively."""
    from webgraph_algo_rs_spark.functions.similarity import cosine_topk_ivf

    rng = np.random.default_rng(11)
    dup = rng.standard_normal(8)
    rows = [(i, [float(x) for x in dup]) for i in range(50)]  # 50 exact dups
    rows += [
        (50 + i, [float(x) for x in rng.standard_normal(8)]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for k in (3, 5):
        fast = cosine_topk_ivf(df, k=k, n_lists=1, n_probe=1).collect()
        slow = cosine_topk_ivf(
            df, k=k, n_lists=1, n_probe=1, vectorized=False
        ).collect()
        key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
        assert sorted(map(key, fast)) == sorted(map(key, slow)), k


def test_multimodal_plumbing(spark):
    rows = [
        (0, "image", bytearray(b"\x89PNG" + b"x" * 2048), 64, 64, None),
        (1, "audio", bytearray(b"RIFF" + b"y" * 512), None, None, 1000),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, width int, height int, duration_ms int",
    )
    got = {r["media_id"]: r for r in extract_media_features(media, feat_dim=16).collect()}
    assert got[0]["n_bytes"] == 2052 and got[0]["frames_sampled"] == 2
    assert got[1]["n_bytes"] == 516 and got[1]["frames_sampled"] == 1
    assert len(got[0]["feature"]) == 16
    # deterministic: same payload → same features
    again = {r["media_id"]: r for r in extract_media_features(media, feat_dim=16).collect()}
    assert got[0]["feature"] == again[0]["feature"]


def test_decode_failure_quarantined_not_fatal(spark):
    """A payload that PASSES the header probe but fails decode
    (progressive JPEG: SOF2 probes with valid dimensions, the baseline
    decoder rejects it) must not abort the Spark job — transcode emits
    a NULL-payload row, the feature path a NULL-feature sentinel with
    frames_sampled = -1, and healthy rows in the same batch survive."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        decode_builtin,
        encode_bmp,
        probe_gated_features,
        probe_media,
        transcode_media,
    )

    # minimal progressive JPEG header: SOI + SOF2 frame (8x8, 1 comp)
    sof2 = bytes(
        [0xFF, 0xD8, 0xFF, 0xC2, 0x00, 0x0B, 8, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    assert probe_media(sof2)[:3] == ("jpeg", 8, 8)  # the gate passes it
    good = encode_bmp(np.arange(16, dtype=np.float32).reshape(4, 4))
    media = spark.createDataFrame(
        [
            (0, "image", bytearray(sof2), 8, 8, None),
            (1, "image", bytearray(good), 4, 4, None),
        ],
        "media_id bigint, kind string, payload binary, width int, height int, duration_ms int",
    )
    out, _q = transcode_media(media, 2, 2)
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[0]["payload"] is None and rows[1]["payload"] is not None
    feats, _q = probe_gated_features(media, feat_dim=4, decode=decode_builtin)
    frows = {r["media_id"]: r for r in feats.collect()}
    assert frows[0]["feature"] is None and frows[0]["frames_sampled"] == -1
    assert frows[1]["feature"] is not None and frows[1]["frames_sampled"] >= 1


def test_embedding_near_dup_pairs(vectors):
    from webgraph_algo_rs_spark.functions import embedding_near_dup_pairs

    df, base = vectors
    arr = np.array(base, dtype=np.float64)
    norms = np.linalg.norm(arr, axis=1)
    sims = (arr @ arr.T) / np.outer(norms, norms)
    want = {
        (a, b)
        for a in range(len(base))
        for b in range(a + 1, len(base))
        if sims[a, b] >= 0.95
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert got == want
    assert (0, 1) in got  # the planted near-identical pair
    # LSH path: candidates-only, must still find the planted pair
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.95, use_lsh=True, dim=8
        ).collect()
    }
    assert lsh <= want and (0, 1) in lsh


def test_symmetry_checks(spark):
    from tests.conftest import CYCLE4, DAG4, edge_df
    from webgraph_algo_rs_spark.operators import is_symmetric, is_transpose_of
    from webgraph_algo_rs_spark.plans.superstep import symmetrize

    dag = edge_df(spark, DAG4)
    sym_pairs = edge_df(spark, [(0, 1), (1, 0), (1, 2), (2, 1)])
    assert not is_symmetric(dag)
    assert is_symmetric(sym_pairs)
    assert is_symmetric(symmetrize(dag))
    transpose = dag.selectExpr(
        "dst_vertex as src_vertex", "src_vertex as dst_vertex", "weight"
    )
    assert is_transpose_of(dag, transpose)
    assert not is_transpose_of(dag, dag)
    assert is_transpose_of(sym_pairs, sym_pairs)  # symmetric graph = own transpose


def test_near_dup_zero_norm_and_auto_lsh(vectors, spark):
    """ADVICE r1: a zero-norm embedding made cosine NaN, which passes
    every >= filter under Spark's NaN-is-greatest ordering; and the
    O(n^2) exact join must not be the default at scale."""
    from webgraph_algo_rs_spark.functions import embedding_near_dup_pairs

    df, base = vectors
    withzero = df.unionByName(
        spark.createDataFrame(
            [(99, [0.0] * 8)], "vec_id bigint, embedding array<double>"
        )
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(withzero, threshold=0.0).collect()
    }
    assert got and not any(99 in p for p in got)
    # auto policy: tiny corpus → exact path (same answer as explicit exact)
    auto = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95, use_lsh=False).collect()
    }
    assert auto == exact
    # corpus above the threshold → LSH picked automatically (dim inferred),
    # candidates-only subset that still finds the planted pair
    lsh_auto = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.95, lsh_auto_threshold=5
        ).collect()
    }
    assert (0, 1) in lsh_auto and lsh_auto <= exact


def test_media_probe_real_headers(spark):
    """probe_media parses genuine container headers (no codec libs):
    PNG IHDR, JPEG SOF0, GIF LSD, WAV RIFF duration — and the
    metadata-consistency cross-check flags mislabeled assets."""
    import struct

    from webgraph_algo_rs_spark.functions.multimodal import media_metadata, probe_media

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    jpeg = (
        b"\xff\xd8"                                   # SOI
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 480, 640)                # height, width
        + b"\x03" + b"\x00" * 9
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 88200) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 2, 22050, 88200, 4, 16)  # byte_rate 88200
        + b"data" + struct.pack("<I", 88200) + b""
    )
    assert probe_media(png) == ("png", 640, 480, None)
    assert probe_media(jpeg) == ("jpeg", 640, 480, None)
    assert probe_media(wav) == ("wav", None, None, 1000)
    assert probe_media(b"GIF89a" + struct.pack("<HH", 320, 200)) == (
        "gif", 320, 200, None,
    )
    assert probe_media(b"garbage")[0] is None

    rows = [
        (0, "image", bytearray(png), 640, 480, None),      # consistent
        (1, "image", bytearray(png), 999, 480, None),      # mislabeled width
        (2, "audio", bytearray(wav), None, None, 1000),    # consistent
        (3, "image", bytearray(b"corrupt"), 64, 64, None), # unknown format
    ]
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, width int, height int, duration_ms int",
    )
    got = {r["media_id"]: r for r in media_metadata(media).collect()}
    assert got[0]["metadata_consistent"] and got[0]["detected_format"] == "png"
    assert not got[1]["metadata_consistent"]
    assert got[2]["metadata_consistent"] and got[2]["duration_ms"] == 1000
    assert not got[3]["metadata_consistent"] and got[3]["detected_format"] is None


def test_probe_gated_routing_mixed_corpus(spark):
    """Probe-gated decode routing at sf0.1-ish corpus scale: a 20k-asset
    mix of valid / mislabeled / corrupt payloads. The decode stage must
    see exactly the consistent assets — a decoder that raises on any
    malformed payload proves the quarantine gate held."""
    import struct

    from webgraph_algo_rs_spark.functions.multimodal import probe_gated_features

    def png(w, h):
        return (
            b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
        )

    n = 20_000
    rows = []
    for i in range(n):
        w, h = 16 + (i % 64), 16 + (i % 48)
        if i % 4 == 3:
            rows.append((i, "image", bytearray(b"corrupt" + bytes([i % 251])), w, h, None))
        elif i % 4 == 2:
            rows.append((i, "image", bytearray(png(w, h)), w + 1, h, None))  # mislabeled
        else:
            rows.append((i, "image", bytearray(png(w, h)), w, h, None))
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, width int, height int, duration_ms int",
    ).repartition(8)

    def strict_decode(payload, kind, feat_dim):
        import numpy as np

        from webgraph_algo_rs_spark.functions.multimodal import probe_media

        fmt, _, _, _ = probe_media(payload)
        if fmt != "png":
            raise AssertionError("decode reached a payload the probe gate should drop")
        return np.zeros(feat_dim, dtype=np.float32), 1

    features, quarantine = probe_gated_features(media, feat_dim=4, decode=strict_decode)
    n_ok = features.count()       # raises inside the UDF if the gate leaked
    n_bad = quarantine.count()
    assert n_ok == n // 2         # i%4 in (0, 1)
    assert n_bad == n - n_ok
    ids_ok = {r["media_id"] for r in features.select("media_id").collect()}
    ids_bad = {r["media_id"] for r in quarantine.select("media_id").collect()}
    assert not (ids_ok & ids_bad) and len(ids_ok | ids_bad) == n


# ---------------------------------------------------------- real decoders
def _make_bmp(img):
    """Minimal 24-bit uncompressed BMP from a uint8 (h, w) gray array."""
    h, w = img.shape
    row = (w * 3 + 3) & ~3
    px = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        r = bytearray()
        for x in range(w):
            v = int(img[y, x])
            r += bytes([v, v, v])
        r += b"\x00" * (row - len(r))
        px += r
    off = 54
    header = (
        b"BM"
        + (off + len(px)).to_bytes(4, "little")
        + b"\x00" * 4
        + off.to_bytes(4, "little")
    )
    dib = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(px).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header + dib + px)


def _png_chunk(t, b):
    import zlib

    return (
        len(b).to_bytes(4, "big")
        + t
        + b
        + (zlib.crc32(t + b) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _make_png(img, filters=None):
    """8-bit grayscale PNG; ``filters`` picks the per-row filter type
    (default all 0) and forward-filters accordingly — exercises the
    decoder's unfilter paths."""
    import struct
    import zlib

    h, w = img.shape
    filters = filters or [0] * h
    rows = []
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        cur = img[y].astype(np.int32)
        f = filters[y]
        if f == 0:
            enc = cur.copy()
        elif f == 1:  # Sub
            left = np.concatenate(([0], cur[:-1]))
            enc = (cur - left) % 256
        elif f == 2:  # Up
            enc = (cur - prev) % 256
        elif f == 3:  # Average
            left = np.concatenate(([0], cur[:-1]))
            enc = (cur - ((left + prev) >> 1)) % 256
        elif f == 4:  # Paeth
            enc = np.zeros(w, dtype=np.int32)
            for i in range(w):
                left = int(cur[i - 1]) if i else 0
                up = int(prev[i])
                ul = int(prev[i - 1]) if i else 0
                pa, pb, pc = abs(up - ul), abs(left - ul), abs(left + up - 2 * ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                enc[i] = (int(cur[i]) - pred) % 256
        rows.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + _png_chunk(b"IEND", b"")
    )


def _make_wav(samples, rate=8000):
    """16-bit mono PCM WAV from float samples in [-1, 1]."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(
            (np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes()
        )
    return buf.getvalue()


def test_decode_builtin_bmp_png_wav_exact():
    """decode_builtin performs a REAL pixel/sample decode: grid-mean
    features must equal the numpy oracle computed from the source
    arrays, for every PNG scanline filter type."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        decode_builtin,
        grid_mean_resize,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    want = (grid_mean_resize(img.astype(np.float32), 4, 4) / 255.0).ravel()

    f_bmp, fr = decode_builtin(_make_bmp(img), "image", 16)
    np.testing.assert_allclose(f_bmp, want, atol=1e-6)
    assert fr == 1

    for filters in ([0] * 8, [0, 1, 2, 3, 4, 1, 2, 4]):
        f_png, fr = decode_builtin(_make_png(img, filters), "image", 16)
        np.testing.assert_allclose(f_png, want, atol=1e-6, err_msg=str(filters))
        assert fr == 1

    # constant-amplitude sine: every windowed RMS ≈ a/√2
    t = np.arange(8000) / 8000.0
    a = 0.5
    wav = _make_wav(a * np.sin(2 * np.pi * 440 * t))
    f_wav, n_win = decode_builtin(wav, "audio", 8)
    assert n_win == 8
    np.testing.assert_allclose(f_wav, a / np.sqrt(2), rtol=0.02)

    # SOF2 now dispatches to the progressive decoder (round 5); a
    # header-only payload with no DQT/SOS still fails loudly, not
    # with a silent wrong answer
    import pytest

    from webgraph_algo_rs_spark.functions.multimodal import _decode_jpeg

    sof2 = b"\xff\xd8\xff\xc2" + (11).to_bytes(2, "big") + bytes(
        [8, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    with pytest.raises(ValueError, match="SOF2|DQT|SOS"):
        _decode_jpeg(sof2)


def _make_gif(img, interlaced=False):
    """GIF89a from a uint8 (h, w) gray array via a 256-entry gray
    palette and the 'uncompressed' LZW trick (literal codes with a
    CLEAR re-emitted before the code width would grow)."""
    h, w = img.shape
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])  # GCT present, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + b"\x00" * 4  # image descriptor @ (0, 0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlaced else 0])
    out += bytes([8])  # LZW min code size

    rows = img
    if interlaced:
        order = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8),
             np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        rows = img[order]
    pixels = rows.ravel()

    codes = []
    since_clear = 250  # force an initial CLEAR
    for px in pixels:
        if since_clear >= 250:
            codes.append(256)  # CLEAR
            since_clear = 0
        codes.append(int(px))
        since_clear += 1
    codes.append(257)  # END

    acc = n = 0
    data = bytearray()
    for c in codes:  # 9-bit codes, LSB-first
        acc |= c << n
        n += 9
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


class _JpegBitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc = self.n = 0

    def flush(self):
        while self.n:
            self.write(1, 1)  # pad with 1s per spec


def _jpeg_category(v):
    return int(abs(v)).bit_length()


def _jpeg_encode_block(zz, pred, dc_syms, ac_syms, emit):
    """Run-length + category encode one zigzagged quantized block.
    ``emit`` is None on the stats pass (collect symbols only)."""
    diff = int(zz[0]) - pred
    t = _jpeg_category(diff)
    dc_syms.add(t)
    if emit:
        emit(("dc", t))
        if t:
            emit(("bits", diff if diff >= 0 else diff + (1 << t) - 1, t))
    nz = np.nonzero(zz[1:])[0]
    k = 0
    for idx in nz:
        run = int(idx) - k
        while run > 15:
            ac_syms.add(0xF0)
            if emit:
                emit(("ac", 0xF0))
            run -= 16
        v = int(zz[1 + idx])
        s = _jpeg_category(v)
        ac_syms.add((run << 4) | s)
        if emit:
            emit(("ac", (run << 4) | s))
            emit(("bits", v if v >= 0 else v + (1 << s) - 1, s))
        k = int(idx) + 1
    if k < 63:
        ac_syms.add(0x00)
        if emit:
            emit(("ac", 0x00))
    return int(zz[0])


def _make_jpeg(img, quant_val=1, subsample=False, restart_interval=0):
    """Baseline JPEG encoder (test oracle): grayscale 1-component, or
    4:2:0 color with constant-128 chroma when ``subsample``. Canonical
    single-length Huffman tables declared via DHT; optional DRI/RSTn."""
    from webgraph_algo_rs_spark.functions.multimodal import _DCT_B, _ZIGZAG

    h, w = img.shape
    q = np.full(64, quant_val, dtype=np.int32)

    def fdct_quant(block):
        x = _DCT_B @ (block.astype(np.float64) - 128.0) @ _DCT_B.T
        return np.round(x.ravel()[_ZIGZAG] / q).astype(np.int64)

    mcu = 16 if subsample else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    pad = np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")
    mcy, mcx = ph // mcu, pw // mcu

    def mcu_blocks(m):
        """Yield (comp_index, zigzag-quantized block) in scan order."""
        my, mx = divmod(m, mcx)
        if not subsample:
            yield 0, fdct_quant(pad[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8])
            return
        for bv in range(2):
            for bh in range(2):
                r0, c0 = my * 16 + bv * 8, mx * 16 + bh * 8
                yield 0, fdct_quant(pad[r0 : r0 + 8, c0 : c0 + 8])
        zero = np.zeros(64, dtype=np.int64)
        yield 1, zero  # Cb ≡ 128
        yield 2, zero  # Cr ≡ 128

    ncomp = 3 if subsample else 1
    dc_syms, ac_syms = set(), set()
    n_mcus = mcy * mcx
    for phase in ("stats", "emit"):
        if phase == "emit":

            def canonical(symbols):
                syms = sorted(symbols)
                length = max(4, (len(syms)).bit_length() + 1)
                counts = [0] * 16
                counts[length - 1] = len(syms)
                return counts, bytes(syms), {s: (i, length) for i, s in enumerate(syms)}

            dc_counts, dc_tbl, dc_code = canonical(dc_syms)
            ac_counts, ac_tbl, ac_code = canonical(ac_syms)
            bw = _JpegBitWriter()

            def emit(ev):
                if ev[0] == "dc":
                    c, ln = dc_code[ev[1]]
                    bw.write(c, ln)
                elif ev[0] == "ac":
                    c, ln = ac_code[ev[1]]
                    bw.write(c, ln)
                else:
                    bw.write(ev[1], ev[2])

        else:
            emit = None
        preds = [0] * ncomp
        for m in range(n_mcus):
            if restart_interval and m and m % restart_interval == 0:
                preds = [0] * ncomp
                if emit:
                    bw.flush()
                    rst_n = (m // restart_interval - 1) % 8
                    bw.buf += bytes([0xFF, 0xD0 + rst_n])
            for ci, zz in mcu_blocks(m):
                preds[ci] = _jpeg_encode_block(zz, preds[ci], dc_syms, ac_syms, emit)
    bw.flush()

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body)

    qz = bytes([0]) + bytes(int(q[k]) & 0xFF for k in range(64))
    seg(0xDB, qz)

    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    if subsample:
        sof += bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    else:
        sof += bytes([1, 0x11, 0])
    seg(0xC0, bytes(sof))

    seg(0xC4, bytes([0x00] + dc_counts) + dc_tbl)
    seg(0xC4, bytes([0x10] + ac_counts) + ac_tbl)
    if restart_interval:
        seg(0xDD, restart_interval.to_bytes(2, "big"))

    sos = bytearray([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))

    out += bw.buf + b"\xff\xd9"
    return bytes(out)


def _make_progressive_jpeg(img, quant_val=1, subsample=False, restart_interval=0):
    """Progressive JPEG encoder (test oracle): spectral selection +
    successive approximation per T.81 G.1.2.2-3 / libjpeg
    encode_mcu_{DC,AC}_{first,refine}. Scan script: interleaved DC
    first (Al=1) + DC refine; Y AC bands 1-5 and 6-63 first at Al=2
    then two refinement passes each down to Al=0 (so reconstruction is
    exact); 4:2:0 mode adds constant-128 chroma whose AC scans are
    pure EOB runs. Huffman: one canonical DC + one AC table from the
    union of all scans' symbols (two-phase stats → emit)."""
    from webgraph_algo_rs_spark.functions.multimodal import _DCT_B, _ZIGZAG

    h, w = img.shape
    q = np.full(64, quant_val, dtype=np.int32)

    def fdct_quant(block):
        x = _DCT_B @ (block.astype(np.float64) - 128.0) @ _DCT_B.T
        return np.round(x.ravel()[_ZIGZAG] / q).astype(np.int64)

    mcu = 16 if subsample else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    pad = np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")
    mcy, mcx = ph // mcu, pw // mcu
    ysub = 2 if subsample else 1
    yby, ybx = mcy * ysub, mcx * ysub  # interleaved (MCU-padded) Y grid
    nby, nbx = -(-h // 8), -(-w // 8)  # non-interleaved Y extent
    ncomp = 3 if subsample else 1

    Y = np.zeros((yby, ybx, 64), dtype=np.int64)
    for by in range(yby):
        for bx in range(ybx):
            Y[by, bx] = fdct_quant(pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8])

    # chroma non-interleaved block extents (all-zero coefficients)
    cby = -(-(-(-h // ysub)) // 8)  # ceil(ceil(h/ysub)/8)
    cbx = -(-(-(-w // ysub)) // 8)

    dc_syms, ac_syms = set(), set()
    scans = [("dc_first", None, None, 0, 1, None)]
    for lo, hi in ((1, 5), (6, 63)):
        scans.append(("ac_first", lo, hi, 0, 2, 0))
    if subsample:
        for ci in (1, 2):
            scans.append(("ac_first", 1, 63, 0, 0, ci))
    scans.append(("dc_refine", None, None, 1, 0, None))
    for ah in (2, 1):
        for lo, hi in ((1, 5), (6, 63)):
            scans.append(("ac_refine", lo, hi, ah, ah - 1, 0))

    def encode_scans(emit_dc, emit_ac, emit_bits, new_scan, rst):
        for kind, lo, hi, ah, al, ci in scans:
            new_scan((kind, lo, hi, ah, al, ci))
            if kind == "dc_first":
                preds = [0] * ncomp
                for m in range(mcy * mcx):
                    if restart_interval and m and m % restart_interval == 0:
                        preds = [0] * ncomp
                        rst(m // restart_interval - 1)
                    my, mx = divmod(m, mcx)
                    for c in range(ncomp):
                        blocks = (
                            [(my * 2 + bv, mx * 2 + bh) for bv in range(2) for bh in range(2)]
                            if c == 0 and subsample
                            else [(my, mx)]
                        )
                        for by, bx in blocks:
                            v = int(Y[by, bx, 0]) >> al if c == 0 else 0
                            diff = v - preds[c]
                            preds[c] = v
                            t = _jpeg_category(diff)
                            dc_syms.add(t)
                            emit_dc(t)
                            if t:
                                emit_bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
            elif kind == "dc_refine":
                for m in range(mcy * mcx):
                    if restart_interval and m and m % restart_interval == 0:
                        rst(m // restart_interval - 1)
                    my, mx = divmod(m, mcx)
                    for c in range(ncomp):
                        blocks = (
                            [(my * 2 + bv, mx * 2 + bh) for bv in range(2) for bh in range(2)]
                            if c == 0 and subsample
                            else [(my, mx)]
                        )
                        for by, bx in blocks:
                            # bit Al of the two's-complement value ==
                            # bit Al of the magnitude here (low bits of
                            # the stored approximation are zero)
                            v = int(Y[by, bx, 0]) if c == 0 else 0
                            emit_bits((v >> al) & 1, 1)
            elif kind == "ac_first":
                eobrun = 0

                def flush_eob_first():
                    nonlocal eobrun
                    if eobrun:
                        r = eobrun.bit_length() - 1
                        ac_syms.add(r << 4)
                        emit_ac(r << 4)
                        if r:
                            emit_bits(eobrun - (1 << r), r)
                        eobrun = 0

                n_blocks = (nby * nbx) if ci == 0 else (cby * cbx)
                for m in range(n_blocks):
                    if restart_interval and m and m % restart_interval == 0:
                        flush_eob_first()
                        rst(m // restart_interval - 1)
                    band = (
                        [int(x) for x in Y[m // nbx, m % nbx, lo : hi + 1]]
                        if ci == 0
                        else [0] * (hi - lo + 1)
                    )
                    shifted = [
                        (1 if v >= 0 else -1) * (abs(v) >> al) for v in band
                    ]
                    nz = [k for k, v in enumerate(shifted) if v]
                    if not nz:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob_first()
                        continue
                    flush_eob_first()
                    k = 0
                    for idx in nz:
                        run = idx - k
                        while run > 15:
                            ac_syms.add(0xF0)
                            emit_ac(0xF0)
                            run -= 16
                        v = shifted[idx]
                        s = _jpeg_category(v)
                        ac_syms.add((run << 4) | s)
                        emit_ac((run << 4) | s)
                        emit_bits(v if v >= 0 else v + (1 << s) - 1, s)
                        k = idx + 1
                    if k < len(band):
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob_first()
                flush_eob_first()
            else:  # ac_refine (always luma in this script)
                eobrun = 0
                be: list[int] = []

                def flush_eob_refine():
                    nonlocal eobrun, be
                    if eobrun:
                        r = eobrun.bit_length() - 1
                        ac_syms.add(r << 4)
                        emit_ac(r << 4)
                        if r:
                            emit_bits(eobrun - (1 << r), r)
                        eobrun = 0
                    for b in be:
                        emit_bits(b, 1)
                    be = []

                p1 = 1 << al
                for m in range(nby * nbx):
                    if restart_interval and m and m % restart_interval == 0:
                        flush_eob_refine()
                        rst(m // restart_interval - 1)
                    band = [int(x) for x in Y[m // nbx, m % nbx, lo : hi + 1]]
                    absv = [abs(v) >> al for v in band]
                    eob_idx = max(
                        (k for k, t in enumerate(absv) if t == 1), default=-1
                    )
                    r = 0
                    br: list[int] = []
                    for k, t in enumerate(absv):
                        if t == 0:
                            r += 1
                            continue
                        while r > 15 and k <= eob_idx:
                            flush_eob_refine()
                            ac_syms.add(0xF0)
                            emit_ac(0xF0)
                            r -= 16
                            for b in br:
                                emit_bits(b, 1)
                            br = []
                        if t > 1:  # history coefficient: correction bit
                            br.append(t & 1)
                            continue
                        flush_eob_refine()
                        ac_syms.add((r << 4) | 1)
                        emit_ac((r << 4) | 1)
                        emit_bits(1 if band[k] >= 0 else 0, 1)
                        for b in br:
                            emit_bits(b, 1)
                        br = []
                        r = 0
                    if r > 0 or br:
                        eobrun += 1
                        be.extend(br)
                        if eobrun == 0x7FFF:
                            flush_eob_refine()
                flush_eob_refine()

    # phase 1: collect symbols (emitters are no-ops)
    encode_scans(lambda s: None, lambda s: None, lambda v, n: None, lambda sc: None,
                 lambda n: None)

    def canonical(symbols):
        syms = sorted(symbols)
        length = max(4, (len(syms)).bit_length() + 1)
        counts = [0] * 16
        counts[length - 1] = len(syms)
        return counts, bytes(syms), {s: (i, length) for i, s in enumerate(syms)}

    dc_counts, dc_tbl, dc_code = canonical(dc_syms)
    ac_counts, ac_tbl, ac_code = canonical(ac_syms)

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body)

    seg(0xDB, bytes([0]) + bytes(int(q[k]) & 0xFF for k in range(64)))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    if subsample:
        sof += bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    else:
        sof += bytes([1, 0x11, 0])
    seg(0xC2, bytes(sof))
    seg(0xC4, bytes([0x00] + dc_counts) + dc_tbl)
    seg(0xC4, bytes([0x10] + ac_counts) + ac_tbl)
    if restart_interval:
        seg(0xDD, restart_interval.to_bytes(2, "big"))

    # phase 2: emit scans, each with its own SOS header + entropy bytes
    bw = None

    def new_scan(sc):
        nonlocal bw
        if bw is not None:
            bw.flush()
            out.extend(bw.buf)
        bw = _JpegBitWriter()
        kind, lo, hi, ah, al, ci = sc
        if kind.startswith("dc"):
            sos = bytearray([ncomp])
            for cid in range(1, ncomp + 1):
                sos += bytes([cid, 0x00])
            sos += bytes([0, 0, (ah << 4) | al])
        else:
            sos = bytearray([1, (ci or 0) + 1, 0x00, lo, hi, (ah << 4) | al])
        seg(0xDA, bytes(sos))

    def rst(n):
        bw.flush()
        bw.buf += bytes([0xFF, 0xD0 + (n % 8)])

    encode_scans(
        lambda s: bw.write(dc_code[s][0], dc_code[s][1]),
        lambda s: bw.write(ac_code[s][0], ac_code[s][1]),
        lambda v, n: bw.write(v, n),
        new_scan,
        rst,
    )
    bw.flush()
    out.extend(bw.buf)
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_progressive():
    """Progressive JPEG (SOF2) decode against the hand-written
    spectral-selection + successive-approximation encoder: every scan
    type (DC first/refine, AC first/refine with EOB runs spanning
    blocks) reconstructs the coefficients exactly, so with a unit
    quant table the decode matches the source up to DCT rounding —
    and matches the baseline decode of the same image bit-for-bit in
    coefficient space."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        _decode_jpeg,
        _decode_jpeg_progressive,
        decode_builtin,
        probe_media,
    )

    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)

    payload = _make_progressive_jpeg(img)
    fmt, w, h, _ = probe_media(payload)
    assert (fmt, w, h) == ("jpeg", 17, 24)
    got = _decode_jpeg(payload)  # dispatches on SOF2
    assert got.shape == (24, 17)
    assert np.abs(got - img).max() <= 4.0
    # exact coefficient reconstruction ⇒ identical to the baseline
    # decode of the same image (same FDCT, same quant)
    base = _decode_jpeg(_make_jpeg(img))
    np.testing.assert_allclose(got, base, atol=1e-3)

    # smooth gradient: long zero runs exercise ZRL and EOB runs > 1
    yy, xx = np.mgrid[0:40, 0:33]
    smooth = ((yy * 2 + xx) % 256).astype(np.uint8)
    got_s = _decode_jpeg_progressive(_make_progressive_jpeg(smooth))
    assert np.abs(got_s - smooth).max() <= 4.0

    # restart markers: EOB runs and DC predictors reset per RSTn
    got_rst = _decode_jpeg_progressive(
        _make_progressive_jpeg(img, restart_interval=3)
    )
    np.testing.assert_allclose(got_rst, got, atol=1e-6)  # same pipeline: exact

    # 4:2:0: interleaved DC scans walk chroma for sync; chroma AC
    # scans (pure EOB runs) are skipped wholesale
    img2 = rng.integers(0, 256, size=(32, 24), dtype=np.uint8)
    got_420 = _decode_jpeg_progressive(
        _make_progressive_jpeg(img2, subsample=True)
    )
    assert got_420.shape == (32, 24)
    assert np.abs(got_420 - img2).max() <= 4.0

    # non-multiple-of-8 with coarse quant still decodes (lossy, bounded)
    got_q = _decode_jpeg_progressive(_make_progressive_jpeg(img, quant_val=16))
    assert np.abs(got_q - img).max() <= 80.0

    # decode_builtin routes progressive JPEG like any other format now
    feat, fr = decode_builtin(payload, "image", 16)
    assert fr == 1 and feat.shape == (16,) and np.all(np.isfinite(feat))


def _drop_last_restart_segment(payload, scan):
    """``payload`` without the last RSTn marker of SOS scan ``scan`` and
    the entropy bytes that follow it: that scan is one restart segment
    short of what its restart interval implies."""
    sos = [i for i in range(len(payload) - 1) if payload[i : i + 2] == b"\xff\xda"]
    start = sos[scan]
    j = start + 2 + int.from_bytes(payload[start + 2 : start + 4], "big")
    last_rst = None
    while not (payload[j] == 0xFF and payload[j + 1] not in range(0xD0, 0xD8)
               and payload[j + 1] != 0x00):
        if payload[j] == 0xFF and payload[j + 1] in range(0xD0, 0xD8):
            last_rst = j
        j += 1
    assert last_rst is not None, "scan has no restart marker"
    return payload[:last_rst] + payload[j:]


def test_decode_jpeg_missing_restart_marker_raises_value_error():
    """A stream missing an RSTn segment raises the decoder's documented
    ValueError, not IndexError: baseline, progressive DC (first scan)
    and progressive AC (last scan)."""
    from webgraph_algo_rs_spark.functions.multimodal import decode_builtin

    img = np.random.default_rng(5).integers(0, 256, size=(24, 17), dtype=np.uint8)
    baseline = _make_jpeg(img, restart_interval=3)
    progressive = _make_progressive_jpeg(img, restart_interval=3)
    for payload, scan in [(baseline, 0), (progressive, 0), (progressive, -1)]:
        decode_builtin(payload, "image", 16)  # the intact stream decodes
        cut = _drop_last_restart_segment(payload, scan)
        with pytest.raises(ValueError, match="restart marker missing"):
            decode_builtin(cut, "image", 16)


def test_decode_gif_lossless():
    """GIF LZW decode is bit-exact: a gray-palette GIF round-trips to
    the source array, sequential and interlaced, and the grid-mean
    features match the numpy oracle through decode_builtin."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        _decode_gif,
        decode_builtin,
        grid_mean_resize,
        probe_media,
    )

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
    for interlaced in (False, True):
        payload = _make_gif(img, interlaced=interlaced)
        fmt, w, h, _ = probe_media(payload)
        assert (fmt, w, h) == ("gif", 17, 13)
        got = _decode_gif(payload)
        np.testing.assert_array_equal(got, img.astype(np.float32))
        feat, fr = decode_builtin(payload, "image", 16)
        want = (grid_mean_resize(img.astype(np.float32), 4, 4) / 255.0).ravel()
        np.testing.assert_allclose(feat, want, atol=1e-6)
        assert fr == 1

    # a >4 KiB image forces LZW dictionary growth past 9-bit codes on
    # the decoder side? (encoder stays 9-bit; decode path must still
    # track CLEAR resets across sub-block boundaries)
    big = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    np.testing.assert_array_equal(_decode_gif(_make_gif(big)), big.astype(np.float32))


def test_decode_jpeg_baseline():
    """Baseline JPEG entropy decode against the hand-written encoder:
    with a unit quant table the decode is exact up to DCT rounding
    (≤4 gray levels); restart markers and 4:2:0 chroma subsampling
    exercise the RSTn resync and MCU-walk paths."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        _decode_jpeg,
        decode_builtin,
        probe_media,
    )

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)

    payload = _make_jpeg(img)
    fmt, w, h, _ = probe_media(payload)
    assert (fmt, w, h) == ("jpeg", 17, 24)
    got = _decode_jpeg(payload)
    assert got.shape == (24, 17)
    assert np.abs(got - img).max() <= 4.0

    # restart markers: DC predictors reset at every RSTn
    got_rst = _decode_jpeg(_make_jpeg(img, restart_interval=2))
    assert np.abs(got_rst - img).max() <= 4.0

    # 4:2:0: 16x16 MCUs, four Y blocks per MCU, constant chroma
    img2 = rng.integers(0, 256, size=(32, 24), dtype=np.uint8)
    got_420 = _decode_jpeg(_make_jpeg(img2, subsample=True))
    assert got_420.shape == (32, 24)
    assert np.abs(got_420 - img2).max() <= 4.0

    # decode_builtin routes JPEG to the real decoder now
    feat, fr = decode_builtin(payload, "image", 16)
    assert fr == 1 and feat.shape == (16,) and np.all(np.isfinite(feat))

    # a coarse quant table still decodes (lossy but bounded energy)
    got_q = _decode_jpeg(_make_jpeg(img, quant_val=16))
    assert np.abs(got_q - img).max() <= 80.0


def test_probe_gated_real_decode_contract(spark):
    """Plugging the REAL decoder into the probe-gated route: consistent
    BMP/PNG/WAV payloads decode to oracle-exact features through the
    Arrow-batched Spark path; a corrupt payload lands in quarantine and
    the decoder never sees it (the decode-contract test, VERDICT r3
    §next №8)."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        decode_builtin,
        grid_mean_resize,
        probe_gated_features,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    wav = _make_wav(0.25 * np.ones(4000))
    rows = [
        (1, "image", bytearray(_make_bmp(img)), 5, 6, None),
        (2, "image", bytearray(_make_png(img)), 5, 6, None),
        (3, "audio", bytearray(wav), None, None, 500),
        (4, "image", bytearray(b"garbage-not-an-image"), 5, 6, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, height int, duration_ms int",
    )
    feats, quarantine = probe_gated_features(media, feat_dim=4, decode=decode_builtin)
    # inline gate: the feature pipeline must not shuffle the payloads
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["media_id"]: r for r in feats.collect()}
    q_ids = {r["media_id"] for r in quarantine.collect()}
    assert q_ids == {4}
    assert set(got) == {1, 2, 3}
    want_img = (grid_mean_resize(img.astype(np.float32), 2, 2) / 255.0).ravel()
    np.testing.assert_allclose(got[1]["feature"], want_img, atol=1e-6)
    np.testing.assert_allclose(got[2]["feature"], want_img, atol=1e-6)
    np.testing.assert_allclose(
        got[3]["feature"], 0.25 * np.ones(4), rtol=0.02
    )


def test_encode_bmp_wav_roundtrip():
    """The re-encode path is REAL: encode_bmp output parses as a BMP
    (probe + decode recover the exact uint8 array), encode_wav output
    round-trips through the PCM decoder to within int16 quantization."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        _decode_bmp,
        _decode_wav,
        encode_bmp,
        encode_wav,
        probe_media,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(7, 5), dtype=np.uint8)  # odd width → row padding
    payload = encode_bmp(img.astype(np.float32))
    assert probe_media(payload) == ("bmp", 5, 7, None)
    np.testing.assert_array_equal(_decode_bmp(payload), img.astype(np.float32))

    x = 0.4 * np.sin(2 * np.pi * np.arange(3000) / 50.0)
    wav = encode_wav(x, 8000)
    got, rate = _decode_wav(wav)
    assert rate == 8000 and len(got) == 3000
    np.testing.assert_allclose(got, x, atol=1.0 / 32767)


def test_resize_media_decode_resize_reencode():
    """resize_media = real decode → mean-pool → real re-encode: output
    of any image format is a BMP whose pixels equal the grid_mean_resize
    oracle (to uint8 rounding); WAV resamples to the requested frame
    count preserving the waveform."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        _decode_bmp,
        _decode_wav,
        grid_mean_resize,
        probe_media,
        resize_media,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    want = np.rint(grid_mean_resize(img.astype(np.float32), 4, 4))
    for src in (_make_bmp(img), _make_png(img), _make_gif(img)):
        out = resize_media(src, 4, 4)
        assert probe_media(out) == ("bmp", 4, 4, None)
        np.testing.assert_array_equal(_decode_bmp(out), want.astype(np.float32))

    x = np.linspace(-0.5, 0.5, 4000)
    out = resize_media(_make_wav(x), 1000, 0)
    got, _ = _decode_wav(out)
    assert len(got) == 1000
    np.testing.assert_allclose(got, np.linspace(-0.5, 0.5, 1000), atol=2e-3)

    import pytest

    with pytest.raises(NotImplementedError):
        resize_media(b"garbage-not-a-container", 4, 4)


def test_transcode_media_spark(spark):
    """Distributed transcode: probe-gated routing (corrupt asset lands
    in quarantine, never crashes the kernel), every survivor comes back
    as a decodable BMP/WAV at the target size."""
    from webgraph_algo_rs_spark.functions.multimodal import (
        _decode_bmp,
        _decode_wav,
        grid_mean_resize,
        probe_media,
        transcode_media,
    )

    rng = np.random.default_rng(19)
    img = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(_make_bmp(img)), 5, 6, None),
        (2, "image", bytearray(_make_png(img)), 5, 6, None),
        (3, "audio", bytearray(_make_wav(0.25 * np.ones(4000))), None, None, 500),
        (4, "image", bytearray(b"garbage-not-an-image"), 5, 6, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, height int, duration_ms int",
    )
    out, quarantine = transcode_media(media, 3, 2)
    # the transcode pipeline must be a single narrow stage: a probe
    # semi-join would shuffle the payload-carrying table on media_id
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["media_id"]: bytes(r["payload"]) for r in out.collect()}
    assert {r["media_id"] for r in quarantine.collect()} == {4}
    assert set(got) == {1, 2, 3}
    want = np.rint(grid_mean_resize(img.astype(np.float32), 2, 3)).astype(np.float32)
    for mid in (1, 2):
        assert probe_media(got[mid]) == ("bmp", 3, 2, None)
        np.testing.assert_array_equal(_decode_bmp(got[mid]), want)
    samples, _ = _decode_wav(got[3])
    assert len(samples) == 3
    np.testing.assert_allclose(samples, 0.25, atol=1e-3)
