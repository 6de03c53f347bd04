"""LLM-pipeline operator tests: planted-duplicate detection, ANN recall
vs brute force, multimodal kernel contract."""

import pytest
from pyspark.sql import functions as F

from min_flink_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from min_flink_spark.operators.multimodal import (
    decode_image,
    extract_features,
    media_from_text,
)
from min_flink_spark.operators.similarity import brute_force_topk, lsh_bucket_topk


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup_collapses_planted_copies(docs):
    base = docs.select("doc_id", "text")
    corpus = base.unionByName(
        base.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    kept = exact_dedup(corpus, "text", "doc_id")
    assert kept.count() == base.count()
    assert kept.agg(F.max("doc_id")).first()[0] < 10_000  # min-id canonical


def test_minhash_finds_planted_near_dups(docs):
    base = docs.select("doc_id", "text").limit(50)
    mutated = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 25, 10))").alias("text"),
    )
    pairs = minhash_lsh_pairs(base.unionByName(mutated), "text", "doc_id").collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    planted = {
        (r["doc_id"], r["doc_id"] + 10_000) for r in base.select("doc_id").collect()
    }
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9  # 16 hashes / 4 bands catches ~all 0.8+ Jaccard pairs


def test_ngram_jaccard_exact_pairs(spark):
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = a + " extra"
    c = "completely different words here nothing shared at all between them"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id int, text string")
    rows = ngram_jaccard_pairs(df, threshold=0.3).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert not any(3 in p for p in pairs)


def test_simhash_similar_docs_close(spark):
    a = " ".join(f"tok{i}" for i in range(50))
    b = " ".join(f"tok{i}" for i in range(48)) + " other words"
    c = " ".join(f"zzz{i}" for i in range(50))
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id int, text string")
    h = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    d_ab = bin(h[1] ^ h[2]).count("1")
    d_ac = bin(h[1] ^ h[3]).count("1")
    assert d_ab < d_ac  # near-dup pair closer in hamming space


def test_ann_recall_vs_brute_force(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_bucket_topk(emb, queries, k=5, num_planes=4, num_tables=8, dim=64)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5  # 8 tables × 4 planes on near-uniform vectors


def test_multimodal_kernel_contract(docs):
    media = media_from_text(docs.limit(20))
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 20
    r = feats[0]
    assert len(r["feature"]) == 8 and all(0 <= x <= 1 for x in r["feature"])
    assert len(r["sha256"]) == 64 and r["n_bytes"] > 0


def test_multimodal_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...", fake=False)


def test_ivf_recall_vs_brute_force(emb):
    from min_flink_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, num_centroids=16, n_probe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4  # 4/16 cells probed on near-uniform vectors


def test_ivf_deterministic(emb):
    from min_flink_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 5)
    r1 = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    r2 = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    assert r1 == r2  # hash-seeded kmeans: no RNG, fully reproducible


def test_near_dup_default_is_bucketed_not_quadratic(emb):
    """The production near_dup_pairs path must never plan an all-pairs
    join: LSH candidates come from an equi-join on (tbl, sig), which
    Catalyst plans as hash/merge join — a CartesianProduct or
    BroadcastNestedLoopJoin node means the quadratic baseline leaked
    back in. The exact=True baseline IS that nested-loop plan."""
    from min_flink_spark.operators.similarity import near_dup_pairs

    corpus = emb.select("vec_id", "embedding").limit(100)
    lsh_plan = near_dup_pairs(corpus, dim=64)._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in lsh_plan
    assert "Join" in lsh_plan  # the bucketed equi-join is present

    exact_plan = (
        near_dup_pairs(corpus, dim=64, exact=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" in exact_plan or "CartesianProduct" in exact_plan


def test_near_dup_lsh_finds_planted_duplicates(emb):
    """Identical vectors collide in every LSH table → recall 1.0 on
    planted exact copies; precision 1.0 from the exact cosine rerank."""
    from min_flink_spark.operators.similarity import near_dup_pairs

    base = emb.select("vec_id", "embedding").limit(40)
    copies = base.select((F.col("vec_id") + 5_000).alias("vec_id"), "embedding")
    got = near_dup_pairs(base.unionByName(copies), threshold=0.95, dim=64).collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    planted = {(r["vec_id"], r["vec_id"] + 5_000) for r in base.select("vec_id").collect()}
    assert planted <= found
    # base corpus max pairwise cosine ≈ 0.51 → nothing else qualifies
    assert found == planted


def test_ngram_df_cap_drops_stop_shingles(spark):
    """A shingle shared by every doc (stop phrase) must not generate the
    quadratic pair blowup when df_cap is active; pairs that only share
    the hot shingle disappear, genuinely-similar pairs survive."""
    stop = "as seen on the world wide web"
    texts = [(i, f"{stop} unique{i} token{i} filler{i} words{i}") for i in range(1, 9)]
    texts.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
    texts.append((101, "alpha beta gamma delta epsilon zeta eta iota"))
    df = spark.createDataFrame(texts, "doc_id int, text string")

    uncapped = ngram_jaccard_pairs(df, threshold=0.1, df_cap=None).collect()
    capped = ngram_jaccard_pairs(df, threshold=0.1, df_cap=4).collect()
    uncapped_pairs = {(r["doc_a"], r["doc_b"]) for r in uncapped}
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped}

    # stop-phrase-only pairs present without the cap, gone with it
    assert (1, 2) in uncapped_pairs
    assert not any(a < 100 and b < 100 for a, b in capped_pairs)
    # the genuinely similar pair survives the cap
    assert (100, 101) in capped_pairs


def test_audio_chunking_covers_duration(spark):
    from min_flink_spark.operators.multimodal import chunk_audio
    from pyspark.sql import functions as F

    media = spark.createDataFrame(
        [(1, 65_000), (2, 30_000), (3, 1_000)], "media_id bigint, dur int"
    ).select(
        "media_id",
        F.struct(
            F.lit("audio/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("dur").alias("duration_ms"),
        ).alias("meta"),
    )
    rows = chunk_audio(media, chunk_ms=30_000).collect()
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append((r["chunk_idx"], r["start_ms"], r["end_ms"]))
    assert sorted(by_id[1]) == [(0, 0, 30_000), (1, 30_000, 60_000), (2, 60_000, 65_000)]
    assert sorted(by_id[2]) == [(0, 0, 30_000)]
    assert sorted(by_id[3]) == [(0, 0, 1_000)]
    # chunks tile the duration exactly: contiguous, non-overlapping
    for chunks in by_id.values():
        chunks = sorted(chunks)
        assert chunks[0][1] == 0
        for (i1, _, e1), (i2, s2, _) in zip(chunks, chunks[1:]):
            assert i2 == i1 + 1 and s2 == e1


def test_repartition_by_bytes_scales_partitions(docs):
    from min_flink_spark.operators.multimodal import media_from_text, repartition_by_bytes

    media = media_from_text(docs.limit(100))
    small_target = repartition_by_bytes(media, target_mb=1)
    # ~100 short docs << 1 MB → a single partition suffices
    assert small_target.rdd.getNumPartitions() == 1
    assert small_target.count() == 100  # no rows lost
    assert "_len" not in small_target.columns  # helper column dropped


def test_parse_image_dims_png_jpeg_gif():
    from min_flink_spark.operators.multimodal import parse_image_dims

    png = (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    assert parse_image_dims(png) == ("image/png", 640, 480)

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 4
    assert parse_image_dims(gif) == ("image/gif", 320, 200)

    # JPEG: SOI, APP0 (skipped), SOF0 with h=1080 w=1920
    # length 16 = 2 (length field itself) + 14 payload bytes
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (1080).to_bytes(2, "big") + (1920).to_bytes(2, "big") + b"\x03" + b"\x00" * 9
    )
    jpeg = b"\xff\xd8" + app0 + sof0
    assert parse_image_dims(jpeg) == ("image/jpeg", 1920, 1080)

    assert parse_image_dims(b"not an image") is None
    assert parse_image_dims(png[:10]) is None  # truncated header


def test_image_dimensions_kernel(spark):
    from min_flink_spark.operators.multimodal import image_dimensions

    png = (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR"
        + (64).to_bytes(4, "big") + (32).to_bytes(4, "big")
        + b"\x00" * 9
    )
    media = spark.createDataFrame(
        [(1, png), (2, b"garbage")], "media_id long, payload binary"
    )
    got = {r["media_id"]: (r["mime"], r["width"], r["height"])
           for r in image_dimensions(media).collect()}
    assert got == {1: ("image/png", 64, 32), 2: (None, None, None)}


def test_image_dimensions_null_payload_quarantines(spark):
    from min_flink_spark.operators.multimodal import image_dimensions

    media = spark.createDataFrame(
        [(1, None), (2, b"\xff\xd8")], "media_id long, payload binary"
    )
    got = {r["media_id"]: r["mime"] for r in image_dimensions(media).collect()}
    assert got == {1: None, 2: None}


def test_parse_image_dims_jpeg_fill_bytes():
    from min_flink_spark.operators.multimodal import parse_image_dims

    sof0 = (
        b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (10).to_bytes(2, "big") + (20).to_bytes(2, "big") + b"\x03" + b"\x00" * 9
    )
    # two optional 0xFF fill bytes before the SOF marker (T.81 B.1.1.2)
    jpeg = b"\xff\xd8" + b"\xff\xff" + sof0
    assert parse_image_dims(jpeg) == ("image/jpeg", 20, 10)


def test_extract_features_null_payload_quarantines(spark):
    from min_flink_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(1, "img", b"abc"), (2, "img", None)],
        "media_id long, kind string, payload binary",
    )
    got = {r["media_id"]: (r["n_bytes"], r["sha256"] is None, r["feature"] is None)
           for r in extract_features(media, fake=True).collect()}
    assert got[1][0] == 3 and not got[1][1] and not got[1][2]
    assert got[2] == (None, True, True)


def test_dedup_substrings_removes_later_occurrences(spark):
    """ExactSubstr semantics: a repeated k-token span survives only at
    its first (doc_id, pos) occurrence; overlapping spans merge via
    position coverage; docs shorter than k pass through untouched."""
    from min_flink_spark.operators.dedup import dedup_substrings

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "intro words then the quick brown fox jumps over the lazy dog and more"),
            (3, "completely unrelated text with no repeats at all here"),
            (4, "tiny doc"),  # shorter than k — no shingles, kept whole
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_substrings(df, k=5).collect()}
    assert got[1]["text"] == "the quick brown fox jumps over the lazy dog today"
    # doc 2 loses the whole 9-token repeated span (overlapping 5-gram
    # occurrences merge), keeping only its unique frame
    assert got[2]["text"] == "intro words then and more"
    assert got[2]["n_kept"] == 5 and got[2]["n_tokens"] == 14
    assert got[3]["n_kept"] == got[3]["n_tokens"]
    assert got[4]["text"] == "tiny doc" and got[4]["n_tokens"] == 2


def test_dedup_substrings_df_cap_skips_hot_shingles(spark):
    """Shingles above df_cap are left alone (boilerplate belongs to
    paragraph dedup) — the skew bound must not silently remove them."""
    from min_flink_spark.operators.dedup import dedup_substrings

    rows = [(i, "common phrase here again and again") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_substrings(df, k=3, df_cap=3).collect()}
    # 5 occurrences of every shingle > cap 3 → nothing removed anywhere
    assert all(r["n_kept"] == r["n_tokens"] for r in out.values())


def test_resize_images_plumbing(spark):
    from min_flink_spark.operators.multimodal import resize_image, resize_images

    png = (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR"
        + (64).to_bytes(4, "big") + (32).to_bytes(4, "big")
        + b"\x00" * 9
    )
    media = spark.createDataFrame(
        [(1, png), (2, b"not an image"), (3, None)],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in resize_images(media, 16, 16).collect()}
    assert got[1]["mime"] == "image/png"
    assert bytes(got[1]["payload"]) == resize_image(png, 16, 16, fake=True)
    assert got[1]["out_width"] == 16 and got[1]["out_height"] == 16
    # quarantined rows: EVERY output column null, so any one column
    # identifies the quarantine set (ADVICE r2)
    for mid in (2, 3):
        assert got[mid]["mime"] is None and got[mid]["payload"] is None
        assert got[mid]["out_width"] is None and got[mid]["out_height"] is None


def test_resize_image_real_kernel_is_stubbed():
    import pytest as _pytest

    from min_flink_spark.operators.multimodal import resize_image

    with _pytest.raises(NotImplementedError):
        resize_image(b"\x89PNG", 8, 8, fake=False)


def test_chunk_audio_null_duration_emits_no_chunks(spark):
    from min_flink_spark.operators.multimodal import chunk_audio

    media = spark.createDataFrame(
        [(1, 65_000), (2, None), (3, 0)],
        "media_id long, duration long",
    )
    got = chunk_audio(media, chunk_ms=30_000, duration_col="duration").collect()
    ids = {r["media_id"] for r in got}
    assert ids == {1}          # null/zero-duration rows invent no chunks
    assert len(got) == 3       # 65s -> 3 chunks of 30s/30s/5s


def test_incremental_near_dup_cross_and_within_batch(spark):
    """A batch doc near-identical to an INDEXED doc matches via the
    stored index; two near-identical docs WITHIN the batch match each
    other once (id_a < id_b); unrelated docs don't match."""
    from pyspark.sql import functions as F

    from min_flink_spark.operators.dedup import incremental_near_dup, near_dup_index

    base = "the quick brown fox jumps over the lazy dog again and again every single day"
    other = "completely different content about database engines and shuffle partitioning"
    corpus = spark.createDataFrame([(1, base), (2, other)], "doc_id bigint, text string")
    index = near_dup_index(corpus)
    batch = spark.createDataFrame(
        [
            (10, base + " extra"),   # near-dup of indexed doc 1
            (11, base + " extra"),   # identical within batch to 10
            (12, "unrelated text about mountains rivers and weather patterns today"),
        ],
        "doc_id bigint, text string",
    )
    matches, new_rows = incremental_near_dup(batch, index, threshold=0.5)
    got = {(r.new_id, r.matched_id) for r in matches.collect()}
    assert (10, 1) in got and (11, 1) in got
    assert (11, 10) in got  # within-batch, emitted once
    assert not any(n == 12 or m == 12 for n, m in got)
    # index rows are append-ready: one row per (doc, band)
    assert new_rows.count() == 3 * 4


def test_quantize_int8_roundtrip_error_bound(spark):
    """Dequantized components differ from originals by at most scale/2
    (+1 ulp headroom); zero vectors quantize to zeros with scale 0."""
    from pyspark.sql import functions as F

    from min_flink_spark.operators.similarity import dequantize_int8, quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    q = dequantize_int8(quantize_int8(df))
    rows = {r.vec_id: r for r in q.collect()}
    assert rows[2].qscale == 0.0 and list(rows[2].qvec) == [0, 0, 0, 0]
    r1 = rows[1]
    for orig, dq in zip([0.5, -1.0, 0.25, 0.0], r1.embedding_dq):
        assert abs(orig - dq) <= r1.qscale / 2 + 1e-12
    assert max(abs(v) for v in r1.qvec) == 127


def test_coarse_to_fine_recall_vs_brute_force(spark, sf_dir):
    """dims=48/coarse_k=50 must keep recall@5 high even on random
    (worst-case, no front-loading) embeddings."""
    from pyspark.sql import functions as F

    from min_flink_spark.operators.similarity import (
        brute_force_topk,
        coarse_to_fine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qs = emb.filter(F.col("vec_id") < 10)
    a = {(r.query_id, r.vec_id) for r in coarse_to_fine_topk(emb, qs, 5, 50, 48).collect()}
    b = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, qs, 5).collect()}
    assert len(a & b) / len(b) >= 0.9


def test_score_with_model_loads_once_per_task(spark, tmp_path):
    """The scorer factory must run once per TASK, not per batch or per
    row — the property that makes real model loading affordable."""
    import os

    from pyspark.sql import functions as F

    from min_flink_spark.operators.inference import score_with_model

    marker_dir = str(tmp_path / "loads")
    os.makedirs(marker_dir)

    def factory():
        # one marker file per factory invocation (executor-side)
        import os as _os
        import uuid as _uuid

        open(_os.path.join(marker_dir, _uuid.uuid4().hex), "w").close()
        return lambda pdf: pdf["text"].str.len().astype("float64")

    df = spark.createDataFrame(
        [(i, "x" * (i + 1)) for i in range(100)], "doc_id bigint, text string"
    ).repartition(4)
    out = score_with_model(df, factory)
    rows = out.collect()
    assert all(r.model_score == len(r.text) for r in rows)
    n_loads = len(os.listdir(marker_dir))
    assert n_loads <= 8  # ≈ one per task (4 partitions, small retry headroom)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        score_with_model(out, factory)


def test_score_with_model_rejects_length_mismatch(spark):
    """A scorer that drops rows (e.g. filters internally) must raise,
    not label-align into silent NaNs (ADVICE r3)."""
    import pytest as _pytest

    from min_flink_spark.operators.inference import score_with_model

    df = spark.createDataFrame(
        [(i, "t") for i in range(10)], "doc_id bigint, text string"
    ).coalesce(1)

    def factory():
        return lambda pdf: pdf["text"].str.len().iloc[:-1]  # short by one

    with _pytest.raises(Exception, match="scorer returned"):
        score_with_model(df, factory).collect()


def test_score_with_model_real_runtime_if_available(spark):
    """VERDICT r3 stretch #8: when a real inference runtime ships in the
    container, drive an actual model through score_with_model's
    load-once Arrow path; until then skip with the reason recorded
    (neither torch nor onnxruntime is importable)."""
    import importlib.util

    import pytest as _pytest

    has_torch = importlib.util.find_spec("torch") is not None
    has_onnx = importlib.util.find_spec("onnxruntime") is not None
    if not (has_torch or has_onnx):
        _pytest.skip(
            "no real inference runtime in container (torch/onnxruntime "
            "absent, installs disallowed); deterministic-stub path is "
            "oracle-gated via model_quality_scores"
        )

    from min_flink_spark.operators.inference import score_with_model

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id bigint, x double"
    ).repartition(4)

    if has_torch:

        def factory():
            import numpy as _np
            import torch as _torch

            with _torch.no_grad():
                lin = _torch.nn.Linear(1, 1)
                lin.weight.fill_(2.0)
                lin.bias.fill_(1.0)

            def score(pdf):
                t = _torch.tensor(pdf[["x"]].to_numpy(dtype="float32"))
                with _torch.no_grad():
                    return _np.asarray(lin(t).squeeze(1), dtype="float64")

            return score

    else:  # onnxruntime only: 2x+1 as a hand-built ONNX graph

        def factory():
            import numpy as _np
            import onnxruntime as _ort
            from onnx import TensorProto, helper

            node = helper.make_node("Affine", ["x"], ["y"], alpha=2.0, beta=1.0)
            graph = helper.make_graph(
                [node],
                "affine",
                [helper.make_tensor_value_info("x", TensorProto.FLOAT, [None, 1])],
                [helper.make_tensor_value_info("y", TensorProto.FLOAT, [None, 1])],
            )
            sess = _ort.InferenceSession(
                helper.make_model(graph).SerializeToString()
            )

            def score(pdf):
                x = pdf[["x"]].to_numpy(dtype="float32")
                return _np.asarray(
                    sess.run(["y"], {"x": x})[0].squeeze(1), dtype="float64"
                )

            return score

    out = score_with_model(df, factory).collect()
    assert all(abs(r.model_score - (2.0 * r.x + 1.0)) < 1e-5 for r in out)


def test_simhash_hamming_pairs_matches_brute_force(spark):
    """Pigeonhole guarantee: the banded candidate path must find
    EXACTLY the pairs a brute-force Hamming scan finds at d <= 3
    (recall 1.0 by construction, precision 1.0 from the exact
    rerank)."""
    from itertools import combinations

    from min_flink_spark.operators.dedup import simhash, simhash_hamming_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near 1
        (3, "the quick brown fox jumps over a lazy dog today"),  # near 1
        (4, "completely different content about spark engines"),
        (5, "entirely unrelated text concerning database systems"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_hamming_pairs(df, max_hamming=3).collect()
    }
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(df, max_hamming=4, bands=4)


# ---------------------------------------------------------------------------
# product-quantization ANN (operators/similarity.pq_topk)
# ---------------------------------------------------------------------------


def test_pq_recall_vs_brute_force(emb):
    """Gated-query params (32 codes, 20x shortlist, 3 Lloyd iters)
    measured 0.78-0.94 micro-recall across SFs; the aggregate test
    bound sits at 0.6 — tighter than the 0.55 certificate gate, looser
    than any measurement, so a genuine codebook/ADC regression fails
    here first."""
    from min_flink_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    approx = pq_topk(
        emb, queries, k=5, n_codes=32, shortlist_mult=20, kmeans_iters=3
    )
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.6


def test_pq_deterministic_and_excludes_self(emb):
    from min_flink_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") < 5)
    r1 = sorted(map(tuple, pq_topk(emb, queries, k=3).collect()))
    r2 = sorted(map(tuple, pq_topk(emb, queries, k=3).collect()))
    assert r1 == r2  # md5-seeded kmeans + sorted partial reduce: no RNG
    assert all(q != v for q, v, _ in r1)


def test_pq_corpus_count_skips_count_pass(emb):
    """Passing the known corpus size must not change results — it only
    skips the n_corpus count() pass (VERDICT r7 item 5)."""
    from min_flink_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    base = sorted(map(tuple, pq_topk(emb, queries, k=3).collect()))
    hinted = sorted(
        map(tuple, pq_topk(emb, queries, k=3, corpus_count=n).collect())
    )
    assert base == hinted


def test_pq_sample_threshold_stays_capped():
    """The md5 threshold lives in the full 2^32 hash space: expected
    sample size is ~cap for ANY corpus size, where the old
    parts-per-million quantization floored to 1/1e6 once
    n > 1e6*cap and the sample grew as n/1e6 (ADVICE r7)."""
    cap = 200_000
    for n in (300_000, 10**7, 10**9, 10**12, 3 * 10**14):
        thr = max(1, ((1 << 32) * cap) // n)
        expected = n * thr / (1 << 32)
        assert expected <= cap * 1.001
        # and the sample does not collapse either: at least half the
        # cap until the (astronomical) floor regime
        if n <= (1 << 32) * cap:
            assert expected >= cap * 0.5


def test_pq_sampled_training_still_recalls(emb):
    """Force the md5-sample path on the test corpus (cap far below the
    row count) and assert the certificate still clears the gate — the
    sampled codebook is a usable codebook, and the sample predicate
    selects real rows under the 2^32-space threshold."""
    from min_flink_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    approx = pq_topk(
        emb,
        queries,
        k=5,
        n_codes=32,
        shortlist_mult=20,
        kmeans_iters=3,
        train_sample_cap=max(50, n // 3),
        corpus_count=n,
    )
    exact = brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.5


def test_pq_contract_errors(spark, emb):
    import pytest as _pytest

    from min_flink_spark.operators.similarity import pq_topk

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert pq_topk(empty, empty, k=3).count() == 0
    with _pytest.raises(ValueError, match="not divisible"):
        pq_topk(emb, emb.limit(1), k=3, m_subspaces=7).count()


# ---------------------------------------------------------------------------
# WAV header parsing (operators/multimodal.parse_wav_header / audio_stats)
# ---------------------------------------------------------------------------


def _wav_bytes(
    sample_rate=16000,
    channels=2,
    bits=16,
    n_frames=1000,
    pre_chunks=(),
    data_payload=False,
):
    """Build a real RIFF/WAVE byte string without any audio library."""
    ba = channels * bits // 8
    data_size = n_frames * ba
    chunks = b""
    for cid, payload in pre_chunks:
        chunks += cid + len(payload).to_bytes(4, "little") + payload
        if len(payload) % 2:
            chunks += b"\x00"  # word-aligned chunk stepping
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * ba).to_bytes(4, "little")
        + ba.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    chunks += b"fmt " + (16).to_bytes(4, "little") + fmt
    chunks += b"data" + data_size.to_bytes(4, "little")
    if data_payload:
        chunks += b"\x00" * data_size
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_wav_header_roundtrip():
    from min_flink_spark.operators.multimodal import parse_wav_header

    assert parse_wav_header(_wav_bytes()) == (16000, 2, 16, 62)  # 1000*1000//16000
    # declared-size-only payload (object-storage header fetch) parses too
    assert parse_wav_header(_wav_bytes(data_payload=True)) == (16000, 2, 16, 62)
    # extra chunks before fmt, including an ODD-size one that forces the
    # word-alignment step — a walk without +pad lands mid-chunk and fails
    odd = _wav_bytes(pre_chunks=((b"LIST", b"INFO"), (b"junk", b"abc")))
    assert parse_wav_header(odd) == (16000, 2, 16, 62)
    assert parse_wav_header(_wav_bytes(sample_rate=44100, channels=1, bits=8, n_frames=44100)) == (
        44100, 1, 8, 1000,
    )


def test_wav_header_rejects_garbage():
    from min_flink_spark.operators.multimodal import parse_wav_header

    good = _wav_bytes()
    assert parse_wav_header(b"") is None
    assert parse_wav_header(b"RIFF") is None
    assert parse_wav_header(b"OggS" + good[4:]) is None  # wrong container
    assert parse_wav_header(good[:20]) is None  # truncated before fmt
    # fmt present but no data chunk
    assert parse_wav_header(good[: len(good) - 8]) is None


def test_audio_stats_kernel_quarantines(spark):
    from min_flink_spark.operators.multimodal import audio_stats

    rows = [
        (1, _wav_bytes()),
        (2, _wav_bytes(sample_rate=8000, channels=1, bits=8, n_frames=8000)),
        (3, b"not audio at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    got = {r["media_id"]: r for r in audio_stats(df).collect()}
    assert (got[1]["sample_rate"], got[1]["channels"], got[1]["bits"]) == (16000, 2, 16)
    assert got[2]["duration_ms"] == 1000
    assert all(got[3][cq] is None for cq in ("sample_rate", "channels", "bits", "duration_ms"))
    assert got[4]["sample_rate"] is None


# ---------------------------------------------------------------------------
# MP4 header parsing (operators/multimodal.parse_mp4_duration / video_stats)
# ---------------------------------------------------------------------------


def _box(btype, payload, largesize=False, size_zero=False):
    if largesize:
        return (
            (1).to_bytes(4, "big")
            + btype
            + (16 + len(payload)).to_bytes(8, "big")
            + payload
        )
    if size_zero:
        return (0).to_bytes(4, "big") + btype + payload
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def _mp4_bytes(timescale=90000, duration=450000, version=0, wrap=None):
    if version == 0:
        mvhd = (
            b"\x00\x00\x00\x00" + b"\x00" * 8
            + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
        )
    else:
        mvhd = (
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big")
        )
    moov_payload = _box(b"udta", b"") + _box(b"mvhd", mvhd)
    moov = _box(b"moov", moov_payload, **(wrap or {}))
    return _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(b"free", b"") + moov


def test_mp4_duration_roundtrip_both_versions():
    from min_flink_spark.operators.multimodal import parse_mp4_duration

    assert parse_mp4_duration(_mp4_bytes()) == (90000, 5000)
    assert parse_mp4_duration(_mp4_bytes(version=1)) == (90000, 5000)
    # u64 duration beyond u32 range (version 1's reason to exist)
    big = 90000 * 100_000
    assert parse_mp4_duration(_mp4_bytes(duration=big, version=1)) == (
        90000, 100_000_000,
    )
    # largesize (size==1 + 64-bit size) and to-end-of-file (size==0) forms
    assert parse_mp4_duration(_mp4_bytes(wrap={"largesize": True})) == (90000, 5000)
    assert parse_mp4_duration(_mp4_bytes(wrap={"size_zero": True})) == (90000, 5000)


def test_mp4_duration_rejects_garbage():
    from min_flink_spark.operators.multimodal import parse_mp4_duration

    good = _mp4_bytes()
    assert parse_mp4_duration(b"") is None
    assert parse_mp4_duration(b"\x00\x00\x00\x08mdat") is None  # no ftyp
    assert parse_mp4_duration(good[:20]) is None  # truncated before moov
    # timescale 0 must not divide-by-zero
    assert parse_mp4_duration(_mp4_bytes(timescale=0)) is None


def test_mp4_child_walk_stays_inside_moov():
    """ADVICE r6: the mvhd scan must stop at moov's declared end — an
    'mvhd'-typed TOP-LEVEL box after an mvhd-less moov must not be
    misparsed as a moov child, and a size-0 child expands only to
    end-of-moov, never end-of-buffer."""
    from min_flink_spark.operators.multimodal import parse_mp4_duration

    decoy_mvhd = (
        b"\x00\x00\x00\x00" + b"\x00" * 8
        + (12345).to_bytes(4, "big") + (12345 * 7).to_bytes(4, "big")
    )
    # moov contains only udta; a spec-valid mvhd box follows AS A SIBLING
    evil = (
        _box(b"ftyp", b"isom\x00\x00\x02\x00")
        + _box(b"moov", _box(b"udta", b""))
        + _box(b"mvhd", decoy_mvhd)
    )
    assert parse_mp4_duration(evil) is None
    # size-0 child inside moov: expands to end-of-moov (finds nothing),
    # must not swallow the sibling decoy either
    evil2 = (
        _box(b"ftyp", b"isom\x00\x00\x02\x00")
        + _box(b"moov", _box(b"udta", b"", size_zero=True))
        + _box(b"mvhd", decoy_mvhd)
    )
    assert parse_mp4_duration(evil2) is None
    # well-formed files still parse (bound does not over-trim)
    assert parse_mp4_duration(_mp4_bytes()) == (90000, 5000)


def test_video_stats_kernel_quarantines(spark):
    from min_flink_spark.operators.multimodal import video_stats

    rows = [
        (1, _mp4_bytes()),
        (2, _mp4_bytes(timescale=600, duration=1234, version=1)),
        (3, b"definitely not a video"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    got = {r["media_id"]: r for r in video_stats(df).collect()}
    assert (got[1]["timescale"], got[1]["duration_ms"]) == (90000, 5000)
    assert (got[2]["timescale"], got[2]["duration_ms"]) == (600, 2056)
    assert got[3]["timescale"] is None and got[4]["duration_ms"] is None
