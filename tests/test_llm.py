"""LLM-data-pipeline operator tests: dedup finds planted duplicates,
similarity search ranks planted neighbors, multimodal plumbing round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from taico_data_integration_spark.llm.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_bits,
    simhash_hamming_pairs,
    word_shingles,
)
from taico_data_integration_spark.llm.multimodal import (
    decode_image,
    documents_as_media,
    extract_metadata,
)
from taico_data_integration_spark.llm.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_neardup_pairs,
)
from taico_data_integration_spark.llm.text import (
    quality_inputs_sql,
    quality_score_sql,
    tokens_sql,
    with_language,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy cat again and again today"
OTHER = "completely different words describing unrelated subject matter entirely here now"


def _docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=1, text=BASE), Row(doc_id=2, text=BASE), Row(doc_id=3, text=NEAR), Row(doc_id=4, text=OTHER)]
    )


def test_exact_dedup_groups_planted_duplicate(spark):
    groups = exact_dedup_groups(_docs(spark)).collect()
    by_rep = {g.rep_doc_id: g.n_copies for g in groups}
    assert by_rep[1] == 2  # docs 1 and 2 identical
    assert by_rep[3] == 1 and by_rep[4] == 1


def test_jaccard_finds_near_duplicate(spark):
    sh = word_shingles(_docs(spark), k=3)
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(sh, min_jaccard=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_candidates_include_duplicates(spark):
    sh = word_shingles(_docs(spark), k=3)
    bands = lsh_band_keys(minhash_signatures(sh, num_hashes=16), bands=4, rows_per_band=4)
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(bands).collect()}
    assert (1, 2) in cands  # identical docs always collide in every band
    assert (1, 4) not in cands


def test_simhash_distance_orders_similarity(spark):
    sim = simhash_bits(_docs(spark), bits=16)
    sigs = {r.doc_id: r.simhash for r in sim.collect()}
    assert sigs[1] == sigs[2]
    ham = lambda a, b: sum(x != y for x, y in zip(sigs[a], sigs[b]))
    assert ham(1, 3) <= ham(1, 4)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_hamming_pairs(sim, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def _vecs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0], label=0),
        Row(vec_id=1, embedding=[0.99, 0.1, 0.0, 0.0], label=0),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0], label=0),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0], label=1),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_bruteforce_ranks_neighbor_first(spark):
    e = _vecs(spark)
    res = cosine_topk_bruteforce(e, e.where(F.col("vec_id") == 0), k=2).collect()
    assert [r.neighbor_id for r in sorted(res, key=lambda r: r.rank)] == [1, 2]


def test_cosine_topk_lsh_finds_close_neighbor(spark):
    e = _vecs(spark)
    res = cosine_topk_lsh(e, e.where(F.col("vec_id") == 0), dim=4, k=2, n_planes=2).collect()
    assert any(r.neighbor_id == 1 for r in res)  # near-identical vector shares bucket


def test_cosine_topk_ivf_finds_planted_duplicate(spark):
    import random as pyrandom

    from taico_data_integration_spark.llm.similarity import cosine_topk_ivf

    rng = pyrandom.Random(7)
    rows = [Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    # vec 100 is an exact copy of vec 3 -> same IVF list, must surface rank 1
    rows.append(Row(vec_id=100, embedding=list(rows[3].embedding)))
    e = spark.createDataFrame(rows)
    res = cosine_topk_ivf(e, e.where(F.col("vec_id") == 3), k=3, n_lists=4, nprobe=2)
    top = sorted(res.collect(), key=lambda r: r.rank)
    assert top[0].neighbor_id == 100 and abs(top[0].cosine - 1.0) < 1e-6


def test_embedding_neardup_blocked(spark):
    res = embedding_neardup_pairs(_vecs(spark), min_cosine=0.9, block_col="label").collect()
    assert {(r.vec_a, r.vec_b) for r in res} == {(0, 1)}


def test_embedding_neardup_blas_parity(spark):
    """The BLAS gram-matrix variant must agree with the HOF-fold variant on
    the real fixture corpus: identical pair SET and |Δcosine| <= 1e-9 on the
    rounded values (numpy pairwise summation vs sequential fold differ at
    most in the last ulp before rounding)."""
    from taico_data_integration_spark.llm.similarity import embedding_neardup_pairs_blas

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hof = {
        (int(r.vec_a), int(r.vec_b)): r.cosine
        for r in embedding_neardup_pairs(e, min_cosine=0.35, block_col="label").collect()
    }
    blas = {
        (int(r.vec_a), int(r.vec_b)): r.cosine
        for r in embedding_neardup_pairs_blas(
            e, min_cosine=0.35, block_col="label", chunk=7  # force multi-chunk
        ).collect()
    }
    assert hof and set(hof) == set(blas)
    assert all(abs(hof[k] - blas[k]) <= 1e-9 for k in hof)


def test_embedding_neardup_blas_chunking_and_degenerates(spark):
    """Chunk boundaries must not drop or duplicate pairs; 1-row blocks emit
    nothing; ids come back as bigint."""
    from taico_data_integration_spark.llm.similarity import embedding_neardup_pairs_blas

    rows = [Row(vec_id=i, embedding=[1.0, float(i % 3) * 0.01], label=i % 2) for i in range(9)]
    rows.append(Row(vec_id=99, embedding=[0.0, 1.0], label=2))  # singleton block
    e = spark.createDataFrame(rows)
    full = embedding_neardup_pairs_blas(e, min_cosine=0.99, block_col="label", chunk=1024)
    tiny = embedding_neardup_pairs_blas(e, min_cosine=0.99, block_col="label", chunk=2)
    got_full = {(r.vec_a, r.vec_b, r.cosine) for r in full.collect()}
    got_tiny = {(r.vec_a, r.vec_b, r.cosine) for r in tiny.collect()}
    assert got_full == got_tiny
    assert all(a < b for a, b, _ in got_full)
    assert not any(99 in (a, b) for a, b, _ in got_full)
    assert dict(full.dtypes) == {"vec_a": "bigint", "vec_b": "bigint", "cosine": "double"}


def test_embedding_neardup_blas_duplicate_ids_match_hof(spark):
    """Degenerate input: duplicate vec_id rows inside one block. The HOF
    variant's a_id < b_id predicate never emits a self-pair (vec_a == vec_b)
    for them; the BLAS mask is id-based (not positional) so it must agree on
    the exact pair set (ADVICE r5)."""
    from taico_data_integration_spark.llm.similarity import embedding_neardup_pairs_blas

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[1.0, 0.001], label=0),  # duplicate id
        Row(vec_id=2, embedding=[1.0, 0.002], label=0),
        Row(vec_id=3, embedding=[0.0, 1.0], label=0),
    ]
    e = spark.createDataFrame(rows)
    hof = {
        (r.vec_a, r.vec_b) for r in
        embedding_neardup_pairs(e, min_cosine=0.99, block_col="label").collect()
    }
    blas = {
        (r.vec_a, r.vec_b) for r in
        embedding_neardup_pairs_blas(e, min_cosine=0.99, block_col="label").collect()
    }
    assert not any(a == b for a, b in blas)
    # the duplicated id pairs with id 2 twice -> set collapses to one entry,
    # exactly as the HOF variant's DISTINCT-free output set does
    assert blas == hof == {(1, 2)}


def test_blas_rounding_matches_spark_round_on_boundaries(spark):
    """The BLAS path rounds via Decimal(repr(x)) HALF_UP — the same
    shortest-decimal algorithm as Spark's round(). Pin agreement on
    .xxxxxx5-boundary doubles where binary-double *1e6 rounding diverges."""
    from decimal import Decimal, ROUND_HALF_UP

    boundary = [0.9999995, 0.5000005, 0.1234565, 0.7654325, 0.0000005]
    sdf = spark.createDataFrame([(v,) for v in boundary], "v double")
    spark_rounded = [r.r for r in sdf.select(F.round("v", 6).alias("r")).collect()]
    six = Decimal("0.000001")
    py_rounded = [
        float(Decimal(repr(v)).quantize(six, rounding=ROUND_HALF_UP)) for v in boundary
    ]
    assert spark_rounded == py_rounded


def test_kmeans_recovers_planted_clusters(spark):
    import random as pyrandom

    from taico_data_integration_spark.llm.clustering import kmeans

    rng = pyrandom.Random(11)
    centers = [[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]]
    rows = []
    for i in range(60):
        c = centers[i % 3]
        rows.append(Row(vec_id=i, embedding=[x + rng.gauss(0, 0.2) for x in c]))
    df = spark.createDataFrame(rows)
    assign, centroids = kmeans(df, k=3, iterations=4)
    got = {r.vec_id: r.cluster for r in assign.collect()}
    # all members of a planted cluster must land together
    for mod in range(3):
        ids = [i for i in range(60) if i % 3 == mod]
        assert len({got[i] for i in ids}) == 1
    # and the three planted clusters must be distinct
    assert len({got[0], got[1], got[2]}) == 3


def test_language_and_quality(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat on the mat and it is a good day for the dog"),
            Row(doc_id=2, text="der hund ist nicht auf der matte und das ist ein problem"),
            Row(doc_id=3, text="xyzzy plugh qwerty"),
        ]
    )
    langs = {r.doc_id: r.v for r in with_language(df, keep_cols=("doc_id",), out="v").collect()}
    assert langs == {1: "en", 2: "de", 3: "unknown"}
    qual = quality_score_sql(*quality_inputs_sql("text", tokens_sql("text")))
    q = {r.doc_id: r.v for r in df.selectExpr("doc_id", f"{qual} AS v").collect()}
    assert q[1] > q[3]


def test_pandas_udf_cosine_matches_jvm_path(spark):
    from taico_data_integration_spark.llm.similarity import (
        _to_double,
        cosine_pandas_udf,
        dot,
        l2_norm,
    )

    e = _vecs(spark)
    pairs = (
        e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        .crossJoin(e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")))
        .where(F.col("ia") < F.col("ib"))
    )
    a_d, b_d = _to_double(F.col("va")), _to_double(F.col("vb"))
    jvm = dot(a_d, b_d) / (l2_norm(a_d) * l2_norm(b_d))
    cos = cosine_pandas_udf()
    got = pairs.select("ia", "ib", jvm.alias("jvm"), cos("va", "vb").alias("py")).collect()
    for r in got:
        assert abs(r.jvm - r.py) < 1e-9


def test_multimodal_metadata_roundtrip(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="hello world")])
    meta = extract_metadata(documents_as_media(docs)).collect()[0]
    assert meta.asset_id == 1 and meta.modality == "image"
    assert meta.n_bytes == len(b"hello world")
    import hashlib

    assert meta.content_md5 == hashlib.md5(b"hello world").hexdigest()


def test_fake_feature_extract_contract(spark):
    from taico_data_integration_spark.llm.multimodal import (
        FEATURE_DIM,
        fake_feature_extract,
        repartition_for_decode,
    )

    docs = spark.createDataFrame([Row(doc_id=i, text=f"asset {i}") for i in range(10)])
    media = repartition_for_decode(documents_as_media(docs), parallelism=4)
    feats = fake_feature_extract(media).collect()
    assert len(feats) == 10
    for r in feats:
        assert len(r.features) == FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r.features)
    # deterministic: same payload -> same features
    again = {r.asset_id: list(r.features) for r in fake_feature_extract(media).collect()}
    for r in feats:
        assert [pytest.approx(x) for x in again[r.asset_id]] == list(r.features)


def test_image_codecs_roundtrip_exact():
    """encode->decode is lossless for BMP (incl. 4-byte row padding at
    awkward widths) and PPM; channel order and row order survive."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        decode_image_bytes,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.RandomState(7)
    for w in (1, 2, 3, 4, 5, 8, 13):  # widths hitting every BMP pad size
        for h in (1, 2, 5):
            arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
            got_bmp, fmt_b = decode_image_bytes(encode_bmp(arr))
            got_ppm, fmt_p = decode_image_bytes(encode_ppm(arr))
            assert fmt_b == "bmp" and fmt_p == "ppm"
            assert np.array_equal(got_bmp, arr)
            assert np.array_equal(got_ppm, arr)


def test_ppm_decoder_handles_comments():
    from taico_data_integration_spark.llm.multimodal import decode_image_bytes

    b = b"P6\n# a comment\n2 1\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    img, fmt = decode_image_bytes(b)
    assert fmt == "ppm" and img.shape == (1, 2, 3)
    assert img[0, 0].tolist() == [1, 2, 3] and img[0, 1].tolist() == [4, 5, 6]


def test_decode_and_resize_stages(spark):
    """decode_image / resize_image run non-stubbed over Arrow batches; the
    nearest-neighbor resize halves dimensions and keeps constant fills."""
    from taico_data_integration_spark.llm.multimodal import (
        documents_as_decodable_media,
        resize_image,
    )

    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(1, 21)])
    media = documents_as_decodable_media(docs)
    dec = {r.asset_id: r for r in decode_image(media).collect()}
    assert len(dec) == 20
    for d, r in dec.items():
        assert (r.width, r.height) == (8 + d % 9, 4 + d % 7)
        assert r.format == ("bmp" if d % 2 == 0 else "ppm")
        assert r.mean_r == float((d * 37) % 256)  # constant fill -> exact mean
    rez = {r.asset_id: r for r in resize_image(media, 4, 2).collect()}
    for d, r in rez.items():
        assert (r.width, r.height) == (4, 2)
        assert r.mean_b == float((d * 83) % 256)


def test_third_party_codec_registers_without_plumbing_changes(spark):
    """The codec-kernel seam (VERDICT r2 'Next round' #5): a third-party
    decoder — here a toy RLE image format — registers with one call and
    flows through decode_image's mapInPandas plumbing end-to-end, alongside
    the built-in codecs, with zero changes to the Spark side."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        encode_bmp,
        register_image_codec,
        unregister_image_codec,
    )

    # toy format: b"RLE1" + h + w + (count, r, g, b)* runs, row-major
    def encode_rle(arr) -> bytes:
        a = np.asarray(arr, dtype=np.uint8).reshape(-1, 3)
        out = [b"RLE1", bytes([arr.shape[0], arr.shape[1]])]
        i = 0
        while i < len(a):
            j = i
            while j < len(a) and j - i < 255 and (a[j] == a[i]).all():
                j += 1
            out.append(bytes([j - i]) + a[i].tobytes())
            i = j
        return b"".join(out)

    def decode_rle(b: bytes):
        h, w = b[4], b[5]
        px = []
        for i in range(6, len(b), 4):
            px.extend([list(b[i + 1 : i + 4])] * b[i])
        return np.array(px, dtype=np.uint8).reshape(h, w, 3)

    register_image_codec("rle1", lambda b: b[:4] == b"RLE1", decode_rle)
    try:
        img_a = np.full((4, 6, 3), (10, 20, 30), dtype=np.uint8)
        img_b = np.full((8, 5, 3), (200, 100, 50), dtype=np.uint8)
        media = spark.createDataFrame(
            [
                Row(asset_id=1, payload=bytearray(encode_rle(img_a))),
                Row(asset_id=2, payload=bytearray(encode_bmp(img_b))),  # built-in
            ]
        )
        got = {r.asset_id: r for r in decode_image(media).collect()}
    finally:
        unregister_image_codec("rle1")

    assert got[1].format == "rle1" and (got[1].width, got[1].height) == (6, 4)
    assert (got[1].mean_r, got[1].mean_g, got[1].mean_b) == (10.0, 20.0, 30.0)
    assert got[2].format == "bmp" and (got[2].width, got[2].height) == (5, 8)
    # after unregister, new plans no longer decode the foreign format
    import pytest

    with pytest.raises(Exception, match="no registered image codec"):
        media.where("asset_id = 1").transform(decode_image).collect()


def _psnr(a, b):
    import numpy as np

    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)


def test_jpeg_codec_roundtrip_quality():
    """Real compressed codec: baseline JPEG encode->decode reconstruction
    quality on a smooth gradient (both 4:2:0 and 4:4:4, odd dimensions
    exercising MCU padding), exactness on uniform gray, graceful rejection
    of non-baseline streams."""
    import numpy as np
    import pytest

    from taico_data_integration_spark.llm.jpeg import decode_jpeg, encode_jpeg

    h, w = 41, 59  # deliberately not multiples of 8/16
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.dstack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (h + w))]
    ).astype(np.uint8)
    for sub, floor in (("420", 35.0), ("422", 38.0), ("444", 40.0)):
        out = decode_jpeg(encode_jpeg(img, quality=85, subsample=sub))
        assert out.shape == img.shape and out.dtype == np.uint8
        assert _psnr(img, out) >= floor
    # quality monotonicity: higher quality -> at least as faithful
    p50 = _psnr(img, decode_jpeg(encode_jpeg(img, quality=50, subsample=False)))
    p95 = _psnr(img, decode_jpeg(encode_jpeg(img, quality=95, subsample=False)))
    assert p95 >= p50
    # uniform gray survives exactly (DC-only blocks, quant of 0 AC is 0)
    gray = np.full((24, 24, 3), 128, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(gray, quality=95)), gray)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"nope")


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn path: restart intervals byte-align the stream and reset DC
    predictors; reconstruction must be identical to the no-restart encode."""
    import numpy as np

    from taico_data_integration_spark.llm.jpeg import decode_jpeg, encode_jpeg

    h, w = 48, 80
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.dstack(
        [(xx * 255 / w), (yy * 255 / h), (xx * yy * 255 / (h * w))]
    ).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=85, restart_interval=0))
    for ri in (1, 3, 7):
        out = decode_jpeg(encode_jpeg(img, quality=85, restart_interval=ri))
        assert np.array_equal(out, base)


def test_jpeg_flows_through_decode_image_plumbing(spark):
    """JPEG payloads decode through the registered codec inside the same
    mapInPandas stage as the uncompressed formats — mixed batch, per-asset
    format tags and stats."""
    import numpy as np

    from taico_data_integration_spark.llm.jpeg import encode_jpeg
    from taico_data_integration_spark.llm.multimodal import encode_bmp

    img = np.full((16, 24, 3), (64, 128, 192), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            Row(asset_id=1, payload=bytearray(encode_jpeg(img, quality=95))),
            Row(asset_id=2, payload=bytearray(encode_bmp(img))),
        ]
    )
    got = {r.asset_id: r for r in decode_image(media).collect()}
    assert got[1].format == "jpeg" and got[2].format == "bmp"
    assert (got[1].width, got[1].height) == (24, 16)
    # constant fill: JPEG means stay within ~1 level of the BMP truth
    for ch in ("mean_r", "mean_g", "mean_b"):
        assert abs(getattr(got[1], ch) - getattr(got[2], ch)) <= 1.5


def test_adpcm_wav_roundtrip_and_dispatch():
    """Compressed audio: mono IMA-ADPCM (WAV fmt 0x11) roundtrips within
    the codec's design SNR on a tone, silence survives exactly, the fact
    chunk trims partial final blocks, and PCM files still decode."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        decode_wav_bytes,
        encode_adpcm_wav,
        encode_wav,
    )

    n, rate = 4000, 8000
    sig = (10000 * np.sin(2 * np.pi * 440 * np.arange(n) / rate)).astype(np.int16)
    dec, r = decode_wav_bytes(encode_adpcm_wav(sig, rate))
    assert r == rate and dec.shape == (n, 1)
    err = sig.astype(float) - dec[:, 0].astype(float)
    snr = 10 * np.log10(np.sum(sig.astype(float) ** 2) / np.sum(err**2))
    assert snr >= 20.0  # IMA ADPCM ~25 dB on tones
    # ~4:1 compression vs PCM
    assert len(encode_wav(sig, rate)) / len(encode_adpcm_wav(sig, rate)) > 3.0
    sil = np.zeros(1000, dtype=np.int16)
    assert np.array_equal(decode_wav_bytes(encode_adpcm_wav(sil))[0][:, 0], sil)
    odd = (3000 * np.sin(np.arange(777) / 5)).astype(np.int16)
    assert decode_wav_bytes(encode_adpcm_wav(odd))[0].shape == (777, 1)


def test_adpcm_flows_through_audio_feature_stage(spark):
    """A compressed (ADPCM) payload flows through extract_audio_features'
    mapInPandas stage next to a PCM payload — same stats contract."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        encode_adpcm_wav,
        encode_wav,
        extract_audio_features,
    )

    sig = (8000 * np.sin(2 * np.pi * 220 * np.arange(1600) / 8000)).astype(np.int16)
    media = spark.createDataFrame(
        [
            Row(asset_id=1, payload=bytearray(encode_adpcm_wav(sig, 8000))),
            Row(asset_id=2, payload=bytearray(encode_wav(sig, 8000))),
        ]
    )
    got = {r.asset_id: r for r in extract_audio_features(media).collect()}
    for aid in (1, 2):
        assert got[aid].sample_rate == 8000 and got[aid].n_samples == 1600
        assert got[aid].duration_ms == 200
    # lossy-but-close: ADPCM mean amplitude within 5% of the PCM truth
    assert abs(got[1].mean_abs - got[2].mean_abs) / got[2].mean_abs < 0.05


def test_mjpeg_avi_roundtrip_and_frame_sampling(spark):
    """Compressed video: M-JPEG AVI (per-frame baseline JPEGs in a RIFF
    container) decodes to the same (y, u, v) contract as y4m, and the
    frame-sampling mapInPandas stage handles BOTH containers in one batch
    via decode_video_bytes dispatch."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        decode_mjpeg_avi_bytes,
        encode_mjpeg_avi,
        encode_y4m,
        sample_video_frames,
    )

    frames = [np.full((24, 32, 3), (i * 40, 100, 200 - i * 30), np.uint8) for i in range(4)]
    avi = encode_mjpeg_avi(frames, fps=10, quality=95)
    got, fps = decode_mjpeg_avi_bytes(avi)
    assert len(got) == 4 and fps == (10, 1)
    for i, (y, u, v) in enumerate(got):
        rgb = np.array([i * 40, 100, 200 - i * 30], float)
        exp_y = 0.299 * rgb[0] + 0.587 * rgb[1] + 0.114 * rgb[2]
        assert y.shape == (24, 32) and abs(float(y.mean()) - exp_y) < 3.0

    y4m = encode_y4m(
        [tuple(np.full((16, 16), 60 + 10 * i, np.uint8) for _ in range(3)) for i in range(6)],
        fps=(5, 1),
        colorspace="C444",
    )
    media = spark.createDataFrame(
        [Row(asset_id=1, payload=bytearray(avi)), Row(asset_id=2, payload=bytearray(y4m))]
    )
    rows = sample_video_frames(media, every_n_seconds=0.2).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    # avi at 10 fps sampled every 0.2s -> stride 2 -> frames 0 and 2
    assert sorted(r.frame_idx for r in by_asset[1]) == [0, 2]
    # y4m at 5 fps sampled every 0.2s -> stride 1 -> all 6 frames
    assert sorted(r.frame_idx for r in by_asset[2]) == list(range(6))
    assert all(r.width == 32 and r.height == 24 for r in by_asset[1])


def test_y4m_codec_roundtrip_exact():
    """encode->decode is lossless for C444 and C420 y4m streams; frame
    order, plane order, and the framerate tag survive the container walk."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import decode_y4m_bytes, encode_y4m

    rng = np.random.RandomState(3)
    # C444: full-res chroma
    frames = [
        tuple(rng.randint(0, 256, size=(6, 10), dtype=np.uint8) for _ in range(3))
        for _ in range(4)
    ]
    got, fps = decode_y4m_bytes(encode_y4m(frames, fps=(30, 1), colorspace="C444"))
    assert fps == (30, 1) and len(got) == 4
    for (y, u, v), (gy, gu, gv) in zip(frames, got):
        assert np.array_equal(y, gy) and np.array_equal(u, gu) and np.array_equal(v, gv)
    # C420: 2x2-subsampled chroma planes
    f420 = [
        (
            rng.randint(0, 256, size=(6, 10), dtype=np.uint8),
            rng.randint(0, 256, size=(3, 5), dtype=np.uint8),
            rng.randint(0, 256, size=(3, 5), dtype=np.uint8),
        )
        for _ in range(2)
    ]
    got420, fps420 = decode_y4m_bytes(encode_y4m(f420, fps=(25, 1), colorspace="C420"))
    assert fps420 == (25, 1) and len(got420) == 2
    for (y, u, v), (gy, gu, gv) in zip(f420, got420):
        assert np.array_equal(y, gy) and np.array_equal(u, gu) and np.array_equal(v, gv)


def test_video_frame_sampling_real(spark):
    """sample_video_frames genuinely parses y4m containers: stride follows
    the stream's own framerate, timestamps are frame_idx/fps, plane means
    match the constant fills, and a gradient frame checks plane offsets."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        documents_as_video_media,
        encode_y4m,
        sample_video_frames,
    )

    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(1, 16)])
    media = documents_as_video_media(docs)
    rows = sample_video_frames(media, every_n_seconds=0.4).collect()  # 5 fps -> stride 2
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    assert set(by_asset) == set(range(1, 16))
    for d, frs in by_asset.items():
        n_frames = 3 + d % 5
        assert [r.frame_idx for r in sorted(frs, key=lambda r: r.frame_idx)] == list(
            range(0, n_frames, 2)
        )
        for r in frs:
            assert r.ts_ms == r.frame_idx * 200
            assert (r.width, r.height) == (8 + 2 * (d % 5), 4 + 2 * (d % 3))
            assert r.mean_y == float((d * 31 + r.frame_idx * 17) % 256)
            assert r.mean_u == float((d * 53 + r.frame_idx * 29) % 256)
            assert r.mean_v == float((d * 71 + r.frame_idx * 13) % 256)
    # gradient frame: mean must reflect true plane content, not fills
    y = np.arange(48, dtype=np.uint8).reshape(6, 8)
    u = np.full((6, 8), 7, dtype=np.uint8)
    v = np.full((6, 8), 9, dtype=np.uint8)
    clip = encode_y4m([(y, u, v)], fps=(10, 1), colorspace="C444")
    one = spark.createDataFrame(
        [(99, "video", bytearray(clip), "video/x-yuv4mpeg")], schema=MEDIA_SCHEMA
    )
    (r,) = sample_video_frames(one, every_n_seconds=0.1).collect()
    assert r.mean_y == pytest.approx(float(np.arange(48).mean()))
    assert (r.mean_u, r.mean_v) == (7.0, 9.0)


def test_incremental_dedup_sides_and_symmetry(spark):
    """dedup_incremental_lsh emits only cross-side pairs (new batch = ids
    %10==0 vs corpus), and each emitted pair's jaccard agrees with the
    symmetric full-corpus LSH-verified pair set."""
    from taico_data_integration_spark.queries.llm import (
        dedup_incremental_lsh,
        dedup_lsh_verified_pairs,
    )

    sf = "/root/testdata/sf0.001"
    inc = dedup_incremental_lsh(spark, sf).collect()
    assert len(inc) > 0
    for r in inc:
        assert r.new_doc_id % 10 == 0 and r.corpus_doc_id % 10 != 0
    full = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.jaccard
        for r in dedup_lsh_verified_pairs(spark, sf).collect()
    }
    for r in inc:
        key = (min(r.new_doc_id, r.corpus_doc_id), max(r.new_doc_id, r.corpus_doc_id))
        assert key in full and full[key] == r.jaccard


def test_leakage_safe_split_no_cross_split_neardups(spark):
    """The defining invariant: every verified near-dup pair (jaccard >= the
    cluster threshold) lands in ONE split, and split labels agree with the
    md5 bucket of the pair's cluster id."""
    from taico_data_integration_spark.queries.llm import (
        _CLUSTER_MIN_JACCARD,
        dedup_lsh_verified_pairs,
        leakage_safe_split,
    )

    sf = "/root/testdata/sf0.001"
    split = {r.doc_id: (r.cluster_id, r.split) for r in leakage_safe_split(spark, sf).collect()}
    docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(split) == docs
    pairs = [
        r
        for r in dedup_lsh_verified_pairs(spark, sf).collect()
        if r.jaccard >= _CLUSTER_MIN_JACCARD
    ]
    assert len(pairs) > 0
    for r in pairs:
        ca, sa = split[r.doc_a]
        cb, sb = split[r.doc_b]
        assert ca == cb and sa == sb, (r.doc_a, r.doc_b)


def test_wav_codec_roundtrip_exact():
    """encode->decode is lossless for mono and stereo 16-bit PCM; the
    chunk-walk parser skips unknown chunks and tolerates word-align pads."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import decode_wav_bytes, encode_wav

    rng = np.random.RandomState(5)
    mono = rng.randint(-32768, 32768, size=101, dtype=np.int16)
    got, rate = decode_wav_bytes(encode_wav(mono, sample_rate=16000))
    assert rate == 16000 and got.shape == (101, 1)
    assert np.array_equal(got[:, 0], mono)
    stereo = rng.randint(-32768, 32768, size=(50, 2), dtype=np.int16)
    got2, rate2 = decode_wav_bytes(encode_wav(stereo, sample_rate=44100))
    assert rate2 == 44100 and np.array_equal(got2, stereo)
    # unknown odd-sized chunk between fmt and data must be skipped
    wav = encode_wav(mono, sample_rate=8000)
    decoy = b"LIST" + (7).to_bytes(4, "little") + b"INFOxyz" + b"\x00"
    cut = wav.index(b"data")
    got3, _ = decode_wav_bytes(wav[:cut] + decoy + wav[cut:])
    assert np.array_equal(got3[:, 0], mono)


def test_audio_feature_stage_real(spark):
    """extract_audio_features genuinely parses RIFF chunks: stats match the
    closed-form waveform and a decoy chunk doesn't shift the data offset."""
    from taico_data_integration_spark.llm.multimodal import (
        documents_as_audio_media,
        extract_audio_features,
    )

    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(1, 21)])
    rows = {r.asset_id: r for r in extract_audio_features(documents_as_audio_media(docs)).collect()}
    assert set(rows) == set(range(1, 21))
    for d, r in rows.items():
        n = 64 + 8 * (d % 9)
        vals = [((d * 13 + i * 7) % 2048) - 1024 for i in range(n)]
        assert (r.sample_rate, r.n_samples, r.n_channels) == (8000, n, 1)
        assert r.duration_ms == n // 8
        assert r.peak == max(abs(v) for v in vals)
        assert r.mean_abs == pytest.approx(sum(abs(v) for v in vals) / n)


def test_cosine_topk_ivf_kmeans_refined_finds_planted_duplicate(spark):
    """IVF with a Lloyd-refined quantizer must still surface the planted
    near-duplicate as the top neighbor (same contract as the unrefined
    sampler, better-balanced lists)."""
    import random as pyrandom

    from taico_data_integration_spark.llm.similarity import cosine_topk_ivf

    rng = pyrandom.Random(11)
    rows = [Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append(Row(vec_id=100, embedding=list(rows[3].embedding)))
    e = spark.createDataFrame(rows)
    res = cosine_topk_ivf(
        e, e.where(F.col("vec_id") == 3), k=3, n_lists=4, nprobe=2, refine_iterations=2
    )
    top = sorted(res.collect(), key=lambda r: r.rank)
    assert top[0].neighbor_id == 100 and abs(top[0].cosine - 1.0) < 1e-6


def test_jpeg_decoder_robustness():
    """ADVICE r3 decoder hardening: 0xFF fill bytes before markers are
    legal (T.81 B.1.1.2) and must be skipped; non-dividing sampling factors
    are rejected up front; corrupt entropy data raises a clear ValueError
    (AC run past the block end), never an uncaught IndexError."""
    import numpy as np
    import pytest

    from taico_data_integration_spark.llm.jpeg import decode_jpeg, encode_jpeg

    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.dstack(
        [(xx * 255 / w), (yy * 255 / h), ((xx * yy) * 255 / (h * w))]
    ).astype(np.uint8)
    enc = encode_jpeg(img, quality=85, subsample="444")

    # legal 0xFF fill bytes before a marker decode identically
    i = enc.index(b"\xff\xdb")
    filled = enc[:i] + b"\xff\xff" + enc[i:]
    assert np.array_equal(decode_jpeg(filled), decode_jpeg(enc))

    # truncation anywhere in the header walk is a clear ValueError, never
    # an IndexError/struct.error (incl. EOF inside trailing fill bytes,
    # mid-payload cuts inside DQT/SOF segments, and every prefix length)
    with pytest.raises(ValueError, match="truncated|marker|SOI|scan"):
        decode_jpeg(b"\xff\xd8\xff\xff")
    sof = enc.index(b"\xff\xc0")
    for cut in (2, 3, 4, 5, 9, 15, i + 1, i + 3, i + 10, sof + 6, sof + 2):
        with pytest.raises(ValueError):
            decode_jpeg(enc[:cut])

    # sampling factors that don't divide the maxima are rejected, not
    # silently floor-divided in the chroma upsample (3 vs 2 -> repeat x1)
    sof = enc.index(b"\xff\xc0")
    ba = bytearray(enc)
    ba[sof + 11] = 0x31  # luma h=3, v=1
    ba[sof + 14] = 0x21  # cb  h=2 (2 does not divide 3)
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(bytes(ba))

    # corrupt entropy-coded data: every outcome is decode-or-ValueError;
    # IndexError (zz[i] with i>=64) and friends must never escape
    scan = enc.index(b"\xff\xda")
    span = len(enc) - scan - 20
    for k in range(40):
        ba = bytearray(enc)
        ba[scan + 14 + (k * 131) % max(1, span)] ^= 0xFF
        try:
            out = decode_jpeg(bytes(ba))
            assert out.shape == img.shape
        except ValueError:
            pass


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_connected_components_fuzz_matches_union_find(spark, seed):
    """Random pair graphs (dup edges, both orientations, self-loops, a
    deliberately long path to stress iteration depth) against an
    independent pure-Python union-find. The sf10 sweep verified a 2.3M-edge
    graph once, externally; this pins the same invariant inside the suite
    on every run: cluster_id == min doc id reachable in the pair graph."""
    import random

    from taico_data_integration_spark.llm.dedup import connected_components

    rng = random.Random(seed)
    n = rng.randint(2, 80)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 3 * n))]
    # a path component longer than the default max_iter would converge in —
    # min-label propagation moves one hop per iteration
    path_len = rng.randint(5, 40)
    edges += [(1000 + i, 1000 + i + 1) for i in range(path_len)]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, int] = {}
    for v in parent:
        roots.setdefault(find(v), v)
        roots[find(v)] = min(roots[find(v)], v)
    expected = {v: roots[find(v)] for v in parent}

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, max_iter=path_len + 5).collect()
    }
    assert got == expected
    # both execution paths must agree: the driver union-find fast path
    # (default, these graphs are under the cap) and the distributed
    # min-label + pointer-jump loop (forced via small_graph_max_edges=0)
    got_dist = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            pairs, max_iter=path_len + 5, small_graph_max_edges=0
        ).collect()
    }
    assert got_dist == expected


def test_connected_components_adversarial_chain_diameter(spark):
    """VERDICT r8 #8: plain min-label propagation needs O(diameter)
    iterations — a 500-vertex path graph (the near-dup shape of shingled
    SEQUENTIAL logs) is 25x the default 20-iteration budget. The pointer
    jump (label := label[label]) doubles reach per round, so the chain
    must converge within the DEFAULT max_iter — and labels must stay
    inside their own component on interleaved-id disjoint chains."""
    from taico_data_integration_spark.llm.dedup import connected_components

    n = 500
    pairs = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    # small_graph_max_edges=0 forces the distributed loop — this test pins
    # the pointer-jump convergence budget, not the driver fast path
    rows = connected_components(pairs, small_graph_max_edges=0).collect()
    assert len(rows) == n
    assert all(r.cluster_id == 0 for r in rows)

    # two disjoint chains with interleaved vertex ids: even chain rooted
    # at 0, odd chain rooted at 1 — the jump must never cross components
    m = 150
    inter = spark.range(m - 1).selectExpr(
        "2 * id AS doc_a", "2 * id + 2 AS doc_b"
    ).unionByName(
        spark.range(m - 1).selectExpr("2 * id + 1 AS doc_a", "2 * id + 3 AS doc_b")
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(inter, small_graph_max_edges=0).collect()
    }
    assert len(got) == 2 * m
    assert all(c == (0 if v % 2 == 0 else 1) for v, c in got.items())


def test_connected_components_uses_reliable_checkpoints_when_configured(spark, tmp_path):
    """The SCALE.md cluster swap is a configuration, not a code edit: with
    sc.setCheckpointDir on durable storage, every CC iteration checkpoints
    reliably (files land under the dir, results unchanged); without it the
    localCheckpoint fallback applies. Pin both paths."""
    import os

    from taico_data_integration_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"],
    )
    expected = {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # default: localCheckpoint path
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    assert got == expected

    d = str(tmp_path / "cc_ckpt")
    sc.setCheckpointDir(d)
    try:
        # force the distributed loop (small_graph_max_edges=0): the r13
        # small-graph path collects pairs to the driver and never iterates,
        # so reliable checkpointing only applies to the distributed path.
        got2 = {
            (r.doc_id, r.cluster_id)
            for r in connected_components(pairs, small_graph_max_edges=0).collect()
        }
        assert got2 == expected
        assert sum(len(fs) for _, _, fs in os.walk(d)) > 0, "no reliable checkpoint files written"
    finally:
        # reset the scala-side Option so the rest of the suite keeps the
        # localCheckpoint default (tmp_path is deleted after this test)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


def test_connected_components_probe_pin_is_reliable_when_configured(spark, tmp_path, monkeypatch):
    """With a checkpoint dir set, the over-cap path must not pin the pair
    list with an executor-local checkpoint: the probe frame goes through the
    same reliable checkpoint as every loop iteration."""
    from taico_data_integration_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"],
    )

    def no_local(self, *a, **k):
        raise AssertionError("localCheckpoint used with a checkpoint dir set")

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "cc_probe_ckpt"))
    try:
        monkeypatch.setattr(type(pairs), "localCheckpoint", no_local)
        got = {
            (r.doc_id, r.cluster_id)
            for r in connected_components(pairs, small_graph_max_edges=3).collect()
        }
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_sql_builders_quote_identifiers_and_literals(spark, monkeypatch):
    """Column names with a backtick and stopwords with an apostrophe or a
    backslash parse as themselves in the SQL expression builders."""
    from taico_data_integration_spark.llm import text
    from taico_data_integration_spark.sqlquote import sql_ident

    df = spark.createDataFrame(
        [(1, "The cat is on the mat"), (2, "c'est la vie dans la rue")],
        ["doc_id", "we`ird"],
    )
    got = {
        r.doc_id: r.detected_lang
        for r in text.with_language(df, "we`ird", keep_cols=("doc_id",)).collect()
    }
    assert got == {1: "en", 2: "fr"}

    monkeypatch.setitem(text.STOPWORDS, "fr", ["c'est", "la", "a\\b"])
    hits = text.stopword_hits_sql(text.tokens_sql(sql_ident("we`ird")), "fr")
    rows = spark.createDataFrame(
        [(1, "C'est la vie"), (2, "a\\b a\\b"), (3, "cest")], ["doc_id", "we`ird"]
    ).selectExpr("doc_id", f"{hits} AS n").collect()
    assert {r.doc_id: r.n for r in rows} == {1: 2, 2: 2, 3: 0}


def test_ivf_assign_join_path_equals_literal_path(spark):
    """VERDICT r8 #5: above IVF_ASSIGN_LITERAL_MAX lists, ivf_assign swaps
    the O(n_lists x dim) plan-literal centroid scoring for a broadcast
    centroids-DataFrame join + window top-nprobe. Same normalized values,
    same fold order, same (score desc, cid desc) tie-break — the two
    physical paths must agree assignment-for-assignment, including at
    nprobe > 1 and on exact-tie centroids."""
    from taico_data_integration_spark.llm.similarity import ivf_assign
    from taico_data_integration_spark.llm.synth import synth_embeddings

    corpus = synth_embeddings(spark, 1_500, n_clusters=24).localCheckpoint()
    centroids = [
        (i, [float(x) for x in r.embedding])
        for i, r in enumerate(corpus.orderBy("vec_id").limit(96).collect())
    ]
    for nprobe in (1, 3):
        lit_path = ivf_assign(corpus, centroids, nprobe=nprobe, literal_max=10_000)
        join_path = ivf_assign(corpus, centroids, nprobe=nprobe, literal_max=0)
        a = {(r.vec_id, r.list_id) for r in lit_path.collect()}
        b = {(r.vec_id, r.list_id) for r in join_path.collect()}
        assert a == b, f"paths diverge at nprobe={nprobe}: {sorted(a ^ b)[:10]}"
    # exact duplicate centroids: tie must resolve identically (cid desc)
    dup_cents = centroids[:4] + [(99, list(centroids[0][1]))]
    lit_tie = {
        (r.vec_id, r.list_id)
        for r in ivf_assign(corpus, dup_cents, nprobe=2, literal_max=10_000).collect()
    }
    join_tie = {
        (r.vec_id, r.list_id)
        for r in ivf_assign(corpus, dup_cents, nprobe=2, literal_max=0).collect()
    }
    assert lit_tie == join_tie
    # ADVICE r9: DUPLICATE ids must emit nprobe assignments per input ROW
    # on both paths — the join path's window partitions by a per-row key,
    # not id_col (partitioning by id_col interleaves duplicate-id rows
    # and emits nprobe per DISTINCT id)
    dup_rows = corpus.limit(5).union(corpus.limit(5)).localCheckpoint()
    lit_dup = sorted(
        (r.vec_id, r.list_id)
        for r in ivf_assign(dup_rows, centroids, nprobe=2, literal_max=10_000).collect()
    )
    join_dup = sorted(
        (r.vec_id, r.list_id)
        for r in ivf_assign(dup_rows, centroids, nprobe=2, literal_max=0).collect()
    )
    assert len(lit_dup) == 20 and lit_dup == join_dup


def test_ivf_index_persist_probe_equals_single_call(spark, tmp_path):
    """Round 8: the build-once/probe-many IVF split. ivf_search over an
    ivf_index persisted to a list_id-partitioned TableStore must equal
    cosine_topk_ivf's single-call result exactly, and the probe's scan of
    the stored table must partition-prune to the probed lists."""
    from taico_data_integration_spark.llm.similarity import (
        cosine_topk_ivf,
        ivf_assign,
        ivf_index,
        ivf_search,
    )
    from taico_data_integration_spark.llm.synth import synth_embeddings
    from taico_data_integration_spark.ops.incremental import TableStore

    corpus = synth_embeddings(spark, 3_000, n_clusters=16).localCheckpoint()
    queries = corpus.where(F.col("vec_id") % 500 == 0)

    index, centroids = ivf_index(corpus, n_lists=8)
    direct = cosine_topk_ivf(corpus, queries, k=5, n_lists=8, nprobe=2)

    # in-memory split equals the single call
    split = ivf_search(index, centroids, queries, k=5, nprobe=2)
    assert split.exceptAll(direct).count() == 0
    assert direct.exceptAll(split).count() == 0

    # persisted split: store partitioned by list_id, probe prunes dirs
    store = TableStore(spark, str(tmp_path))
    store.write("idx", index, partition_by=["list_id"])
    stored = store.read("idx")
    probe_ids = sorted(
        r.list_id
        for r in ivf_assign(queries, centroids, nprobe=2).select("list_id").distinct().collect()
    )
    pruned = stored.where(F.col("list_id").isin(probe_ids))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters:")[1].splitlines()[0]
    from_store = ivf_search(pruned, centroids, queries, k=5, nprobe=2)
    assert from_store.exceptAll(direct).count() == 0
    assert direct.exceptAll(from_store).count() == 0


def test_ivf_store_version_pin_append_and_staleness(spark, tmp_path):
    """VERDICT r9 #6: the persisted IVF index is version-pinned to the
    corpus it was built from. A mutated corpus cannot serve silently
    (probe raises); an append-shaped change advances via append() with
    probe-parity against a fresh full build; deletions and in-place
    embedding updates refuse the append path (rebuild required)."""
    import pytest as _pt

    from taico_data_integration_spark.llm import ivf_store
    from taico_data_integration_spark.llm.similarity import cosine_topk_ivf
    from taico_data_integration_spark.llm.synth import synth_embeddings
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    full = synth_embeddings(spark, 600, n_clusters=12).localCheckpoint()
    first = full.where(F.col("vec_id") < 400)
    rest = full.where(F.col("vec_id") >= 400)
    queries = full.where(F.col("vec_id") < 8).localCheckpoint()

    store.write("corpus", first)
    rec = ivf_store.build(store, "corpus", "idx", n_lists=8)
    assert rec["corpus_version"] == 0
    r0 = ivf_store.probe(store, "idx", queries, k=5, nprobe=2)
    assert r0.count() > 0

    # corpus mutates -> probe must refuse, not serve stale neighbors
    store.merge_in("corpus", rest.limit(50), "vec_id")
    with _pt.raises(ivf_store.IvfStaleIndexError, match="now current"):
        ivf_store.probe(store, "idx", queries, k=5, nprobe=2)

    # append-shaped change: append() re-pins and the probe equals a
    # FRESH full build (same deterministic centroids: first n_lists ids)
    store.merge_in("corpus", rest, "vec_id")
    out = ivf_store.append(store, "idx")
    assert out["appended"] == 200
    got = ivf_store.probe(store, "idx", queries, k=5, nprobe=2)
    fresh = cosine_topk_ivf(store.read("corpus"), queries, k=5, n_lists=8, nprobe=2)
    assert got.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(got).count() == 0

    # deletion is NOT append-shaped: loud refusal
    store.delete_in("corpus", "vec_id", [450])
    with _pt.raises(ivf_store.IvfStaleIndexError, match="not an append"):
        ivf_store.append(store, "idx")

    # in-place embedding update: verify_unchanged catches it
    ivf_store.build(store, "corpus", "idx2", n_lists=8)
    mutated = store.read("corpus").where("vec_id = 100").withColumn(
        "embedding", F.expr("transform(embedding, x -> x + CAST(1.0 AS FLOAT))")
    )
    store.merge_in("corpus", mutated, "vec_id")
    with _pt.raises(ivf_store.IvfStaleIndexError, match="changed"):
        ivf_store.append(store, "idx2")


def test_ivf_drift_watchdog_trips_on_distribution_shift(spark, tmp_path):
    """Round 12 (VERDICT r11 #3): appends assign to the ORIGINAL
    centroids forever, so a drifted embedding distribution decays recall
    with no staleness error. The pin records the build-time assignment
    dispersion; an append whose batch disperses past drift_ratio x
    baseline warns (default), records drift_tripped in the pin, and
    on_drift='rebuild' re-quantizes against the current corpus. An
    in-distribution append must NOT trip."""
    import warnings as _warnings

    from taico_data_integration_spark.llm import ivf_store
    from taico_data_integration_spark.llm.synth import synth_embeddings
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    full = synth_embeddings(spark, 800, n_clusters=8, seed=11).localCheckpoint()
    first = full.where(F.col("vec_id") < 400)
    in_dist = full.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 500))
    # planted shift: a DIFFERENT cluster seed lands the batch between the
    # pinned centroids — loose assignment everywhere
    drifted = (
        synth_embeddings(spark, 100, n_clusters=8, seed=999)
        .withColumn("vec_id", F.col("vec_id") + 1_000)
        .localCheckpoint()
    )

    store.write("corpus", first)
    rec = ivf_store.build(store, "corpus", "idx", n_lists=8)
    base = rec["build_dispersion"]
    assert base is not None and 0.0 <= base < 1.0

    # in-distribution append: no warning, dispersion recorded
    store.merge_in("corpus", in_dist, "vec_id")
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        out = ivf_store.append(store, "idx")
    assert out["appended"] == 100
    assert not [x for x in w if "drifted" in str(x.message)]
    assert ivf_store.pin_info(store, "idx")["drift_tripped"] is False

    # drifted append: warns, pin records the trip, index still advances
    store.merge_in("corpus", drifted, "vec_id")
    with _warnings.catch_warnings(record=True) as w2:
        _warnings.simplefilter("always")
        out2 = ivf_store.append(store, "idx")
    assert out2["appended"] == 100
    assert any("drifted" in str(x.message) for x in w2), (
        f"no drift warning; base={base} last="
        f"{ivf_store.pin_info(store, 'idx')['last_dispersion']}"
    )
    pin = ivf_store.pin_info(store, "idx")
    assert pin["drift_tripped"] is True
    assert pin["last_dispersion"] > base * 1.5

    # rebuild path: fresh quantizer, fresh baseline, trip cleared
    store2 = TableStore(spark, str(tmp_path / "s2"))
    store2.write("corpus", first)
    ivf_store.build(store2, "corpus", "idx", n_lists=8)
    store2.merge_in("corpus", drifted, "vec_id")
    with _warnings.catch_warnings(record=True) as w3:
        _warnings.simplefilter("always")
        out3 = ivf_store.append(store2, "idx", on_drift="rebuild")
    assert out3.get("rebuilt") is True and out3["drift_tripped"] is True
    pin2 = ivf_store.pin_info(store2, "idx")
    assert "drift_tripped" not in pin2  # fresh build, fresh baseline
    assert pin2["corpus_version"] == store2._read_meta("corpus")["current"]
    # the rebuilt index serves (pin current again)
    q = full.where(F.col("vec_id") < 8).localCheckpoint()
    assert ivf_store.probe(store2, "idx", q, k=3, nprobe=2).count() > 0

    with pytest.raises(ValueError, match="on_drift"):
        ivf_store.append(store2, "idx", on_drift="panic")
