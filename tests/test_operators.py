"""Custom operators: as-of join vs pandas merge_asof, approximate dedup /
similarity vs their exact twins, multimodal mapInPandas plumbing."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flusher_spark.io.tables import load_table
from flusher_spark.operators.asof import asof_join
from flusher_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from flusher_spark.operators.multimodal import (
    ASSET_SCHEMA,
    extract_features,
    frame_sample,
)
from flusher_spark.operators.similarity import brute_force_topk, lsh_topk

SF = "/root/testdata/sf0.001"


# -- as-of join --------------------------------------------------------------


def test_asof_join_matches_pandas_merge_asof(spark):
    left = pd.DataFrame({"k": [1, 1, 1, 2, 2], "t": [5, 10, 20, 7, 9], "lv": list("abcde")})
    right = pd.DataFrame({"k": [1, 1, 2], "rt": [4, 10, 8], "rv": [100, 200, 300]})
    got = (
        asof_join(
            spark.createDataFrame(left.rename(columns={"t": "t"})),
            spark.createDataFrame(right),
            on=["k"],
            left_ts="t",
            right_ts="rt",
        )
        .orderBy("k", "t")
        .toPandas()
    )
    expected = pd.merge_asof(
        left.sort_values("t"), right.sort_values("rt"), left_on="t", right_on="rt", by="k"
    ).sort_values(["k", "t"])
    norm = lambda vals: [None if pd.isna(v) else float(v) for v in vals]
    assert norm(got["rv_right"]) == norm(expected["rv"])


def test_asof_equal_timestamp_visible(spark):
    # ASOF '>= ' semantics: an equal-ts right row matches.
    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame([(1, 10, 7)], "k long, rt long, rv long")
    row = asof_join(left, right, ["k"], "t", "rt").collect()[0]
    assert row["rv_right"] == 7


def test_asof_tied_right_rows_largest_payload_wins(spark):
    # Two right rows at the SAME timestamp: the largest payload struct wins
    # (change_id 200 beats 100) — the tie-break join_scd2_pointintime's
    # zero-width-interval oracle requires (highest id survives).
    left = spark.createDataFrame([(1, 10), (1, 5)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 5, 100, "a"), (1, 5, 200, "b")], "k long, rt long, cid long, st string"
    )
    rows = {r["t"]: r for r in
            asof_join(left, right, ["k"], "t", "rt", value_cols=["cid", "st"]).collect()}
    assert rows[10]["cid_right"] == 200 and rows[10]["st_right"] == "b"
    assert rows[5]["cid_right"] == 200  # equal-ts rows visible, same winner


def test_asof_nearest_matches_pandas_merge_asof(spark):
    from flusher_spark.operators.asof import asof_join_nearest

    left = pd.DataFrame({"k": [1, 1, 1, 2, 2], "t": [5, 10, 20, 7, 9], "lv": list("abcde")})
    right = pd.DataFrame({"k": [1, 1, 2], "rt": [4, 12, 30], "rv": [100, 200, 300]})
    got = (
        asof_join_nearest(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on=["k"], left_ts="t", right_ts="rt", tolerance_us=6,
        )
        .orderBy("k", "t")
        .toPandas()
    )
    expected = pd.merge_asof(
        left.sort_values("t"), right.sort_values("rt"), left_on="t", right_on="rt",
        by="k", direction="nearest", tolerance=6,
    ).sort_values(["k", "t"])
    norm = lambda vals: [None if pd.isna(v) else float(v) for v in vals]
    assert norm(got["rv_right"]) == norm(expected["rv"])


def test_asof_nearest_tie_prefers_prior_and_tolerance_excludes(spark):
    from flusher_spark.operators.asof import asof_join_nearest

    # t=10 is equidistant from rt=8 and rt=12 → prior (8) wins the tie.
    left = spark.createDataFrame([(1, 10), (1, 100)], "k long, t long")
    right = spark.createDataFrame([(1, 8, 7), (1, 12, 9)], "k long, rt long, rv long")
    rows = {r["t"]: r for r in
            asof_join_nearest(left, right, ["k"], "t", "rt", tolerance_us=5).collect()}
    assert rows[10]["rv_right"] == 7
    # t=100: nearest candidate is 88 away — beyond tolerance → null.
    assert rows[100]["rv_right"] is None


def test_asof_nearest_tied_right_rows_largest_payload_wins_both_directions(spark):
    """Equal-timestamp right rows resolve to the LARGEST payload struct in
    BOTH the back and forward candidate — the same deterministic tie-break
    convention asof_join documents (largest id survives)."""
    from flusher_spark.operators.asof import asof_join_nearest

    # t=10 resolves backward to the rt=8 pair; t=13 resolves forward to the
    # rt=15 pair. Each tied pair must pick the larger rv.
    left = spark.createDataFrame([(1, 10), (1, 13)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 8, 100), (1, 8, 200), (1, 15, 300), (1, 15, 400)],
        "k long, rt long, rv long",
    )
    rows = {r["t"]: r for r in
            asof_join_nearest(left, right, ["k"], "t", "rt", tolerance_us=4).collect()}
    assert rows[10]["rv_right"] == 200, "back candidate must tie-break to largest payload"
    assert rows[13]["rv_right"] == 400, "fwd candidate must tie-break to largest payload"


def test_asof_nearest_fractional_numeric_timestamps(spark):
    """Double timestamp columns must compare at full precision: right rows
    0.2 and 0.9 units away are DIFFERENT distances, and sub-unit-distinct
    right rows must not collide in the forward key (r9 review: a
    cast('long') floored both, so 5.9 beat 5.2 via the payload tie-break)."""
    from flusher_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([(1, 5.0)], "k long, t double")
    right = spark.createDataFrame(
        [(1, 5.2, 1), (1, 5.9, 9)], "k long, rt double, rv long"
    )
    rows = asof_join_nearest(left, right, ["k"], "t", "rt", tolerance_us=2).collect()
    assert rows[0]["rv_right"] == 1, "genuinely nearest (5.2) must win, not floor-tied 5.9"
    assert rows[0]["rt_right"] == 5.2


# -- dedup -------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def test_minhash_recall_vs_exact(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert approx <= exact, "verified LSH pairs must be a subset of exact pairs"
    assert exact, "fixture must contain near-dup pairs for this test to bite"
    recall = len(approx) / len(exact)
    assert recall >= 0.7, f"LSH recall too low: {recall}"


def test_containment_dominates_jaccard(spark, docs):
    """For any pair, containment = i/min(a,b) ≥ jaccard = i/(a+b−i); pairs
    are canonically ordered; and every exact-jaccard pair at a threshold is
    also a containment pair at the same threshold (min ≤ union)."""
    from flusher_spark.operators.dedup import ngram_containment_pairs

    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(docs, threshold=0.5).collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert cont, "fixture must contain containment pairs for this test to bite"
    assert all(a < b for a, b in cont)
    assert set(jac) <= set(cont)
    for pair, j in jac.items():
        assert cont[pair] >= j - 1e-12


def test_simhash_pairs_hamming_bound(spark, docs):
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    assert pairs, "expected some simhash near-dups"
    assert all(0 <= r["hamming"] <= 3 for r in pairs)
    assert all(r["doc_a"] < r["doc_b"] for r in pairs)


# -- similarity --------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_brute_force_topk_is_correct(spark, emb):
    got = brute_force_topk(emb, [0, 1], k=5).collect()
    pdf = emb.toPandas()
    vecs = {r.vec_id: r.embedding for r in pdf.itertuples()}

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        return dot / (na * nb)

    for qid in (0, 1):
        expected = sorted(
            ((cos(vecs[qid], v), vid) for vid, v in vecs.items() if vid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        got_q = sorted(
            [(r["cosine_sim"], r["vec_id"]) for r in got if r["query_id"] == qid],
            key=lambda t: (-t[0], t[1]),
        )
        assert [v for _, v in got_q] == [v for _, v in expected]
        for (gs, _), (es, _) in zip(got_q, expected):
            assert abs(gs - es) < 1e-9


def test_lsh_topk_sims_match_exact_where_overlapping(spark, emb):
    exact = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"]
        for r in brute_force_topk(emb, [0, 1, 2, 3, 4], k=10).collect()
    }
    approx = lsh_topk(emb, [0, 1, 2, 3, 4], k=10).collect()
    assert approx, "LSH buckets should not all be empty"
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact:  # where both found the pair, the cosine is identical
            assert abs(r["cosine_sim"] - exact[key]) < 1e-12


# -- multimodal --------------------------------------------------------------


@pytest.fixture(scope="module")
def assets(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    return (
        docs.select(
            F.col("doc_id").alias("asset_id"),
            F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
            F.encode("text", "UTF-8").alias("payload"),
            F.struct(
                (F.col("doc_id") % 1000).cast("int").alias("width"),
                F.lit(480).cast("int").alias("height"),
                F.lit(16000).cast("int").alias("sample_rate"),
                F.lit(None).cast("int").alias("n_frames"),
            ).alias("meta"),
        )
    ).cache()


def test_asset_schema_roundtrip(spark, assets):
    assert [f.name for f in ASSET_SCHEMA.fields] == ["asset_id", "kind", "payload", "meta"]
    df = spark.createDataFrame(assets.collect(), ASSET_SCHEMA)
    assert df.count() == 50


def test_extract_features_deterministic(spark, assets):
    feats = extract_features(assets, fake=True, dim=8).collect()
    assert len(feats) == 50
    by_id = {r["asset_id"]: r for r in feats}
    raw = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    for aid, payload in raw.items():
        r = by_id[aid]
        assert r["n_bytes"] == len(payload)
        assert r["sha256"] == hashlib.sha256(payload).hexdigest()
        assert len(r["feature"]) == 8 and all(0 <= x < 1 for x in r["feature"])


def test_frame_sample_fanout(spark, assets):
    frames = frame_sample(assets, every_n_bytes=64, fake=True).toPandas()
    raw = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    counts = frames.groupby("asset_id").size().to_dict()
    for aid, payload in raw.items():
        assert counts[aid] == math.ceil(len(payload) / 64)


def test_wav_codec_roundtrip():
    """Real RIFF/PCM roundtrip, driver-side: every synthesized parameter is
    recovered from the bytes (no Spark needed — the codec is pure)."""
    from flusher_spark.operators.multimodal import decode_wav, synth_wav

    for rate, n, amp in [(8000, 1, 0), (11025, 137, 2999), (44100, 500, 32767)]:
        d = decode_wav(synth_wav(rate, n, amp))
        assert d["n_channels"] == 1 and d["sample_rate"] == rate
        assert d["n_samples"] == n and d["peak_amplitude"] == amp
        assert d["duration_s"] == n / rate
    with pytest.raises(Exception):
        decode_wav(b"not a wav at all")


def test_ppm_codec_roundtrip():
    from flusher_spark.operators.multimodal import decode_ppm, synth_ppm

    d = decode_ppm(synth_ppm(7, 5, (10, 128, 255)))
    assert (d["width"], d["height"]) == (7, 5)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (10.0, 128.0, 255.0)
    # Mixed pixels: means are true byte averages, not header echoes.
    payload = b"P6\n2 1\n255\n" + bytes([0, 0, 0, 255, 255, 255])
    d2 = decode_ppm(payload)
    assert d2["mean_r"] == 127.5
    with pytest.raises(ValueError):
        decode_ppm(b"P3\n1 1\n255\n0 0 0")  # ASCII PPM is not supported


def test_png_codec_roundtrip():
    from flusher_spark.operators.multimodal import decode_png, synth_png

    d = decode_png(synth_png(7, 5, (10, 128, 255)))
    assert (d["width"], d["height"]) == (7, 5)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (10.0, 128.0, 255.0)
    with pytest.raises(ValueError):
        decode_png(b"not a png")
    # Corrupt one IDAT byte: the CRC check must catch it.
    p = bytearray(synth_png(4, 4, (1, 2, 3)))
    p[40] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(p))


def test_png_palette_decode_expands_plte():
    """Color-type-3 PNGs must decode through the PLTE lookup to the exact
    RGB expansion (returned as bpp=3 so transform stages see one layout);
    a missing palette or out-of-range index must raise."""
    import numpy as np

    from flusher_spark.operators.multimodal import decode_png, synth_png_palette

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    d = decode_png(synth_png_palette(idx, palette))
    assert (d["width"], d["height"], d["color_type"], d["bpp"]) == (4, 2, 3, 3)
    px = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(2, 4, 3)
    want = np.array([[palette[i] for i in row] for row in idx], dtype=np.uint8)
    assert (px == want).all()
    # exact means: each palette entry appears twice over 8 pixels
    assert d["mean_r"] == sum(p[0] for p in palette) * 2 / 8
    # out-of-range index must raise, not wrap
    with pytest.raises(ValueError, match="out of range"):
        decode_png(synth_png_palette(np.array([[9]], dtype=np.uint8), palette[:2]))
    # palette image with the PLTE chunk stripped must raise
    b = bytearray(synth_png_palette(idx, palette))
    at = bytes(b).index(b"PLTE") - 4
    import struct as _st
    (ln,) = _st.unpack(">I", bytes(b[at:at + 4]))
    del b[at:at + 12 + ln]
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(bytes(b))


def test_png_adam7_interlaced_decode():
    """Adam7 de-interlace must reconstruct the EXACT pixel array for
    several sizes (incl. dims smaller than the 8x8 pass grid, which empty
    some passes) — compared against the non-interlaced decode of the same
    pixels."""
    import numpy as np

    from flusher_spark.operators.multimodal import (
        decode_png, synth_png_interlaced, synth_png_pixels,
    )

    rng = np.random.default_rng(11)
    for (h, w) in [(1, 1), (3, 5), (8, 8), (11, 7), (16, 19)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        plain = decode_png(synth_png_pixels(px))
        inter = decode_png(synth_png_interlaced(px))
        assert inter["pixels"] == plain["pixels"], (h, w)
        assert (inter["width"], inter["height"]) == (w, h)
        assert inter["mean_g"] == plain["mean_g"]


def test_png_unfilter_all_filter_types():
    """Encode one 3x3 RGB image five times, once per PNG filter type, and
    assert the decoder reconstructs identical pixels each way — exercises
    Sub/Up/Average/Paeth, not just the filter-0 path synth_png emits."""
    import struct
    import zlib

    from flusher_spark.operators.multimodal import decode_png

    w = h = 3
    # Pixel (x, y) = (10x+y, 20x, 30y): distinct per channel and position.
    raw = [
        [(10 * x + y, 20 * x, 30 * y) for x in range(w)]
        for y in range(h)
    ]

    def encode(ftype: int) -> bytes:
        def chunk(ctype, data):
            return (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

        stream = bytearray()
        prev = [0] * (w * 3)
        for y in range(h):
            line = [v for px in raw[y] for v in px]
            stream.append(ftype)
            for i in range(w * 3):
                left = line[i - 3] if i >= 3 else 0
                up = prev[i]
                ul = prev[i - 3] if i >= 3 else 0
                pred = {0: 0, 1: left, 2: up, 3: (left + up) // 2, 4: paeth(left, up, ul)}[ftype]
                stream.append((line[i] - pred) & 0xFF)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(stream))) + chunk(b"IEND", b""))

    expect = decode_png(encode(0))
    for ftype in (1, 2, 3, 4):
        assert decode_png(encode(ftype)) == expect


def test_bmp_codec_roundtrip_and_variants():
    import struct as _s

    from flusher_spark.operators.multimodal import decode_bmp, synth_bmp

    d = decode_bmp(synth_bmp(7, 5, (10, 128, 255)))
    assert (d["width"], d["height"]) == (7, 5)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (10.0, 128.0, 255.0)
    # width 7 * 3 = 21 bytes → 3 padding bytes per row: stride math exercised
    with pytest.raises(ValueError):
        decode_bmp(b"not a bmp")
    # Top-down variant (negative height) must decode identically.
    b = bytearray(synth_bmp(4, 3, (9, 8, 7)))
    _s.pack_into("<i", b, 22, -3)
    top_down = decode_bmp(bytes(b))
    assert (top_down["width"], top_down["height"]) == (4, 3)
    assert (top_down["mean_r"], top_down["mean_g"], top_down["mean_b"]) == (9.0, 8.0, 7.0)


def test_tiff_codec_roundtrip_both_endians_and_strips():
    import random as _r

    from flusher_spark.operators.multimodal import decode_tiff, synth_tiff

    rng = _r.Random(11)
    for _ in range(60):
        w, h = rng.randrange(1, 12), rng.randrange(1, 15)
        rgb = (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        d = decode_tiff(synth_tiff(w, h, rgb, big_endian=bool(rng.getrandbits(1))))
        assert (d["width"], d["height"]) == (w, h)
        assert (d["mean_r"], d["mean_g"], d["mean_b"]) == tuple(float(c) for c in rgb)
    # height ≥ 2 → synth emits two strips with out-of-line LONG arrays; a
    # 1-row image keeps the inline scalar path — both exercised above.
    with pytest.raises(ValueError):
        decode_tiff(b"not a tiff")
    # Unsupported shapes must raise, never silently mis-parse: flip the
    # compression SHORT (tag 259, entry index 3) to LZW=5.
    import struct as _s

    b = bytearray(synth_tiff(4, 4, (1, 2, 3)))
    base = 8 + 2 + 3 * 12  # IFD entries are 12 bytes; value field at +8
    assert _s.unpack_from("<H", b, base)[0] == 259
    _s.pack_into("<H", b, base + 8, 5)
    with pytest.raises(ValueError):
        decode_tiff(bytes(b))


def test_gif_codec_roundtrip_and_lzw():
    import random

    from flusher_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        synth_gif,
    )

    d = decode_gif(synth_gif(9, 4, (33, 66, 99)))
    assert (d["width"], d["height"]) == (9, 4)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (33.0, 66.0, 99.0)
    with pytest.raises(ValueError):
        decode_gif(b"not a gif")
    # LZW roundtrip on random index streams: dictionary growth to the
    # 12-bit cap, re-clear, and the KwKwK case all fire at these sizes.
    rng = random.Random(7)
    for n in (1, 10, 300, 5000, 70000):
        data = bytes(rng.randrange(4) for _ in range(n))
        assert bytes(_lzw_decode(_lzw_encode(data, 2), 2, n)) == data
    # A multi-color image through the full container roundtrip: patch the
    # synth GIF's 2-entry palette usage by hand-building varied indices.
    from flusher_spark.operators.multimodal import _lzw_encode as enc
    import struct as _s

    w, h = 5, 3
    indices = bytes((x + y) % 2 for y in range(h) for x in range(w))
    screen = _s.pack("<HHBBB", w, h, 0x80, 0, 0)
    gct = bytes((200, 0, 0)) + bytes((0, 100, 50))
    img = b"\x2c" + _s.pack("<HHHHB", 0, 0, w, h, 0)
    lzw = enc(indices, 2)
    blocks = bytearray([2])
    blocks.append(len(lzw))
    blocks.extend(lzw)
    blocks.append(0)
    gif = b"GIF89a" + screen + gct + img + bytes(blocks) + b"\x3b"
    got = decode_gif(gif)
    n0 = sum(1 for i in indices if i == 0)
    n1 = len(indices) - n0
    assert got["mean_r"] == (200 * n0) / len(indices)
    assert got["mean_g"] == (100 * n1) / len(indices)
    assert got["mean_b"] == (50 * n1) / len(indices)


def test_wav_features_null_on_junk(spark):
    """Undecodable payloads surface as NULL features (drift, not failure)."""
    from flusher_spark.operators.multimodal import synth_wav, wav_features

    df = spark.createDataFrame(
        [(1, bytearray(synth_wav(8000, 10, 5))), (2, bytearray(b"junk"))],
        "asset_id long, payload binary",
    )
    rows = {r["asset_id"]: r for r in wav_features(df).collect()}
    assert rows[1]["sample_rate"] == 8000 and rows[1]["peak_amplitude"] == 5
    assert rows[2]["sample_rate"] is None and rows[2]["duration_s"] is None


# -- distributed ranking -----------------------------------------------------


def test_global_row_number_matches_window(spark):
    from flusher_spark.operators.ranking import with_global_row_number
    from pyspark.sql import Window

    o = load_table(spark, SF, "orders")
    got = with_global_row_number(o, ["o_orderdate", "o_orderkey"], out="rn")
    w = Window.orderBy("o_orderdate", "o_orderkey")
    expected = o.withColumn("rn", F.row_number().over(w).cast("long"))
    a = {(r["o_orderkey"], r["rn"]) for r in got.select("o_orderkey", "rn").collect()}
    b = {(r["o_orderkey"], r["rn"]) for r in expected.select("o_orderkey", "rn").collect()}
    assert a == b


def test_global_ntile_matches_window(spark):
    from flusher_spark.operators.ranking import with_global_ntile
    from pyspark.sql import Window

    c = load_table(spark, SF, "customer")
    for n in (3, 4, 7):
        got = with_global_ntile(c, ["c_acctbal", "c_custkey"], n, out="b")
        w = Window.orderBy("c_acctbal", "c_custkey")
        expected = c.withColumn("b", F.ntile(n).over(w).cast("long"))
        a = {(r["c_custkey"], r["b"]) for r in got.select("c_custkey", "b").collect()}
        bb = {(r["c_custkey"], r["b"]) for r in expected.select("c_custkey", "b").collect()}
        assert a == bb, f"ntile({n}) mismatch"


def test_global_row_slice_bounds(spark):
    from flusher_spark.operators.ranking import global_row_slice

    o = load_table(spark, SF, "orders").select("o_orderkey")
    got = sorted(r["o_orderkey"] for r in global_row_slice(o, ["o_orderkey"], 5, 14).collect())
    expected = sorted(r["o_orderkey"] for r in o.collect())[4:14]
    assert got == expected


def test_global_row_number_plan_has_no_single_partition_window(spark):
    from flusher_spark.operators.ranking import with_global_row_number

    o = load_table(spark, SF, "orders")
    df = with_global_row_number(o, ["o_orderdate", "o_orderkey"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The data-bearing window must be partitioned by __pid; the only
    # unpartitioned window runs over the #partitions-sized offsets side.
    for line in plan.splitlines():
        if "Window" in line and "__pid" not in line and "__cnt" not in line and "__offset" not in line:
            raise AssertionError(f"unexpected unpartitioned window: {line}")


# -- range join --------------------------------------------------------------


def test_range_join_matches_theta_join(spark):
    from flusher_spark.operators.rangejoin import range_join

    e = load_table(spark, SF, "events")
    promo = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("promo_id"), "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
    )
    views = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    got = {
        (r["view_id"], r["promo_id"])
        for r in range_join(
            views, promo, "ts", "win_start", "win_end", on=["user_id"], bin_width="30 minutes"
        ).collect()
    }
    naive = {
        (r["view_id"], r["promo_id"])
        for r in views.alias("v")
        .join(
            promo.alias("p"),
            (F.col("v.user_id") == F.col("p.user_id"))
            & (F.col("v.ts") >= F.col("p.win_start"))
            & (F.col("v.ts") < F.col("p.win_end")),
        )
        .collect()
    }
    assert got == naive and naive, "bin trick must reproduce the theta join exactly"


def test_range_join_plan_has_no_cartesian(spark):
    from flusher_spark.operators.rangejoin import range_join

    e = load_table(spark, SF, "events")
    promo = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("promo_id"), "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
    )
    views = e.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    plan = range_join(
        views, promo, "ts", "win_start", "win_end", on=["user_id"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_fuzzy_join_ed1_equals_theta_join(spark):
    """Deletion-neighborhood candidates must cover EXACTLY the edit-distance
    ≤1 pairs (the SymSpell completeness property), and plan as an equi-join
    on the variant key — no nested loop."""
    from flusher_spark.operators.text import fuzzy_join_ed1

    left = spark.createDataFrame(
        [(1, "widget"), (2, "wdget"), (3, "gadget"), (4, "")], "lid long, a string"
    )
    right = spark.createDataFrame(
        [(10, "widget"), (11, "widgets"), (12, "gidget"), (13, "x")], "rid long, b string"
    )
    got = {(r["lid"], r["rid"]) for r in fuzzy_join_ed1(left, right, "a", "b").collect()}
    naive = {
        (r["lid"], r["rid"])
        for r in left.crossJoin(right).where(F.levenshtein("a", "b") <= 1).collect()
    }
    assert got == naive and naive
    plan = fuzzy_join_ed1(left, right, "a", "b")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_salted_join_splits_hot_key(spark):
    """The point of salting, asserted structurally (not by flaky wall time):
    with broadcast off and one key owning ~half the fact rows, the unsalted
    shuffle join concentrates ≥40% of output in one task while the salted
    join's largest task stays under 25%; and the salt column is part of the
    join's partitioning."""
    from flusher_spark.operators.scale import salted_join

    e = load_table(spark, SF, "events")
    skewed = e.select(
        F.when(F.col("event_id") % 2 == 0, F.lit(1).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("skew_user"),
        "value",
    )
    dim = e.select("user_id").distinct().select(F.col("user_id").alias("skew_user"))

    def max_share(df):
        counts = [r["n"] for r in df.groupBy(F.spark_partition_id().alias("p"))
                  .agg(F.count("*").alias("n")).collect()]
        return max(counts) / sum(counts)

    unsalted = skewed.join(dim.hint("shuffle_hash"), "skew_user")
    salted = salted_join(skewed, dim.hint("shuffle_hash"), "skew_user")
    # AQE would coalesce the fixture-sized shuffle into one partition and
    # mask the distribution; the balance claim is about the partitioner.
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        u = max_share(unsalted)
        s = max_share(salted)
        assert u >= 0.4, "fixture not skewed enough to test salting"
        # Relative bound: at sf0.001 only ~22 distinct (key, salt) values hash
        # into 32 partitions, so birthday collisions put a floor on absolute
        # balance; the claim is that salting removes the hot-key share.
        assert s <= 0.6 * u, f"salt failed to split the hot key: {s:.3f} vs {u:.3f}"
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    # The salt participates in the shuffle: partitioning covers __salt.
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan.split("Exchange")[1]


def test_range_join_timezone_independent(spark):
    """Bin assignment must not depend on the session timezone: the width is a
    driver-side integer, so a non-UTC session yields identical matches (the
    old interval-anchored-at-epoch formulation silently DROPPED matches off
    UTC)."""
    from flusher_spark.operators.rangejoin import range_join

    left = spark.createDataFrame([(1, "2024-01-01 05:10:00")], "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("ts")
    )
    right = spark.createDataFrame(
        [(7, "2024-01-01 05:00:00", "2024-01-01 05:30:00")], "rid long, s string, e string"
    ).select("rid", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("America/Los_Angeles", "Asia/Tokyo", "UTC"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            rows = range_join(left, right, "ts", "s", "e", bin_width="30 minutes").collect()
            assert len(rows) == 1 and rows[0]["rid"] == 7, f"dropped match under {tz}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_range_join_interval_spanning_many_bins(spark):
    # An interval much longer than the bin width must still match exactly once.
    from flusher_spark.operators.rangejoin import range_join

    left = spark.createDataFrame([(1, "2024-01-01 05:00:00")], "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("ts")
    )
    right = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", "2024-01-02 00:00:00")], "rid long, s string, e string"
    ).select("rid", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    rows = range_join(left, right, "ts", "s", "e", bin_width="30 minutes").collect()
    assert len(rows) == 1 and rows[0]["rid"] == 7


def _iv(spark, rows, schema="id long, s string, e string"):
    return spark.createDataFrame(rows, schema).select(
        "id", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e")
    )


def test_interval_overlap_join_matches_theta_join(spark):
    """The bin rewrite must reproduce the half-open overlap theta join
    EXACTLY — including pairs sharing many bins (dedup via the canonical
    greatest-start bin must emit them exactly once)."""
    from flusher_spark.operators.rangejoin import interval_overlap_join

    e = load_table(spark, SF, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("p_end"),
    )
    i = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("i_id"),
        F.col("ts").alias("i_start"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("i_end"),
    )
    got = [
        (r["p_id"], r["i_id"])
        for r in interval_overlap_join(
            p, i, "p_start", "p_end", "i_start", "i_end", bin_width="30 minutes"
        ).collect()
    ]
    naive = {
        (r["p_id"], r["i_id"])
        for r in p.join(
            i, (F.col("p_start") < F.col("i_end")) & (F.col("i_start") < F.col("p_end"))
        ).collect()
    }
    assert len(got) == len(set(got)), "canonical-bin dedup emitted a pair twice"
    assert set(got) == naive and naive


def test_interval_overlap_half_open_touching_is_no_overlap(spark):
    from flusher_spark.operators.rangejoin import interval_overlap_join

    left = _iv(spark, [(1, "2024-01-01 05:00:00", "2024-01-01 06:00:00")])
    # touches at 06:00 (no overlap), contained, contains, disjoint
    right = _iv(
        spark,
        [
            (10, "2024-01-01 06:00:00", "2024-01-01 07:00:00"),
            (11, "2024-01-01 05:20:00", "2024-01-01 05:40:00"),
            (12, "2024-01-01 04:00:00", "2024-01-01 08:00:00"),
            (13, "2024-01-01 09:00:00", "2024-01-01 10:00:00"),
            (14, "2024-01-01 04:00:00", "2024-01-01 05:00:00"),  # touches at start
        ],
        "id long, s string, e string",
    )
    rows = interval_overlap_join(
        left, right, "s", "e", "s", "e", bin_width="30 minutes"
    ).collect()
    assert sorted(r["id_right"] for r in rows) == [11, 12]


def test_interval_overlap_spanning_many_bins_once(spark):
    from flusher_spark.operators.rangejoin import interval_overlap_join

    left = _iv(spark, [(1, "2024-01-01 00:00:00", "2024-01-03 00:00:00")])
    right = _iv(spark, [(7, "2024-01-02 11:00:00", "2024-01-02 12:00:00")])
    rows = interval_overlap_join(
        left, right, "s", "e", "s", "e", bin_width="30 minutes"
    ).collect()
    assert len(rows) == 1 and rows[0]["id_right"] == 7


def test_interval_overlap_join_with_equi_keys(spark):
    """The on=[keys] path: overlap pairs must also match the equi-key, and
    the result must equal the keyed theta join exactly."""
    from flusher_spark.operators.rangejoin import interval_overlap_join

    e = load_table(spark, SF, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("p_end"),
    )
    i = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("i_id"), "user_id",
        F.col("ts").alias("i_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("i_end"),
    )
    got = {
        (r["p_id"], r["i_id"])
        for r in interval_overlap_join(
            p, i, "p_start", "p_end", "i_start", "i_end",
            on=["user_id"], bin_width="1 hour",
        ).collect()
    }
    naive = {
        (r["p_id"], r["i_id"])
        for r in p.alias("a")
        .join(
            i.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.p_start") < F.col("b.i_end"))
            & (F.col("b.i_start") < F.col("a.p_end")),
        )
        .collect()
    }
    assert got == naive and naive


def test_interval_overlap_plan_has_no_nested_loop(spark):
    from flusher_spark.operators.rangejoin import interval_overlap_join

    left = _iv(spark, [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00")])
    right = _iv(spark, [(7, "2024-01-01 00:30:00", "2024-01-01 02:00:00")])
    plan = (
        interval_overlap_join(left, right, "s", "e", "s", "e")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


# -- PQ ANN ------------------------------------------------------------------


def test_pq_topk_recall_and_determinism(spark, emb):
    """ADC scores are estimates, so only set-overlap with the exact top-10 is
    asserted — plus bit-determinism across runs (sample, k-means, and the
    fused encode/score UDF are all RNG-free by construction)."""
    from flusher_spark.operators.similarity import pq_topk

    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, qids, k=10).collect()
    }
    approx = pq_topk(emb, qids, k=10, m=16, ksub=256).collect()
    assert len(approx) == len(exact), "PQ must return a full top-10 per query"
    recall = sum(1 for r in approx if (r["query_id"], r["vec_id"]) in exact) / len(exact)
    # Measured 0.86 with FAISS-standard 16x256 codebooks (1-byte codes,
    # 16x compression) on the 64-dim fixture; deterministic, not
    # statistical (see docstring).
    assert recall >= 0.8, f"PQ recall too low: {recall}"
    again = pq_topk(emb, qids, k=10, m=16, ksub=256).collect()
    assert [tuple(r) for r in approx] == [tuple(r) for r in again]


def test_pq_codebooks_bounded_and_deterministic(spark, emb):
    from flusher_spark.operators.similarity import _train_pq_codebooks

    base = emb.select("vec_id", "embedding")
    b1 = _train_pq_codebooks(base, "vec_id", "embedding", m=8, ksub=16)
    b2 = _train_pq_codebooks(base, "vec_id", "embedding", m=8, ksub=16)
    assert b1.shape == (8, 16, 8)  # ksub capped by sample size when smaller
    assert (b1 == b2).all()


def test_dsum_limbs_matches_dsum_exact_bitwise(spark):
    """The r14 long-limb exact sums (num.dsum_limbs) must surface the
    bit-identical double that the wide-decimal dsum_exact form produces —
    including negative amounts (q9 profits), rounding-hostile money values
    (0.07·100 = 7.000000000000001 in doubles), the contract-maximum
    magnitude, and multi-group partial aggregation."""
    from flusher_spark.plans.num import dec, dsum_exact, dsum_limbs, money_long

    rows = [
        (1, 0.01, 0.00, 0.00), (1, 0.07, 0.05, 0.07), (1, 999999.99, 0.10, 0.08),
        (2, 123456.78, 0.07, 0.03), (2, 0.03, 0.09, 0.01), (2, 555.55, 0.00, 0.00),
        (3, 0.29, 0.02, 0.06), (3, 7071.07, 0.04, 0.02),
    ] * 7  # repeat so partial aggregation merges non-trivial partials
    df = spark.createDataFrame(
        rows, "g int, l_extendedprice double, l_discount double, l_tax double"
    ).repartition(5)
    disc_dec = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    charge_dec = disc_dec.cast("decimal(18,8)") * (F.lit(1) + dec("l_tax"))
    disc_cv = money_long("l_extendedprice") * (F.lit(100) - money_long("l_discount"))
    charge_cv = disc_cv * (F.lit(100) + money_long("l_tax"))
    # negative-amount shape (q9): disc − price·qty with qty forcing sign flips
    amt_dec = disc_dec - dec("l_extendedprice") * F.lit(2).cast("decimal(12,4)")
    amt_cv = disc_cv - money_long("l_extendedprice") * F.lit(2) * F.lit(100)
    old = df.groupBy("g").agg(
        dsum_exact(disc_dec).alias("a"),
        dsum_exact(charge_dec).alias("b"),
        dsum_exact(amt_dec).alias("c"),
    ).orderBy("g").collect()
    new = df.groupBy("g").agg(
        dsum_limbs(disc_cv, 10**4).alias("a"),
        dsum_limbs(charge_cv, 10**6).alias("b"),
        dsum_limbs(amt_cv, 10**4).alias("c"),
    ).orderBy("g").collect()
    for o, n in zip(old, new):
        for f in ("a", "b", "c"):
            assert repr(o[f]) == repr(n[f]), (o["g"], f, o[f], n[f])


def test_pq_subspace_training_matches_serial_reference():
    """The r14 optimization round restructured per-subspace k-means (fork
    pool over subspaces; count-grouped batched means instead of 20k
    per-cluster boolean masks). Both claims rest on BIT-IDENTICAL
    arithmetic — this pins _train_pq_subspace against the verbatim
    pre-optimization serial loop across sizes where member counts span the
    small/large reduction paths."""
    import numpy as np

    from flusher_spark.operators.similarity import _train_pq_subspace

    rng = np.random.default_rng(11)
    for n, dsub, ksub in ((20, 4, 16), (300, 3, 256), (1024, 4, 256)):
        X = rng.normal(size=(n, dsub))
        k = min(ksub, n)
        # Verbatim pre-r14 reference: farthest-point seeding + 5 Lloyd
        # steps with per-cluster masked means.
        chosen = [0]
        d2 = ((X - X[0]) ** 2).sum(axis=1)
        while len(chosen) < k:
            nxt = int(np.argmax(d2))
            chosen.append(nxt)
            d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
        C = X[chosen].copy()
        for _ in range(5):
            dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)
            for c in range(k):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        got = _train_pq_subspace((X.copy(), k, 5))
        assert np.array_equal(got, C), (n, dsub, ksub)


# -- Persisted ANN indexes ---------------------------------------------------


def test_pq_persisted_matches_fused_and_never_retrains(spark, emb, tmp_path, monkeypatch):
    """Build-once/query-many contract: pq_query_index must (a) reproduce the
    fused pq_topk ranking bit-for-bit — the stored codes are the same codes
    the fused path computes — and (b) run with training made impossible,
    proving the query half touches only the persisted artifact."""
    import flusher_spark.operators.similarity as S

    qids = [0, 1, 2, 3, 4]
    fused = S.pq_topk(emb, qids, k=10, m=16, ksub=256).collect()
    path = str(tmp_path / "pq_index")
    S.pq_build_index(emb, path, m=16, ksub=256)

    def boom(*a, **k):
        raise AssertionError("query path must not retrain")

    monkeypatch.setattr(S, "_train_pq_codebooks", boom)
    queries = emb.where(emb.vec_id.isin(qids))
    persisted = S.pq_query_index(spark, path, queries, k=10).collect()
    assert sorted(map(tuple, persisted), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, fused), key=lambda t: (t[0], t[3])
    )
    # second query against the same index: byte-identical (no hidden state)
    again = S.pq_query_index(spark, path, queries, k=10).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, persisted))


def test_ivf_persisted_layout_pruning_and_no_retrain(spark, emb, tmp_path, monkeypatch):
    """The stored IVF layout must be partitioned by list id (so probes prune
    at the parquet layer), the query half must run with training disabled,
    and fused vs persisted results must agree exactly (same centroids, same
    assignment, exact re-rank over roundtripped floats)."""
    import os

    import pyspark.sql.functions as F

    import flusher_spark.operators.similarity as S

    qids = [0, 1, 2, 3, 4]
    fused = S.ivf_topk(emb, qids, k=10, n_lists=8, n_probe=3, n_iter=1).collect()
    path = str(tmp_path / "ivf_index")
    S.ivf_build_index(emb, path, n_lists=8, n_iter=1)
    parts = sorted(
        d for d in os.listdir(os.path.join(path, "vectors")) if d.startswith("__list=")
    )
    assert len(parts) >= 2, f"expected list-partitioned layout, got {parts}"
    # partition pruning: a 2-list read touches ONLY those partitions' files
    # (input_file_name over executed rows — inputFiles() ignores filters)
    two = [int(p.split("=")[1]) for p in parts[:2]]
    pruned = spark.read.parquet(os.path.join(path, "vectors")).where(
        F.col("__list").isin(two)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__list" in plan.split("PartitionFilters")[1][:200]
    touched = [
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert touched, "pruned read should still see its own partitions"
    for f in touched:
        assert any(f"__list={t}/" in f for t in two), f"unpruned file read: {f}"

    def boom(*a, **k):
        raise AssertionError("query path must not retrain")

    monkeypatch.setattr(S, "_seed_centroids", boom)
    monkeypatch.setattr(S, "_ivf_assign", boom)
    queries = emb.where(emb.vec_id.isin(qids))
    persisted = S.ivf_query_index(spark, path, queries, k=10, n_probe=3).collect()
    assert sorted(map(tuple, persisted), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, fused), key=lambda t: (t[0], t[3])
    )


def test_ivf_append_index_grows_without_retrain(spark, emb, tmp_path, monkeypatch):
    """ivf_append_index must (a) assign new vectors to the EXISTING
    centroids — training disabled, centroid table byte-identical before
    and after; (b) land appended rows inside the partitioned layout so
    queries see both halves; (c) keep recall within noise of a full
    rebuild over the grown corpus."""
    import os

    import pyspark.sql.functions as F

    import flusher_spark.operators.similarity as S

    qids = [0, 1, 2, 3, 4]
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_grow")
    S.ivf_build_index(even, path, n_lists=8, n_iter=1)
    cents_before = sorted(
        (r["__cid"], tuple(r["__cvec"]))
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )

    def boom(*a, **k):
        raise AssertionError("append path must not retrain")

    monkeypatch.setattr(S, "_seed_centroids", boom)
    monkeypatch.setattr(S, "_ivf_assign", boom)
    S.ivf_append_index(spark, path, odd)
    cents_after = sorted(
        (r["__cid"], tuple(r["__cvec"]))
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )
    assert cents_after == cents_before  # no-retrain: centroids untouched
    stored = spark.read.parquet(os.path.join(path, "vectors"))
    assert stored.count() == emb.count()  # both halves landed

    queries = emb.where(emb.vec_id.isin(qids))
    grown = S.ivf_query_index(spark, path, queries, k=10, n_probe=3).collect()
    got_ids = {r["vec_id"] for r in grown}
    assert any(i % 2 == 0 for i in got_ids) and any(i % 2 == 1 for i in got_ids), (
        "results must draw from both the built and the appended half"
    )

    # recall vs exact, grown-index vs full-rebuild: within noise
    exact = S.brute_force_topk(emb, qids, k=10).collect()
    truth = {q: {r["vec_id"] for r in exact if r["query_id"] == q} for q in qids}

    def recall(rows):
        hit = sum(len({r["vec_id"] for r in rows if r["query_id"] == q} & truth[q])
                  for q in qids)
        return hit / sum(len(truth[q]) for q in qids)

    monkeypatch.undo()
    rebuild_path = str(tmp_path / "ivf_rebuild")
    S.ivf_build_index(emb, rebuild_path, n_lists=8, n_iter=1)
    rebuilt = S.ivf_query_index(spark, rebuild_path, queries, k=10, n_probe=3).collect()
    assert recall(grown) >= recall(rebuilt) - 0.15, (
        f"grown-index recall {recall(grown):.2f} too far below rebuild "
        f"{recall(rebuilt):.2f}"
    )


# -- Built-in MinHashLSH parity ----------------------------------------------


def test_builtin_minhash_lsh_parity_with_exact_jaccard(spark):
    """The pyspark.ml MinHashLSH path must emit only TRUE near-dup pairs
    (its approxSimilarityJoin re-scores candidates with exact Jaccard, so
    precision is 1 modulo feature-hash collisions — none expected on the
    fixture) with distances matching the exact n-gram Jaccard, and recall
    on the fixture's near-dup pair set high enough to be useful."""
    from flusher_spark.operators.dedup import ngram_jaccard_pairs
    from flusher_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(load_table(spark, sf, "documents"), threshold=0.5).collect()
    }
    assert exact, "fixture must contain exact-Jaccard >= 0.5 pairs"
    got = registry()["dedup_minhash_builtin"].fn(spark, sf).collect()
    for r in got:
        key = (r["doc_a"], r["doc_b"])
        assert key in exact, f"built-in LSH invented pair {key}"
        assert abs((1.0 - r["jaccard_dist"]) - exact[key]) < 1e-9, key
    recall = len(got) / len(exact)
    assert recall >= 0.6, f"built-in LSH recall too low: {recall}"
    # determinism: fixed seed + deterministic hashing -> identical re-run
    again = registry()["dedup_minhash_builtin"].fn(spark, sf).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))


# -- Graph centrality --------------------------------------------------------


def test_pagerank_matches_numpy_power_iteration(spark):
    """Distributed PageRank must reproduce the dense numpy power iteration
    (same damping, same uniform-dangling redistribution) to float
    tolerance on a graph with a cycle, a hub, and a dangling node — and
    total rank mass must stay 1 every time."""
    import numpy as np

    from flusher_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (3, 4), (2, 4)]  # 4 -> dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, damping=0.85, n_iter=8).collect()}

    n, d = 5, 0.85
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        nxt = np.full(n, (1 - d) / n)
        dang = sum(r[u] for u in range(n) if u not in out)
        nxt += d * dang / n
        for s, ts in out.items():
            for t in ts:
                nxt[t] += d * r[s] / len(ts)
        r = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-12, (u, got[u], r[u])
    # the dangling sink still accumulates rank; the hub outranks the leaf
    assert got[4] > got[3] or got[4] > 0.1


def test_pagerank_weighted_matches_numpy(spark):
    """Weighted PageRank must spread rank proportionally to edge weight /
    out-weight-sum, reproducing the dense numpy reference to float
    tolerance — and must differ from the unweighted result (the weights
    are deliberately asymmetric)."""
    import numpy as np

    from flusher_spark.operators.graph import pagerank

    edges = [(0, 1, 9.0), (0, 2, 1.0), (1, 2, 4.0), (2, 0, 2.0), (1, 3, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, damping=0.85, n_iter=8, weight="w").collect()
    }

    n, d = 4, 0.85
    out: dict = {}
    for s, t, w in edges:
        out.setdefault(s, []).append((t, w))
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        nxt = np.full(n, (1 - d) / n)
        dang = sum(r[u] for u in range(n) if u not in out)
        nxt += d * dang / n
        for s, ts in out.items():
            tot = sum(w for _, w in ts)
            for t, w in ts:
                nxt[t] += d * r[s] * w / tot
        r = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-12, (u, got[u], r[u])
    # weighting matters: node 1 (weight-9 edge) outranks the uniform case
    unweighted = {
        q["node"]: q["rank"] for q in pagerank(df, damping=0.85, n_iter=8).collect()
    }
    assert got[1] > unweighted[1] + 1e-3


def test_pagerank_mixed_sign_weights_conserve_mass(spark):
    """A node with BOTH positive and non-positive out-weights must spread
    exactly its rank, not more: the out-weight denominator has to be summed
    over the same w>0 edge set the spread uses (r12 / ADVICE — deg summed
    over ALL edges let w=[2,-1] spread 2/1 of the node's rank, inflating
    total mass each iteration). Non-positive-only nodes stay dangling."""
    import numpy as np

    from flusher_spark.operators.graph import pagerank

    edges = [
        (0, 1, 2.0),   # spreads
        (0, 2, -1.0),  # ignored, but old code still counted it in deg
        (1, 2, 4.0),
        (1, 3, 0.0),   # ignored
        (2, 0, 2.0),
        (3, 0, -5.0),  # node 3's ONLY edge is non-positive -> dangling
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, damping=0.85, n_iter=8, weight="w").collect()
    }

    n, d = 4, 0.85
    out: dict = {}
    for s, t, w in edges:
        if w > 0:
            out.setdefault(s, []).append((t, w))
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        nxt = np.full(n, (1 - d) / n)
        dang = sum(r[u] for u in range(n) if u not in out)
        nxt += d * dang / n
        for s, ts in out.items():
            tot = sum(w for _, w in ts)
            for t, w in ts:
                nxt[t] += d * r[s] * w / tot
        r = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-9, "rank mass must stay 1"
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-12, (u, got[u], r[u])


def test_pagerank_tol_early_stop(spark, monkeypatch):
    """tol must stop the iteration loop before n_iter once the L1 delta
    converges (observed by counting per-iteration persist-or-checkpoint
    calls — each iteration materializes its rank vector through exactly
    one of the two since the r14 storage-discipline change), and the
    early-stopped result must match the run-to-cap result."""
    from flusher_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (3, 4), (2, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")

    # Patch the CONCRETE DataFrame class (Spark 4: pyspark.sql.DataFrame is
    # the abstract base; instances are the classic subclass, which overrides
    # localCheckpoint — patching the base would never be hit).
    cls = type(df)
    calls = {"cp": 0, "p": 0}
    orig_cp = cls.localCheckpoint
    orig_p = cls.persist

    def counting_cp(self, eager=True):
        calls["cp"] += 1
        return orig_cp(self, eager=eager)

    def counting_p(self, *a, **k):
        calls["p"] += 1
        return orig_p(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", counting_cp)
    monkeypatch.setattr(cls, "persist", counting_p)

    def iters():
        # ed + nodes + out_nodes checkpoints are setup, not iterations
        return calls["p"] + calls["cp"] - 3

    full = {r["node"]: r["rank"] for r in pagerank(df, n_iter=50).collect()}
    assert iters() == 50

    calls["cp"] = calls["p"] = 0
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=50, tol=1e-6).collect()}
    tol_iters = iters()
    assert tol_iters < 50, "tol=1e-6 must stop before the n_iter cap"
    assert tol_iters >= 3  # but not before doing real work
    for u in full:
        assert abs(got[u] - full[u]) < 1e-6, (u, got[u], full[u])


def test_connected_components_matches_union_find(spark):
    """Large-star/small-star CC must exactly match a Python union-find on
    a mixed graph (cliques + chains + isolated-by-self-loop nodes), with
    component = min member id."""
    import random

    from flusher_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 20)]          # chain 0..20
    edges += [(100 + a, 100 + b) for a in range(8) for b in range(a)]  # clique
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(80)]
    edges += [(300, 300)]  # self loop -> isolated node
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    comps: dict = {}
    for x in parent:
        comps.setdefault(find(x), []).append(x)
    want = {x: min(members) for root, members in comps.items() for x in members}
    assert got == want


def test_connected_components_chain_converges_in_log_rounds(spark):
    """The reason this operator exists next to dedup_clusters: a 200-hop
    path graph must converge in O(log n) star-contraction rounds, not
    O(diameter) label-propagation rounds."""
    from flusher_spark.operators.graph import connected_components

    n = 200
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    stats: dict = {}
    got = {r["node"]: r["component"] for r in
           connected_components(df, stats=stats).collect()}
    assert got == {i: 0 for i in range(n + 1)}
    assert stats["rounds"] <= 12, (
        f"chain took {stats['rounds']} rounds — star contraction should be ~log n"
    )
    assert stats["converged"] is True


def test_connected_components_iteration_cap_is_loud(spark):
    """Exhausting max_iter before the edge-set fixpoint must not pass
    silently: strict=True (the default) raises even when a stats dict is
    passed — stats is observability, not error policy — and strict=False
    returns the truncated labeling with converged=False recorded."""
    import pytest as _pytest

    from flusher_spark.operators.graph import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(df, max_iter=1).collect()
    stats: dict = {}
    with _pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(df, max_iter=1, stats=stats).collect()
    assert stats == {"rounds": 1, "converged": False}
    stats = {}
    connected_components(df, max_iter=1, stats=stats, strict=False)
    assert stats == {"rounds": 1, "converged": False}


# -- SemDeDup ----------------------------------------------------------------


def test_semantic_neardup_agrees_with_exact_twin(spark, emb):
    """Cluster-bucketed near-dup pairs must be a SUBSET of the exact
    all-pairs result with bit-identical scores (precision 1 — clustering
    can only miss cross-cluster pairs), with recall high enough to be
    useful on the fixture; and the keep-half must drop exactly the id_b
    side of the found pairs."""
    from flusher_spark.operators.similarity import (
        neardup_cosine_exact,
        semantic_dedup_keep,
        semantic_neardup_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in neardup_cosine_exact(emb, threshold=0.4).collect()
    }
    assert exact, "fixture must contain near-dup pairs at the 0.4 threshold"
    sem = semantic_neardup_pairs(emb, threshold=0.4, n_lists=8, n_iter=1, n_assign=2).collect()
    assert len({(r["id_a"], r["id_b"]) for r in sem}) == len(sem), "multi-probe dups must collapse"
    for r in sem:
        key = (r["id_a"], r["id_b"])
        assert key in exact, f"invented pair {key}"
        assert r["cosine_sim"] == exact[key], "scores must be bit-identical"
    recall = len(sem) / len(exact)
    # 0.77 measured with 2-probe assignment on the i.i.d. fixture (0.30
    # single-probe — boundary pairs dominate when vectors are random);
    # deterministic, not statistical.
    assert recall >= 0.7, f"semantic recall too low on fixture: {recall}"
    # determinism: re-run is byte-identical (all clustering derandomized)
    again = semantic_neardup_pairs(emb, threshold=0.4, n_lists=8, n_iter=1, n_assign=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, sem))
    # apply half: survivors = all ids minus the id_b side of the pairs
    kept = {r["vec_id"] for r in semantic_dedup_keep(emb, threshold=0.4, n_lists=8, n_iter=1, n_assign=2).collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert kept == all_ids - {b for _, b in (r[:2] for r in sem)}


# -- IVF ANN -----------------------------------------------------------------


def test_ivf_topk_recall_and_exactness(spark, emb):
    from flusher_spark.operators.similarity import ivf_topk

    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"]
        for r in brute_force_topk(emb, qids, k=10).collect()
    }
    approx = ivf_topk(emb, qids, k=10, n_lists=8, n_probe=3).collect()
    assert approx, "IVF probes should not all be empty"
    overlap = 0
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact:
            overlap += 1
            assert abs(r["cosine_sim"] - exact[key]) < 1e-12
    recall = overlap / len(exact)
    # k-means++-style sample seeding (deterministic): 0.58 measured; the old
    # lowest-id seeding was the weak link. Everything is derandomized, so
    # these bounds are stable, not statistical.
    assert recall >= 0.55, f"IVF recall too low: {recall}"
    # Lloyd refinement on top of the spread seeds must lift recall further.
    refined = ivf_topk(emb, qids, k=10, n_lists=8, n_probe=3, n_iter=2).collect()
    r_recall = sum(1 for r in refined if (r["query_id"], r["vec_id"]) in exact) / len(exact)
    assert r_recall >= 0.7, f"refined IVF recall too low: {r_recall}"
    # Determinism: the same refined call twice gives identical results
    # (sample seeding + Lloyd are fully derandomized — no rand()).
    again = ivf_topk(emb, qids, k=10, n_lists=8, n_probe=3, n_iter=2).collect()
    assert sorted(map(tuple, refined)) == sorted(map(tuple, again))


def test_arrow_cosine_matches_fold_left(spark, emb):
    from flusher_spark.operators.similarity import brute_force_topk_arrow

    qids = [0, 1, 2, 3, 4]
    a = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine_sim"])
         for r in brute_force_topk(emb, qids, k=10).collect()}
    b = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine_sim"])
         for r in brute_force_topk_arrow(emb, qids, k=10).collect()}
    assert set(a) == set(b)
    for kk in a:
        assert a[kk][0] == b[kk][0], f"ranking diverged at {kk}"
        assert abs(a[kk][1] - b[kk][1]) < 1e-12


# -- scale toolkit: bucketed joins, salting ----------------------------------


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from flusher_spark.operators.scale import bucketed_join, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        l = load_table(spark, SF, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        )
        write_bucketed(o, "b_orders", "o_orderkey", buckets=8)
        write_bucketed(l, "b_lineitem", "o_orderkey", buckets=8)
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        expected = o.join(l, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_equals_plain_join(spark):
    from flusher_spark.operators.scale import salted_join

    e = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    u = load_table(spark, SF, "events").groupBy("user_id").agg(F.count("*").alias("n_total"))
    plain = e.join(u, "user_id")
    salted = salted_join(e, u, "user_id", n_salt=5)
    assert salted.count() == plain.count()
    a = sorted(map(tuple, plain.select("user_id", "event_id", "n_total").collect()))
    b = sorted(map(tuple, salted.select("user_id", "event_id", "n_total").collect()))
    assert a == b


def test_salted_join_left_keeps_unmatched(spark):
    from flusher_spark.operators.scale import salted_join

    left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    right = spark.createDataFrame([(1, 100)], "k long, w long")
    rows = {r["k"]: r["w"] for r in salted_join(left, right, "k", n_salt=3, how="left").collect()}
    assert rows == {1: 100, 2: None}


def test_salted_join_spreads_hot_key(spark):
    from flusher_spark.operators.scale import salted_join

    hot = spark.range(0, 10000).select(F.lit(7).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(7, "x")], "k long, tag string")
    out = salted_join(hot, dim, "k", n_salt=8)
    assert out.count() == 10000
    # The physical join key must include the salt → hot key splits 8 ways.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_resize_updates_meta_and_payload(spark, assets):
    from flusher_spark.operators.multimodal import resize

    out = resize(assets, 64, 48).collect()
    assert len(out) == 50
    for r in out:
        assert r["meta"]["width"] == 64 and r["meta"]["height"] == 48
        assert len(r["payload"]) > 0
    # Deterministic: same input → same fake payload bytes.
    again = {r["asset_id"]: bytes(r["payload"]) for r in resize(assets, 64, 48).collect()}
    for r in out:
        assert bytes(r["payload"]) == again[r["asset_id"]]


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length >= k+w-1
    share at least one fingerprint; disjoint documents share none."""
    from flusher_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"AAAA {shared} BBBB"),
            (2, f"XXXXXXX {shared} YYYY"),
            (3, "completely unrelated content with different words entirely"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=7, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "docs sharing a long substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]), "disjoint docs should not collide"


def test_dedup_clusters_match_union_find(spark, docs):
    from flusher_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}

    # Oracle: plain union-find on the collected pairs.
    parent: dict = {}
    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    assert got == expected and expected, "cluster labels must equal union-find components"


def test_dedup_clusters_empty_pairs(spark):
    from flusher_spark.operators.dedup import dedup_clusters

    empty = spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")
    assert dedup_clusters(empty).count() == 0


def test_dedup_clusters_raises_on_nonconvergence(spark):
    """A chain longer than max_iter hops must RAISE (min-label propagation
    moves one hop per round; a silently split component keeps extra
    duplicate copies downstream). strict=False returns the partial labeling
    and reports converged=False via stats."""
    from flusher_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=3)

    stats: dict = {}
    partial = dedup_clusters(chain, max_iter=3, strict=False, stats=stats)
    assert stats == {"rounds": 3, "converged": False}
    assert partial.count() == 12  # every node still labeled, possibly split

    stats = {}
    full = dedup_clusters(chain, max_iter=20, stats=stats)
    assert stats["converged"] and stats["rounds"] <= 20
    labels = {r["cluster_id"] for r in full.collect()}
    assert labels == {1}  # one component, labeled by its minimum member


def test_exact_dedup_null_text_not_unified(spark):
    """NULL text is missing, not equal: two contentless docs must both
    survive with n_copies=1 (groupBy would otherwise unify NULL keys)."""
    from flusher_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "hi"), (4, "hi"), (5, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 5: 1}


def test_minhash_lsh_rejects_indivisible_bands(spark, docs):
    from flusher_spark.operators.dedup import minhash_lsh_pairs

    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_lsh_pairs(docs, num_perm=30, bands=8)
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_lsh_pairs(docs, num_perm=32, bands=40)


# -- deterministic sampling --------------------------------------------------


def test_hash_split_disjoint_exhaustive_stable(spark, docs):
    from flusher_spark.operators.sampling import hash_split

    train, test = hash_split(docs, "doc_id", test_pct=10)
    n, nt, ns = docs.count(), train.count(), test.count()
    assert nt + ns == n
    assert ns > 0 and nt > 0
    assert 0.03 < ns / n < 0.25, f"10% split badly off: {ns / n}"
    # Disjoint
    assert train.join(test, "doc_id", "inner").count() == 0
    # Append-stable: the same rows get the same membership when the input is
    # a subset (no dependence on partition layout or data volume).
    sub_train, sub_test = hash_split(docs.where(F.col("doc_id") < 100), "doc_id", test_pct=10)
    full_test_ids = {r["doc_id"] for r in test.collect()}
    assert {r["doc_id"] for r in sub_test.collect()} == {i for i in full_test_ids if i < 100}


def test_stratified_split_respects_per_stratum_pct(spark, docs):
    from flusher_spark.operators.sampling import stratified_hash_split

    train, test = stratified_hash_split(docs, "doc_id", "lang", {"zh": 50}, default_pct=10)
    # Disjoint + exhaustive
    assert train.count() + test.count() == docs.count()
    assert train.join(test, "doc_id").count() == 0
    rates = {
        r["lang"]: r["r"]
        for r in test.groupBy("lang").count()
        .join(docs.groupBy("lang").agg(F.count("*").alias("tot")), "lang")
        .select("lang", (F.col("count") / F.col("tot")).alias("r"))
        .collect()
    }
    assert rates["zh"] > 0.3, f"zh held-out rate too low: {rates}"
    for lang, r in rates.items():
        if lang != "zh":
            assert r < 0.25, f"{lang} held-out rate too high: {rates}"


def test_group_row_number_matches_window(spark):
    from flusher_spark.operators.ranking import with_group_row_number
    from pyspark.sql import Window

    o = load_table(spark, SF, "orders")
    got = with_group_row_number(
        o, ["o_orderstatus"], ["o_orderdate", "o_orderkey"], out="rn"
    )
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderdate", "o_orderkey")
    expected = o.withColumn("rn", F.row_number().over(w).cast("long"))
    a = {(r["o_orderkey"], r["rn"]) for r in got.select("o_orderkey", "rn").collect()}
    b = {(r["o_orderkey"], r["rn"]) for r in expected.select("o_orderkey", "rn").collect()}
    assert a == b


def test_group_row_number_totals_match_direct_count(spark):
    """r15: totals_out rides the ranking pass's per-(partition, group)
    count table instead of a second fact scan — the per-group totals must
    equal a direct groupBy count (including a NULL group), and the rank
    column must be unaffected by requesting them."""
    from flusher_spark.operators.ranking import with_group_row_number

    df = spark.createDataFrame(
        [("a", 3), ("a", 1), (None, 2), ("b", 5), ("a", 2), (None, 7)],
        "g string, v long",
    )
    tot: list = []
    ranked = with_group_row_number(df, ["g"], ["v"], out="rn", totals_out=tot)
    got = {r["g"]: r["n"] for r in tot[0].collect()}
    want = {r["g"]: r["count"] for r in df.groupBy("g").count().collect()}
    assert got == want == {"a": 3, None: 2, "b": 1}
    # and the ranks are the plain window answer
    ranks = {(r["g"], r["v"]): r["rn"] for r in ranked.collect()}
    assert ranks[("a", 1)] == 1 and ranks[("a", 3)] == 3 and ranks[(None, 7)] == 2


def test_ensure_parallelism_bytes_per_task_caps_fanout(spark, tmp_path):
    """r15: the light-codec cap — an under-split scan fans out to
    ceil(total bytes / bytes_per_task) partitions instead of the full core
    count, never below the scan's own split estimate, and uncapped
    callers keep the full defaultParallelism fan-out."""
    from flusher_spark.operators.dedup import _ensure_parallelism

    path = str(tmp_path / "one_file")
    spark.range(2000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    total = sum(
        __import__("os").stat(__import__("os").path.join(path, f)).st_size
        for f in __import__("os").listdir(path)
        if f.endswith(".parquet")
    )
    p = spark.sparkContext.defaultParallelism
    full = _ensure_parallelism(df)
    assert full.rdd.getNumPartitions() == p
    capped = _ensure_parallelism(df, bytes_per_task=max(1, total // 3))
    ncap = capped.rdd.getNumPartitions()
    assert 1 <= ncap <= 4, ncap  # ceil(total / (total//3)) in [3, 4]
    # a cap larger than the input never repartitions below the scan
    assert _ensure_parallelism(df, bytes_per_task=total * 10).rdd.getNumPartitions() \
        == df.rdd.getNumPartitions()


def test_group_row_number_plan_has_no_per_group_window(spark):
    from flusher_spark.operators.ranking import with_group_row_number

    o = load_table(spark, SF, "orders")
    df = with_group_row_number(o, ["o_orderstatus"], ["o_orderdate", "o_orderkey"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Every data-bearing window must include __pid in its partition spec —
    # a window keyed on the group alone would put one group per task.
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line and "__pid" not in line:
            if "__cnt" in line or "__offset" in line:
                continue
            raise AssertionError(f"window not partitioned by __pid: {line}")


# -- Z-order layout ----------------------------------------------------------


def test_zorder_layout_bounds_both_dimensions(spark):
    """The reason z-order exists: range-partition by the Morton key and
    EVERY dimension's per-partition span stays bounded, so per-file min/max
    stats prune filters on any column. A lexicographic sort serves only its
    leading column — its trailing-column spans cover ~the whole domain.
    Asserted quantitatively: mean per-partition span of the TRAILING
    dimension under z-order must be under half the lexicographic layout's."""
    from pyspark.sql import functions as F

    from flusher_spark.io.tables import load_table
    from flusher_spark.operators.scale import normalize_to_bits, zorder_key

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    c = e.select(
        "user_id", (F.col("value").cast("decimal(8,2)") * 100).cast("long").alias("cents")
    )
    bnd = c.agg(
        F.min("user_id").alias("umin"), F.max("user_id").alias("umax"),
        F.min("cents").alias("cmin"), F.max("cents").alias("cmax"),
    )
    n = c.crossJoin(F.broadcast(bnd)).select(
        "user_id", "cents",
        normalize_to_bits("user_id", F.col("umin"), F.col("umax"), 8).alias("u8"),
        normalize_to_bits("cents", F.col("cmin"), F.col("cmax"), 8).alias("c8"),
    )
    z = n.withColumn("zkey", zorder_key(["u8", "c8"], 8))

    def mean_trailing_span(df, order_col):
        parts = (
            df.repartitionByRange(16, F.col(order_col))
            .select("cents", F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .agg((F.max("cents") - F.min("cents")).alias("span"))
        )
        return parts.agg(F.avg("span")).first()[0]

    z_span = mean_trailing_span(z, "zkey")
    lex_span = mean_trailing_span(z, "user_id")  # leading=user_id, trailing=cents
    assert z_span < lex_span / 2, (z_span, lex_span)

    # Key exactness: interleave is invertible over the normalized grid.
    probe = n.select("u8", "c8", zorder_key(["u8", "c8"], 8).alias("zk")).limit(200).collect()
    for r in probe:
        u = sum(((r["zk"] >> (2 * b)) & 1) << b for b in range(8))
        cc = sum(((r["zk"] >> (2 * b + 1)) & 1) << b for b in range(8))
        assert (u, cc) == (r["u8"], r["c8"])


# -- BPE merge learning ------------------------------------------------------


def test_bpe_learn_merges_matches_reference(spark, docs):
    """The distributed count->argmax->merge loop must equal a pure-Python
    reference BPE exactly: same rules in the same order (counts included)
    and the same final corpus token count. Greedy non-overlap is the
    subtle part — 'x x x' under rule (x, x) must yield ['x x', 'x']."""
    from collections import Counter

    from flusher_spark.operators.text import bpe_learn_merges

    rules_df, corpus = bpe_learn_merges(docs, n_merges=3)
    got = [(r["step"], r["left"], r["right"], r["pair_count"]) for r in rules_df.collect()]

    py = [r["text"].lower().strip().split() for r in docs.select("text").collect()]

    def merge(seq, a, b):
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(f"{a} {b}")
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return out

    expected = []
    for step in range(1, 4):
        counts = Counter()
        for seq in py:
            for x, y in zip(seq, seq[1:]):
                counts[(x, y)] += 1
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, a, b, c))
        py = [merge(seq, a, b) for seq in py]
    assert got == expected
    assert corpus.select(F.sum(F.size("toks"))).first()[0] == sum(len(s) for s in py)


def test_bpe_merge_pair_greedy_non_overlap(spark):
    from flusher_spark.operators.text import bpe_merge_pair

    df = spark.createDataFrame(
        [(["x", "x", "x"],), (["a", "b", "a", "b"],), (["q"],), ([],)],
        "toks array<string>",
    )
    out = [r[0] for r in df.select(bpe_merge_pair(F.col("toks"), "x", "x", "x x")).collect()]
    assert out[0] == ["x x", "x"]
    out2 = [r[0] for r in df.select(bpe_merge_pair(F.col("toks"), "a", "b", "a b")).collect()]
    assert out2[1] == ["a b", "a b"]
    assert out2[2] == ["q"] and out2[3] == []


def test_bpe_encode_single_pass_matches_learn_corpus(spark, docs):
    """Composing the learned rules as chained folds in ONE projection must
    reproduce the learn loop's final corpus exactly (same merges, applied
    in rule order) — pinning the production tokenize pass against the
    training loop it derives from."""
    from flusher_spark.operators.text import bpe_learn_merges, bpe_merge_pair, tokens

    rules_df, corpus = bpe_learn_merges(docs, n_merges=3)
    enc = F.col("toks")
    for r in sorted(rules_df.collect(), key=lambda r: r["step"]):
        enc = bpe_merge_pair(enc, r["left"], r["right"], r["merged"])
    one_pass = docs.select(F.col("doc_id"), tokens(F.col("text")).alias("toks")).select(
        "doc_id", enc.alias("toks")
    )
    diff = (
        one_pass.alias("a")
        .join(corpus.alias("b"), "doc_id")
        .where(F.col("a.toks") != F.col("b.toks"))
        .count()
    )
    assert diff == 0
    assert one_pass.count() == corpus.count()


def test_spectral_features_dominant_bin(spark):
    """rfft argmax finds the synthesized bin exactly for integer-cycle
    tones; garbage payloads yield NULL features (drift contract)."""
    from flusher_spark.operators.multimodal import spectral_features, synth_sine_wav

    rows = [
        (1, synth_sine_wav(8000, 256, 3, 9000)),
        (2, synth_sine_wav(8000, 320, 7, 15000)),
        (3, b"not audio"),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {r["asset_id"]: r for r in spectral_features(df).collect()}
    assert got[1]["dominant_bin"] == 3 and got[1]["n_samples"] == 256
    assert abs(got[1]["dominant_freq_hz"] - 3 * 8000 / 256) < 1e-12
    assert got[2]["dominant_bin"] == 7
    assert got[3]["dominant_bin"] is None and got[3]["dominant_freq_hz"] is None


def test_media_container_parsers_roundtrip():
    """The AVI/MP3/JPEG container parsers must read back every synthesis
    parameter and reject corrupt structure loudly (sync loss, bad
    markers), never mis-parse silently."""
    from flusher_spark.operators.multimodal import (
        parse_avi_meta, parse_jpeg_meta, parse_mp3_meta,
        synth_avi, synth_jpeg, synth_mp3,
    )

    a = parse_avi_meta(synth_avi(640, 360, 40000, 250))
    assert (a["width"], a["height"], a["n_frames"], a["fps"], a["duration_s"]) == (
        640, 360, 250, 25.0, 10.0)
    m = parse_mp3_meta(synth_mp3(9, 1, 38))
    assert (m["n_frames"], m["bitrate_kbps"], m["sample_rate"]) == (38, 128, 48000)
    j = parse_jpeg_meta(synth_jpeg(1024, 768))
    assert (j["width"], j["height"], j["progressive"]) == (1024, 768, False)
    # corrupt sync mid-stream must raise, not silently truncate the count
    hdr2 = 144 * 128000 // 44100  # offset of the second frame header
    broken = bytearray(synth_mp3(9, 0, 3))
    broken[hdr2] = 0x00
    with pytest.raises(ValueError):
        parse_mp3_meta(bytes(broken))
    for bad, fn in ((b"nope", parse_avi_meta), (b"\x01", parse_mp3_meta), (b"zz", parse_jpeg_meta)):
        with pytest.raises(ValueError):
            fn(bad)


def test_jpeg_roundtrip_exact_gray_and_restarts():
    """Constant-gray baseline JPEGs (all-ones quant) must round-trip
    BIT-EXACTLY through the full encode→decode pipeline — including
    non-multiple-of-8 dims (edge-replicated padding then crop) and every
    restart-interval shape (0 = no DRI, 1 = RST after every MCU, 3 =
    multi-MCU segments with DC predictor resets)."""
    from flusher_spark.operators.multimodal import (
        decode_jpeg, parse_jpeg_meta, synth_jpeg_gray,
    )

    for (w, h, g, ri) in ((8, 8, 0, 0), (13, 7, 200, 0), (14, 11, 37, 1),
                          (3, 2, 255, 2), (16, 16, 128, 3)):
        d = decode_jpeg(synth_jpeg_gray(w, h, g, ri))
        assert (d["width"], d["height"], d["n_components"]) == (w, h, 1)
        assert (d["pixels"] == g).all(), (w, h, g, ri)
        assert d["mean_gray"] == float(g)
        # the routing-layer parser agrees on the frame header
        m = parse_jpeg_meta(synth_jpeg_gray(w, h, g, ri))
        assert (m["width"], m["height"], m["progressive"]) == (w, h, False)


def test_jpeg_color_and_lossy_paths():
    """4:4:4 color and real quant tables are lossy by construction: bound
    the error instead (coef rounding ±0.5 amplified ≤1.772 by the chroma
    inverse transform → ≤5 levels on random noise; block means track to
    <1 level). Corrupt entropy data must raise, not mis-decode."""
    import numpy as np
    import pytest as _pt

    from flusher_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(px))
    assert (d["width"], d["height"], d["n_components"]) == (17, 24, 3)
    assert np.abs(d["pixels"].astype(int) - px.astype(int)).max() <= 5
    qt = np.full(64, 16, dtype=int)
    qt[0] = 8
    g = rng.integers(0, 256, (19, 22), dtype=np.uint8)
    dg = decode_jpeg(encode_jpeg(g, quant=qt))
    assert abs(dg["pixels"].astype(float).mean() - g.mean()) < 2.0
    # truncated entropy stream: exhausts mid-block → ValueError
    whole = encode_jpeg(g)
    with _pt.raises(ValueError):
        decode_jpeg(whole[: len(whole) - (len(whole) - whole.index(b"\xff\xda")) // 2])
    # progressive SOF2 must be refused, not mis-decoded
    prog = bytearray(whole)
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with _pt.raises(ValueError):
        decode_jpeg(bytes(prog))


def test_mp3_truncated_final_frame_raises():
    """A final frame whose 4-byte header fits but whose payload is cut off
    must raise — counting it would overreport n_frames/duration on
    truncated uploads (the 'corrupt raises, never mis-counts' contract)."""
    from flusher_spark.operators.multimodal import parse_mp3_meta, synth_mp3

    whole = synth_mp3(9, 1, 3)
    frame_len = len(whole) // 3
    truncated = whole[: 2 * frame_len + 10]  # 3rd header present, payload cut
    with pytest.raises(ValueError, match="truncated frame"):
        parse_mp3_meta(truncated)
    assert parse_mp3_meta(whole[: 2 * frame_len])["n_frames"] == 2


def test_jpeg_standalone_markers_and_fill_bytes():
    """TEM (0x01) and RST0-7 (0xD0-D7) carry no length segment, and 0xFF
    fill bytes may pad between segments — the marker walk must skip both
    instead of misreading entropy bytes as a segment length; RST markers
    inside the entropy stream are content, not segment starts."""
    import struct

    from flusher_spark.operators.multimodal import parse_jpeg_meta

    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 77, 33) + b"\x01\x11\x00"
    )
    # fill byte, TEM, RST2 ahead of SOF0 — all must be stepped over
    pre = b"\xff\xd8" + b"\xff" + b"\xff\x01" + b"\xff\xd2"
    j = parse_jpeg_meta(pre + sof0 + b"\xff\xd9")
    assert (j["width"], j["height"]) == (33, 77)
    # SOS before SOF (unusual but legal marker soup for the walk): entropy
    # containing stuffed 0xFF00 and a restart marker must be scanned past
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    entropy = b"\x12\xff\x00\x34" + b"\xff\xd0" + b"\x56"
    j2 = parse_jpeg_meta(b"\xff\xd8" + sos + entropy + sof0 + b"\xff\xd9")
    assert (j2["width"], j2["height"]) == (33, 77)


def test_bitmap_distinct_integer_slotting_full_domain(spark):
    """The PRODUCTION slotting (plans/relational.py bitmap_distinct_words —
    the expression agg_bitmap_distinct aggregates) must be exact for
    negative ids and ids past 2^53 (where the old double-division
    formulation lost precision / fed shiftleft a negative count)."""
    import pyspark.sql.functions as F

    from flusher_spark.plans.relational import bitmap_distinct_words

    ids = [-129, -128, -65, -64, -63, -1, 0, 1, 63, 64,
           2**53 + 1, 2**53 + 2, 2**62, -(2**62) - 1]
    df = spark.createDataFrame([(i,) for i in ids + ids], "user_id long")
    words = bitmap_distinct_words(df, "user_id")
    n = words.agg(F.sum(F.bit_count("word")).alias("n")).collect()[0]["n"]
    assert n == len(set(ids))


def test_dynamic_gap_sessionize_matches_builtin_session_window(spark):
    """The relational dynamic-gap formulation (running-max reach + marker
    sum — the one with a full SQL oracle) must reproduce Spark's NATIVE
    session_window(ts, gap_col) sessions exactly: same session starts,
    same event counts per (user, session)."""
    import pyspark.sql.functions as F

    from flusher_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    ours = {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in registry()["events_sessionize_dynamic_gap"].fn(spark, sf).collect()
    }
    e = load_table(spark, sf, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("1 hour")).otherwise(
        F.lit("30 minutes")
    )
    native = (
        e.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.unix_micros("sw.start").alias("session_start_us"), "n_events"
        )
        .collect()
    )
    theirs = {(r["user_id"], r["session_start_us"]): r["n_events"] for r in native}
    assert theirs == ours


def test_histogram_rollup_percentile_equals_direct_nearest_rank(spark):
    """The merged-histogram quantiles must equal a direct nearest-rank
    computation over the raw rows (rollup layer loses nothing) — checked
    independently of the SQL oracle, which shares the rollup formulation."""
    import math

    import pyspark.sql.functions as F

    from flusher_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r for r in
           registry()["agg_histogram_rollup_percentile"].fn(spark, sf).collect()}
    raw = (
        load_table(spark, sf, "events")
        .select("event_type", (F.col("value").cast("decimal(8,2)") * 100).cast("long").alias("cv"))
        .collect()
    )
    by_type: dict = {}
    for r in raw:
        by_type.setdefault(r["event_type"], []).append(r["cv"])
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        assert got[et]["n_values"] == n
        assert got[et]["p50_cv"] == vals[math.ceil(n / 2) - 1]
        assert got[et]["p99_cv"] == vals[math.ceil(99 * n / 100) - 1]


def test_avi_raw_frame_decode_contracts():
    """Raw-DIB AVI frames must decode to the exact synthesized colors in
    order; compressed chunks ('00dc') and size-mismatched frames must
    raise, never mis-decode."""
    import struct

    import numpy as np

    from flusher_spark.operators.multimodal import decode_avi_frames, synth_avi_rawvideo

    colors = [(10, 20, 30), (200, 100, 0), (255, 255, 255)]
    b = synth_avi_rawvideo(7, 5, 40000, colors)
    d = decode_avi_frames(b)
    assert [tuple(fr[0, 0]) for fr in d["frames"]] == colors
    assert all(fr.shape == (5, 7, 3) for fr in d["frames"])
    # flipping a '00db' chunk id to '00dc' marks it compressed -> raise
    comp = b.replace(b"00db", b"00dc", 1)
    with pytest.raises(ValueError, match="ffmpeg"):
        decode_avi_frames(comp)
    # corrupting the strf compression field -> unsupported, loud
    i = b.index(b"strf") + 8 + 16
    bad = b[:i] + struct.pack("<I", 1) + b[i + 4:]
    with pytest.raises(ValueError):
        decode_avi_frames(bad)


def test_avi_multistream_audio_does_not_clobber_video():
    """A video+audio AVI: the audio strl's WAVEFORMATEX strf must NOT be
    parsed as BITMAPINFOHEADER (it would overwrite the video bpp/
    compression — the last-strf-wins bug), '01wb' audio chunks must not be
    collected as frames, and a compressed AUDIO chunk id must not trip the
    video ffmpeg gate."""
    import struct

    from flusher_spark.operators.multimodal import decode_avi_frames, synth_avi_rawvideo

    colors = [(10, 20, 30), (200, 100, 0)]
    base = synth_avi_rawvideo(7, 5, 40000, colors)

    # Splice an audio strl AFTER the video strl inside LIST hdrl, and an
    # audio '01wb' chunk into LIST movi. WAVEFORMATEX: wFormatTag=1 (PCM),
    # nChannels=1, nSamplesPerSec=8000, nAvgBytesPerSec=8000,
    # nBlockAlign=1, wBitsPerSample=8 — reading this as BITMAPINFOHEADER
    # yields nonsense bpp/compression, which is exactly the clobber case.
    strh_a = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 8000, 0, 8000, 1, 0, 0, 0, 0, 0, 0,
    )
    strf_a = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    strl_a = (
        b"strl"
        + b"strh" + struct.pack("<I", len(strh_a)) + strh_a
        + b"strf" + struct.pack("<I", len(strf_a)) + strf_a
    )
    strl_a_list = b"LIST" + struct.pack("<I", len(strl_a)) + strl_a

    def patch_list(buf: bytes, kind: bytes, addition: bytes) -> bytes:
        """Insert `addition` at the end of the LIST body of `kind`, fixing
        the LIST size and the outer RIFF size."""
        at = buf.index(kind) - 8  # LIST header start
        (size,) = struct.unpack_from("<I", buf, at + 4)
        end = at + 8 + size
        out = buf[:at + 4] + struct.pack("<I", size + len(addition)) + \
            buf[at + 8:end] + addition + buf[end:]
        (riff,) = struct.unpack_from("<I", out, 4)
        return out[:4] + struct.pack("<I", riff + len(addition)) + out[8:]

    audio_chunk = b"01wb" + struct.pack("<I", 4) + b"\x80\x80\x80\x80"
    multi = patch_list(patch_list(base, b"hdrl", strl_a_list), b"movi", audio_chunk)

    d = decode_avi_frames(multi)
    assert [tuple(fr[0, 0]) for fr in d["frames"]] == colors  # audio ignored

    # a compressed chunk on the AUDIO stream ('01dc') is not video: no raise
    noisy = patch_list(multi, b"movi", b"01dc" + struct.pack("<I", 2) + b"zz")
    assert len(decode_avi_frames(noisy)["frames"]) == len(colors)
    # ... but a compressed chunk on the VIDEO stream still gates loudly
    comp = multi.replace(b"00db", b"00dc", 1)
    with pytest.raises(ValueError, match="ffmpeg"):
        decode_avi_frames(comp)


def test_resize_images_real_roundtrip(spark):
    """resize_images must pick source pixels with the floor rule, re-encode
    a decodable PNG (digest deterministic), and handle gray + RGBA inputs
    via channel normalization."""
    import hashlib

    import numpy as np

    from flusher_spark.operators.multimodal import (
        decode_png, resize_images, synth_png_pixels,
    )

    # 8x1 gradient -> 4x1: floor rule picks columns 0,2,4,6
    src = np.stack([np.arange(0, 80, 10)] * 3, axis=1).astype(np.uint8)[None, :, :]
    df = spark.createDataFrame(
        [(1, bytearray(synth_png_pixels(src)))], "asset_id long, payload binary"
    )
    row = resize_images(df, out_w=4, out_h=1).collect()[0]
    assert (row["width"], row["height"]) == (4, 1)
    assert row["mean_r"] == (0 + 20 + 40 + 60) / 4
    # digest is deterministic and the re-encoded PNG is decodable
    again = resize_images(df, out_w=4, out_h=1).collect()[0]
    assert row["resized_sha256"] == again["resized_sha256"]
    # The re-encoded PNG bytes stay inside the UDF (only the digest is
    # emitted), so hex shape is all that's checkable here.
    assert len(row["resized_sha256"]) == 64
    # non-PNG payload -> NULL drift row
    bad = spark.createDataFrame([(2, bytearray(b"zz"))], "asset_id long, payload binary")
    assert resize_images(bad, 4, 1).collect()[0]["width"] is None


def test_interpolated_quantile_matches_builtin_percentile(spark):
    """The integer type-7 formulation must agree with Spark's float
    `percentile` (same Hyndman-Fan definition) to float tolerance."""
    import pyspark.sql.functions as F

    from flusher_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r for r in
           registry()["agg_exact_quantile_interpolated"].fn(spark, sf).collect()}
    ref = (
        load_table(spark, sf, "events")
        .select("event_type", (F.col("value").cast("decimal(8,2)") * 100).cast("long").alias("cv"))
        .groupBy("event_type")
        .agg(F.expr("percentile(cv, 0.25)").alias("p25"),
             F.expr("percentile(cv, 0.75)").alias("p75"))
        .collect()
    )
    for r in ref:
        g = got[r["event_type"]]
        assert abs(g["q25_cv_x4"] / 4.0 - r["p25"]) < 1e-6, r["event_type"]
        assert abs(g["q75_cv_x4"] / 4.0 - r["p75"]) < 1e-6, r["event_type"]


def test_triangle_stats_matches_brute_force(spark):
    """Degree-oriented triangle counting must match the O(n^3) brute force
    on adversarial shapes: a clique (max triangles), a hub star (max
    wedges, zero triangles — the case the degree orientation exists for),
    a bipartite graph (triangle-free), and a random graph."""
    import itertools
    import random

    from flusher_spark.operators.graph import triangle_stats

    rng = random.Random(13)
    cases = [
        [(a, b) for a in range(6) for b in range(a)],            # K6: 20 triangles
        [(0, i) for i in range(1, 30)],                           # star: 0 triangles
        [(i, 100 + j) for i in range(5) for j in range(5)],       # bipartite: 0
        list({(min(a, b), max(a, b)) for a, b in
              ((rng.randrange(40), rng.randrange(40)) for _ in range(150)) if a != b}),
    ]
    for edges in cases:
        got = triangle_stats(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()[0]
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        nodes = sorted(adj)
        tri = sum(
            1 for a, b, c in itertools.combinations(nodes, 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
        assert got["n_triangles"] == tri, edges[:5]
        assert got["n_wedges"] == wedges
        assert got["n_nodes"] == len(nodes)
        assert got["n_edges"] == len(edges)


def test_matryoshka_truncation_recall_trade(spark, emb):
    """16-of-64-dim prefix search must rank deterministically, agree with
    a python recomputation over the same prefix, and document the recall
    trade vs full width (i.i.d. fixture = worst case; recall must still
    beat random-10-of-N chance by a wide margin)."""
    import math

    import pyspark.sql.functions as F

    from flusher_spark.operators.similarity import brute_force_topk

    qids = [0, 1, 2, 3, 4]
    trunc = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    got = brute_force_topk(trunc, qids, k=10).collect()
    full = brute_force_topk(emb, qids, k=10).collect()

    vecs = {r["vec_id"]: list(r["embedding"])[:16] for r in emb.collect()}

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        return dot / (math.sqrt(sum(float(x) ** 2 for x in a))
                      * math.sqrt(sum(float(x) ** 2 for x in b)))

    for q in qids:
        want = sorted(
            ((cos(vecs[q], v), -i) for i, v in vecs.items() if i != q), reverse=True
        )[:10]
        want_ids = [-i for _, i in want]
        got_ids = [r["vec_id"] for r in sorted(
            (r for r in got if r["query_id"] == q), key=lambda r: r["rank"])]
        assert got_ids == want_ids, q

    n = len(vecs)
    hits = sum(
        len({r["vec_id"] for r in got if r["query_id"] == q}
            & {r["vec_id"] for r in full if r["query_id"] == q})
        for q in qids
    )
    recall = hits / (10 * len(qids))
    # random chance of a 10-set overlapping a fixed 10-set is ~10/n (<2%)
    assert recall > 5 * (10 / n), f"prefix recall {recall:.2f} no better than chance"


def test_decimate_wav_preserves_low_tones_and_aliases_high_ones():
    """Integer decimation must keep a below-new-Nyquist tone in the SAME
    bin (frequency preserved at half the rate), alias an above-Nyquist
    tone to n' - k (the fold), halve the sample count and rate exactly,
    and reject non-divisible rates."""
    import io
    import wave

    import numpy as np

    from flusher_spark.operators.multimodal import decimate_wav, synth_sine_wav

    def spectral(payload):
        with wave.open(io.BytesIO(payload), "rb") as w:
            sr, n = w.getframerate(), w.getnframes()
            raw = w.readframes(n)
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        mag = np.abs(np.fft.rfft(x))
        return sr, n, int(np.argmax(mag[1:])) + 1

    # low tone: k=5 of 256 samples -> after 2x decimation still bin 5 of 128
    low = decimate_wav(synth_sine_wav(8000, 256, 5, 12000), 2)
    sr, n, k = spectral(low)
    assert (sr, n, k) == (4000, 128, 5)

    # high tone: k=100 of 256 -> n'=128, new Nyquist 64 < 100 -> folds to
    # n' - k = 28
    high = decimate_wav(synth_sine_wav(8000, 256, 100, 12000), 2)
    sr, n, k = spectral(high)
    assert (sr, n, k) == (4000, 128, 128 - 100)

    import pytest as _pt
    with _pt.raises(ValueError, match="divisible"):
        decimate_wav(synth_sine_wav(8001, 256, 5, 12000), 2)


# -- substring dedup ---------------------------------------------------------


def test_substring_dup_spans_finds_planted_passage(spark):
    """A 12-token passage planted in two documents must surface as one
    maximal span per document (island of 12-8+1=5 anchor grams), at the
    right token offsets; unique text must produce no spans."""
    from flusher_spark.operators.dedup import substring_dup_spans

    passage = " ".join(f"shared{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma delta"),
            (2, passage + " epsilon zeta eta theta"),
            (3, " ".join(f"unique{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    spans = {r["doc_id"]: r for r in substring_dup_spans(docs, k=8).collect()}
    assert set(spans) == {1, 2}
    # doc 1: passage occupies tokens 2..13; doc 2: tokens 0..11
    assert (spans[1]["start_tok"], spans[1]["end_tok"], spans[1]["n_tok"]) == (2, 13, 12)
    assert (spans[2]["start_tok"], spans[2]["end_tok"], spans[2]["n_tok"]) == (0, 11, 12)


def test_substring_dup_spans_hashed_matches_exact_on_fixture(spark):
    """hash_grams=True (the 100 TB shuffle-compression path) must emit
    byte-identical spans to the raw-string-key path on the sf0.001
    documents fixture — real prose, ~thousands of distinct grams."""
    from flusher_spark.operators.dedup import substring_dup_spans

    docs = load_table(spark, SF, "documents")
    exact = sorted(map(tuple, substring_dup_spans(docs, k=8).collect()))
    hashed = sorted(map(tuple, substring_dup_spans(docs, k=8, hash_grams=True).collect()))
    assert exact and hashed == exact


def test_substring_gram_hash_collision_rate_is_zero_on_fixture(spark):
    """xxhash64 over the fixture's full distinct 8-gram population must be
    injective (distinct hashes == distinct grams): the 2^-64 per-pair
    collision bound the hashed entry's docstring claims is vacuous if the
    gram key were accidentally truncated or lossily cast somewhere."""
    from flusher_spark.operators.dedup import shingle_rows

    docs = load_table(spark, SF, "documents")
    grams = shingle_rows(docs, "text", "doc_id", 8).select("s").distinct()
    row = grams.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.xxhash64("s")).alias("nh"),
    ).collect()[0]
    assert row["n"] > 1000, "fixture should exercise a real gram population"
    assert row["nh"] == row["n"], f"hash collisions: {row['n'] - row['nh']}"


def test_remove_dup_spans_trims_only_flagged_tokens(spark):
    from flusher_spark.operators.dedup import remove_dup_spans, substring_dup_spans

    passage = " ".join(f"shared{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma"),
            (2, passage + " epsilon zeta"),
            (3, "totally unrelated text here"),
        ],
        "doc_id long, text string",
    )
    spans = substring_dup_spans(docs, k=8)
    out = {r["doc_id"]: r["text"] for r in remove_dup_spans(docs, spans).collect()}
    assert out[1] == "alpha beta gamma"
    assert out[2] == "epsilon zeta"
    assert out[3] == "totally unrelated text here"  # untouched via left join


def test_substring_dup_spans_merges_overlapping_passages(spark):
    """Two duplicated passages whose anchor runs start 2 positions apart
    (gap 2..k-1) cover OVERLAPPING token windows and must merge into ONE
    span, so sum(n_tok) equals the tokens actually removed (r9 review:
    consecutive-only islands emitted spans (0,7,8)+(2,9,8) here —
    n_removed 16 for 10 genuinely duplicated tokens)."""
    from flusher_spark.operators.dedup import remove_dup_spans, substring_dup_spans

    w = " ".join(f"w{i}" for i in range(10))          # w0..w9
    docs = spark.createDataFrame(
        [
            (1, w + " tail1 tail2"),                   # 12 tokens
            (2, " ".join(f"w{i}" for i in range(8))),  # w0..w7  → anchor pos 0 in doc 1
            (3, " ".join(f"w{i}" for i in range(2, 10))),  # w2..w9 → anchor pos 2
        ],
        "doc_id long, text string",
    )
    spans = substring_dup_spans(docs, k=8)
    doc1 = [r for r in spans.collect() if r["doc_id"] == 1]
    assert len(doc1) == 1, f"overlapping anchors must merge, got {doc1}"
    assert (doc1[0]["start_tok"], doc1[0]["end_tok"], doc1[0]["n_tok"]) == (0, 9, 10)
    masked = {r["doc_id"]: r["text"] for r in remove_dup_spans(docs, spans).collect()}
    assert masked[1] == "tail1 tail2"
    # interval arithmetic and re-tokenized length agree: 12 - 10 == 2
    assert doc1[0]["n_tok"] == 12 - len(masked[1].split())


def test_remove_dup_spans_preserves_original_casing(spark):
    """Surviving tokens keep their original text — casing and punctuation —
    not the lowercased tokenizer normalization (r9 review: the rebuild used
    tokens(), so untouched regions came back case-folded)."""
    from flusher_spark.operators.dedup import remove_dup_spans, substring_dup_spans

    passage = " ".join(f"shared{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "Alpha, Beta! " + passage + " GAMMA."),
            (2, passage + " epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    spans = substring_dup_spans(docs, k=8)
    out = {r["doc_id"]: r["text"] for r in remove_dup_spans(docs, spans).collect()}
    assert out[1] == "Alpha, Beta! GAMMA."
    assert out[2] == "epsilon zeta"


# -- skyline -------------------------------------------------------------------


def test_skyline_2d_matches_bruteforce(spark):
    """Bin-pruned parallel skyline == O(n^2) dominance scan, including
    duplicate pairs, equal-x and equal-y ties, and a single-value x domain
    (span 0 -> everything in one bin)."""
    import random

    from flusher_spark.operators.ranking import skyline_2d

    rng = random.Random(7)
    pts = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(300)]
    pts += pts[:20]  # exact duplicates must not self-dominate
    df = spark.createDataFrame(pts, "x long, y long")
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y", num_bins=8).collect())
    uniq = set(pts)
    brute = sorted(
        (x, y) for (x, y) in uniq
        if not any(
            ox <= x and oy >= y and (ox < x or oy > y) for (ox, oy) in uniq
        )
    )
    assert got == brute
    flat = spark.createDataFrame([(5, 1), (5, 9), (5, 9)], "x long, y long")
    assert [(r["x"], r["y"]) for r in skyline_2d(flat, "x", "y").collect()] == [(5, 9)]


# -- r9 review hardening ------------------------------------------------------


def test_hash_split_null_keys_land_in_exactly_one_split(spark):
    """A NULL key must not vanish from BOTH splits (md5(NULL) is NULL and a
    NULL bucket fails both filter predicates — r9 review): every row lands
    in exactly one side, and non-null keys keep their original buckets."""
    from flusher_spark.operators.sampling import hash_bucket, hash_split

    df = spark.createDataFrame(
        [(i,) for i in range(200)] + [(None,), (None,)], "k long"
    )
    train, test = hash_split(df, "k", test_pct=10)
    assert train.count() + test.count() == 202, "every row in exactly one split"
    # non-null buckets unchanged vs the direct md5 formula
    got = spark.createDataFrame([(7,)], "k long").select(
        hash_bucket(F.col("k")).alias("b")
    ).first()["b"]
    want = int("0x" + __import__("hashlib").md5(b"7").hexdigest()[:8], 16) % 100
    assert got == want


def test_arrow_topk_zero_norm_vector_never_ranks_first(spark):
    """A zero-norm embedding must score 0.0 (not NaN — Spark sorts NaN above
    every double, so a NaN made the garbage vector rank 1 for EVERY query;
    r9 review) and therefore ranks below genuinely similar candidates."""
    from flusher_spark.operators.similarity import brute_force_topk_arrow

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero-norm garbage
        (4, [0.8, 0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = brute_force_topk_arrow(df, [1], k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in got][:2] == [2, 4]
    zero = [r for r in got if r["vec_id"] == 3]
    assert zero and zero[0]["cosine_sim"] == 0.0, "zero-norm scores 0.0, never NaN"


def test_lsh_topk_rejects_dim_mismatch(spark):
    """dim != actual vector length must raise up front: silently it zeroes
    every signature and the per-bucket equi-join becomes all-pairs."""
    import pytest as _pt

    from flusher_spark.operators.similarity import lsh_topk

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.0, 1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with _pt.raises(ValueError, match="dimension|elements"):
        lsh_topk(df, [1], dim=64)


def test_pagerank_empty_edges_returns_empty(spark):
    from flusher_spark.operators.graph import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    out = pagerank(df, n_iter=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_ivf_topk_string_ids(spark):
    """The IVF path must accept string id columns like the brute-force and
    LSH paths do (centroid ids are seeding ranks, not sampled row ids)."""
    import random as _r

    from flusher_spark.operators.similarity import ivf_topk

    rng = _r.Random(3)
    rows = [(f"doc-{i}", [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = ivf_topk(df, ["doc-1", "doc-2"], k=5, n_lists=4, n_probe=2, n_iter=1).collect()
    assert got, "string-id IVF search returns results"
    assert all(isinstance(r["query_id"], str) for r in got)


def test_range_join_left_outer_keeps_unmatched_points(spark):
    """how='left' must null-extend points no interval contains — the old
    post-join predicate silently returned inner results (r9 review)."""
    import datetime as dt

    from flusher_spark.operators.rangejoin import range_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=5)), (2, base + dt.timedelta(hours=9))],
        "lid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, base, base + dt.timedelta(minutes=10))],
        "rid long, s timestamp, e timestamp",
    )
    got = {r["lid"]: r["rid"] for r in range_join(
        left, right, "ts", "s", "e", bin_width="10 minutes", how="left"
    ).collect()}
    assert got == {1: 100, 2: None}


def test_range_join_rejects_malformed_width(spark):
    import pytest as _pt

    from flusher_spark.operators.rangejoin import _width_seconds

    assert _width_seconds("1 hour 30 minutes") == 5400
    with _pt.raises(ValueError, match="cannot parse"):
        _width_seconds("1.5 hours")  # previously misparsed as 5 hours


def test_fuzzy_join_ed1_same_column_name_self_match(spark):
    """left_col == right_col (natural for self-matching) must work via the
    collision rename — previously AMBIGUOUS_REFERENCE (r9 review)."""
    from flusher_spark.operators.text import fuzzy_join_ed1

    a = spark.createDataFrame([("hello",), ("world",)], "name string")
    b = spark.createDataFrame([("helo",), ("sparkle",)], "name string")
    got = {(r["name"], r["name_right"]) for r in fuzzy_join_ed1(a, b, "name", "name").collect()}
    assert got == {("hello", "helo")}


def test_fuzzy_join_ed1_rename_avoids_existing_suffix_column(spark):
    """A right frame already holding '<col><suffix>' must not end up with
    two identically-named columns after the collision rename."""
    from flusher_spark.operators.text import fuzzy_join_ed1

    a = spark.createDataFrame([("hello",)], "name string")
    b = spark.createDataFrame([("helo", "tag")], "name string, name_right string")
    rows = fuzzy_join_ed1(a, b, "name", "name").collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["name"] == "hello" and "tag" in r.values()
    # The renamed join column is present exactly once under a fresh name.
    assert sorted(rows[0].asDict()) == ["name", "name_right", "name_right_right"]


def test_deletion_variants_quotes_awkward_column_names(spark):
    """Column names that aren't bare SQL identifiers (spaces, reserved
    words) must work — the expr fragment backtick-quotes them."""
    from flusher_spark.operators.text import deletion_variants

    df = spark.createDataFrame([("ab",)], "`part name` string")
    got = {r["__variant"] for r in deletion_variants(df, "part name").collect()}
    assert got == {"ab", "b", "a"}
    df2 = spark.createDataFrame([("ab",)], "`order` string")
    got2 = {r["__variant"] for r in deletion_variants(df2, "order").collect()}
    assert got2 == {"ab", "b", "a"}


def test_salted_join_tolerates_map_columns(spark):
    """A map-typed payload column must not break the salt hash (F.hash
    rejects MapType at analysis time — r9 review)."""
    from flusher_spark.operators.scale import salted_join

    left = spark.createDataFrame(
        [(1, {"a": "b"}), (1, {"c": "d"}), (2, {"e": "f"})],
        "k long, props map<string,string>",
    )
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    got = sorted((r["k"], r["v"]) for r in salted_join(left, right, "k").collect())
    assert got == [(1, "x"), (1, "x"), (2, "y")]


def test_salted_join_tolerates_nested_map_columns(spark):
    """Maps nested inside arrays/structs also break F.hash — the exclusion
    must cover any nesting depth, not just top-level map dtypes."""
    from flusher_spark.operators.scale import salted_join

    left = spark.createDataFrame(
        [(1, [{"a": "b"}]), (2, [{"c": "d"}])],
        "k long, tags array<map<string,string>>",
    )
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    got = sorted((r["k"], r["v"]) for r in salted_join(left, right, "k").collect())
    assert got == [(1, "x"), (2, "y")]


def test_write_bucketed_catalog_qualified_rerun(spark, tmp_path):
    """Catalog-qualified names (spark_catalog.default.tbl) must clean the
    same orphan location as the bare spelling — only the last two parts
    name the directory, and default-db tables live at the warehouse root."""
    from flusher_spark.operators.scale import write_bucketed

    df = spark.range(10).withColumnRenamed("id", "k")
    write_bucketed(df, "spark_catalog.default.CatQualBucketed", "k", buckets=2)
    write_bucketed(df, "spark_catalog.default.CatQualBucketed", "k", buckets=2)
    write_bucketed(df, "CatQualBucketed", "k", buckets=2)  # same table, bare name
    assert spark.table("CatQualBucketed").count() == 10
    spark.sql("DROP TABLE IF EXISTS CatQualBucketed")


def test_write_bucketed_mixed_case_rerun(spark, tmp_path):
    """A mixed-case table name must survive back-to-back writes: the orphan
    cleanup previously targeted the raw-cased path, missing the lowercased
    managed location (r9 review)."""
    from flusher_spark.operators.scale import write_bucketed

    df = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_bucketed(df, "MixedCaseBucketed", "k", buckets=4)
    write_bucketed(df, "MixedCaseBucketed", "k", buckets=4)  # must not raise
    assert spark.table("MixedCaseBucketed").count() == 50
    spark.sql("DROP TABLE IF EXISTS MixedCaseBucketed")


def test_ppm_decoder_bounded_and_comment_tolerant():
    """Truncated headers must RAISE (the unbounded token scan previously
    spun forever — a hang pins an executor core where a raise is a NULL
    drift row), and spec-valid '#' comments must parse (GIMP emits them)."""
    import pytest as _pt

    from flusher_spark.operators.multimodal import decode_ppm

    for bad in (b"P6", b"P6\n5", b"P6\n3 2", b"P6\n3 2\n255"):
        with _pt.raises(ValueError):
            decode_ppm(bad)
    d = decode_ppm(b"P6\n# Created by GIMP\n2 1\n# another comment\n255\n" + bytes(6))
    assert (d["width"], d["height"], d["mean_r"]) == (2, 1, 0.0)


def test_spectral_features_truncated_wav_is_drift(spark):
    """A WAV whose header claims more frames than the data chunk holds must
    yield the NULL drift row — previously it reported a confidently wrong
    dominant frequency computed against the header count (r9 review)."""
    from flusher_spark.operators.multimodal import spectral_features, synth_wav

    good = synth_wav(8000, 256, 1000)
    truncated = good[:-256]  # drop half the data chunk
    df = spark.createDataFrame(
        [(1, good), (2, truncated)], "asset_id long, payload binary"
    )
    rows = {r["asset_id"]: r for r in spectral_features(df).collect()}
    assert rows[1]["n_samples"] == 256
    assert rows[2]["n_samples"] is None and rows[2]["dominant_freq_hz"] is None


def test_media_features_null_payload_yields_null_rows(spark):
    """payload is nullable in ASSET_SCHEMA: a NULL payload must produce NULL
    feature rows, not a task-killing TypeError (r9 review: bytes(None) ran
    outside the try in media_meta_features; extract_features mapped len
    over None)."""
    from flusher_spark.operators.multimodal import (
        extract_features,
        media_meta_features,
        synth_wav,
    )

    df = spark.createDataFrame(
        [(1, "audio", synth_wav(8000, 16, 5), None), (2, "audio", None, None)],
        "asset_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    meta = {r["asset_id"]: r for r in media_meta_features(df).collect()}
    assert meta[2]["kind"] is None  # NULL drift row, task alive
    feats = {r["asset_id"]: r for r in extract_features(df, fake=True, dim=4).collect()}
    assert feats[2]["n_bytes"] is None and feats[2]["sha256"] is None
    assert feats[1]["n_bytes"] == len(synth_wav(8000, 16, 5))


def test_interval_coverage_matches_bruteforce_union(spark):
    """events_interval_coverage vs an independent brute-force interval
    union (sorted sweep per user in plain Python) at sf0.001 — the oracle
    SQL mirrors the windowed algorithm, so this is the check that the
    ALGORITHM computes true union lengths, including the tied-start edge
    (the island-numbering window must walk the exact order the flags were
    computed in)."""
    from flusher_spark.plans.relational import events_interval_coverage

    got = {
        r["user_id"]: (r["n_events"], r["n_islands"], r["covered_us"])
        for r in events_interval_coverage(spark, SF).collect()
    }

    e = load_table(spark, SF, "events").select("user_id", "event_id", "ts", "value")
    rows = e.collect()
    by_user: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        start = int(r["ts"].timestamp() * 1_000_000)
        # exact cents like the entry: value carries 2 decimals
        cents = round(float(r["value"]) * 100)
        by_user.setdefault(r["user_id"], []).append((start, start + cents * 1_000_000))
    for uid, ivs in by_user.items():
        ivs.sort()
        islands = 0
        covered = 0
        cur_start = cur_end = None
        for s, t in ivs:
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                islands += 1
                cur_start, cur_end = s, t
            else:
                cur_end = max(cur_end, t)
        covered += cur_end - cur_start
        assert got[uid] == (len(ivs), islands, covered), f"user {uid}"
    assert set(got) == set(by_user)


def test_interval_coverage_tied_starts_direct(spark):
    """Directly pin the tied-start island splice: two intervals sharing a
    start where one closes early must still merge into ONE island with the
    longer reach, and a later disjoint interval opens a new island. The
    pre-fix formulation (island sum ordered by (start, end)) spliced the
    short tied interval into the PREVIOUS island and double-counted."""
    import datetime

    import flusher_spark.plans.relational as R

    def mk(eid, start_s, dur_cents):
        return (
            eid,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=start_s),
            1,
            "view",
            dur_cents / 100.0,
            None,
        )

    events = spark.createDataFrame(
        [mk(1, 0, 5), mk(2, 10, 1000), mk(3, 10, 5), mk(4, 100000, 7)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = R.load_table
    R.load_table = lambda _s, _d, _t: events
    try:
        out = {r["user_id"]: r for r in R.events_interval_coverage(spark, SF).collect()}
    finally:
        R.load_table = orig
    r = out[1]
    # islands: {[0,5]}, {[10,1010] ∪ [10,15]}, {[100000,100007]} → 3
    # islands, covered = 5s + 1000s + 7s in µs (durations are value-cents
    # SECONDS: value 10.00 → 1000 s)
    assert r["n_events"] == 4
    assert r["n_islands"] == 3
    assert r["covered_us"] == (5 + 1000 + 7) * 1_000_000


def test_asof_nearest_rejects_non_temporal_ts_columns(spark):
    """A string-typed timestamp column must fail with a clear ValueError at
    call time, not an opaque DATATYPE_MISMATCH when the forward key negates
    it deep in the plan; mixed timestamp-vs-numeric sides likewise."""
    from flusher_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([(1, "2024-01-01")], "k long, ts string")
    right = spark.createDataFrame([(1, "2024-01-01", 5)], "k long, ts string, v long")
    with pytest.raises(ValueError, match="expected timestamp"):
        asof_join_nearest(left, right, ["k"], "ts", "ts", tolerance_us=10)

    # INTERVAL dtypes start with "int" — a prefix-based numeric test would
    # wave them through to the opaque analysis error the guard exists to
    # prevent (r10 review).
    iv = spark.sql(
        "SELECT CAST(1 AS LONG) k, INTERVAL '1' DAY AS ts"
    )
    with pytest.raises(ValueError, match="expected timestamp"):
        asof_join_nearest(iv, iv.withColumn("v", F.lit(5)), ["k"], "ts", "ts",
                          tolerance_us=10)

    # timestamp vs timestamp_ntz both pass a flavor-blind "is timestamp"
    # check but cannot be unioned into one column — must fail up front.
    lntz = spark.sql("SELECT CAST(1 AS LONG) k, TIMESTAMP_NTZ '2024-01-01' ts")
    rts2 = spark.sql(
        "SELECT CAST(1 AS LONG) k, TIMESTAMP '2024-01-01' ts, 5 v"
    )
    with pytest.raises(ValueError, match="disagree"):
        asof_join_nearest(lntz, rts2, ["k"], "ts", "ts", tolerance_us=10)

    lnum = spark.createDataFrame([(1, 100)], "k long, ts long")
    rts = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1), 5)],
        "k long, ts timestamp, v long",
    )
    with pytest.raises(ValueError, match="disagree"):
        asof_join_nearest(lnum, rts, ["k"], "ts", "ts", tolerance_us=10)


def test_asof_nearest_timestamp_ntz_both_sides(spark):
    """TIMESTAMP_NTZ on both sides is a supported flavor: distances come
    from a wall-clock microsecond diff (no session-timezone round trip),
    so nearest-selection matches the plain-timestamp semantics exactly."""
    from flusher_spark.operators.asof import asof_join_nearest

    left = spark.sql(
        "SELECT * FROM VALUES "
        "(1, TIMESTAMP_NTZ '2024-01-01 00:00:10'),"
        "(1, TIMESTAMP_NTZ '2024-01-01 00:10:00') t(k, ts)"
    )
    right = spark.sql(
        "SELECT * FROM VALUES "
        "(1, TIMESTAMP_NTZ '2024-01-01 00:00:07', 'a'),"
        "(1, TIMESTAMP_NTZ '2024-01-01 00:00:12', 'b'),"
        "(1, TIMESTAMP_NTZ '2024-01-01 00:09:00', 'c') t(k, ts, v)"
    )
    out = asof_join_nearest(
        left, right, ["k"], "ts", "ts", tolerance_us=5 * 60 * 1_000_000
    )
    got = {r["ts"].isoformat(): r["v_right"] for r in out.collect()}
    # 00:00:10 is 3s from 'a' and 2s from 'b' -> b; 00:10:00 is 60s from 'c'
    assert got == {"2024-01-01T00:00:10": "b", "2024-01-01T00:10:00": "c"}


def test_label_propagation_matches_python_reference(spark):
    """Deterministic sync LPA == an independent pure-Python simulation of
    the same definition (neighbor-label majority, ties to smallest label,
    k synchronous rounds), on a graph with real tie/oscillation structure:
    two triangles joined by a bridge plus an isolated edge."""
    from flusher_spark.operators.graph import label_propagation

    edge_list = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4), (8, 9)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    def reference(pairs, iters):
        from collections import Counter, defaultdict

        adj = defaultdict(set)
        for s, d in pairs:
            if s != d:
                adj[s].add(d)
                adj[d].add(s)
        lab = {n: n for n in adj}
        for _ in range(iters):
            nxt = {}
            for n in adj:
                cnt = Counter(lab[m] for m in adj[n])
                best = max(cnt.values())
                nxt[n] = min(l for l, c in cnt.items() if c == best)
            lab = nxt
        return lab

    for iters in (1, 2, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(edges, iters=iters).collect()
        }
        assert got == reference(edge_list, iters), f"iters={iters}"

    # partitioning-independence: same labels under a different layout
    got_repart = {
        r["node"]: r["label"]
        for r in label_propagation(edges.repartition(7), iters=3).collect()
    }
    assert got_repart == reference(edge_list, 3)


def test_cusum_changepoint_locates_injected_level_shift(spark):
    """A clean level shift (10 values at 1.00, then 10 at 9.00) must put
    the |CUSUM| peak exactly at the last pre-shift row (i=10), and the
    scaled peak must equal the hand-computed n*P_i - i*S."""
    import datetime as dt

    from flusher_spark.plans.catalog import registry
    import flusher_spark.plans.relational as R

    rows = []
    for i in range(20):
        val = 1.00 if i < 10 else 9.00
        rows.append(
            (i, dt.datetime(2024, 1, 1, 0, 0, i), 1, "shift", val, "{}")
        )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = registry()["events_cusum_changepoint"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 20
    assert r["cp_index"] == 10
    # y cents: 100*10 + 900*10 -> S=10000; P_10=1000; C = 20*1000 - 10*10000
    assert r["cusum_peak"] == float(20 * 1000 - 10 * 10000)


def test_degenerate_groups_emit_null_not_divide_by_zero(spark):
    """Groups that zero a variance/regression denominator must emit NULL
    (the DuckDB oracles' x/0) — under this repo's ANSI sessions the old
    bare divisions RAISED DIVIDE_BY_ZERO and killed the whole job, and the
    grouped-map UDF raised Python ZeroDivisionError (r12 review). Covers:
    events_trend_grouped_map + events_linreg_per_type (single-event type /
    all events in one hour), agg_corr_exact + agg_variance_manual
    (constant-value / singleton lineitem group)."""
    import datetime as dt
    import os
    import tempfile

    from flusher_spark.plans.catalog import registry

    reg = registry()
    events = spark.createDataFrame(
        [
            # type 'solo': ONE event -> trend den=0, linreg den=0
            (0, dt.datetime(2024, 1, 1, 12, 0, 0), 1, "solo", 5.0, "{}"),
            # type 'hour': many events, all in one hour bucket AND one
            # timestamp -> linreg den=0, trend den=0
            (1, dt.datetime(2024, 1, 2, 3, 4, 5), 1, "hour", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 2, 3, 4, 5), 2, "hour", 2.0, "{}"),
            # type 'ok': a healthy group as the control
            (3, dt.datetime(2024, 1, 3, 1, 0, 0), 1, "ok", 1.0, "{}"),
            (4, dt.datetime(2024, 1, 3, 5, 0, 0), 1, "ok", 3.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    lineitem = spark.createDataFrame(
        [
            # flag 'C': constant quantity -> corr dx=0; singleton 'S' ->
            # variance n-1=0
            ("C", 5.0, 10.0), ("C", 5.0, 20.0),
            ("S", 7.0, 30.0),
            ("O", 1.0, 10.0), ("O", 2.0, 30.0),
        ],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    with tempfile.TemporaryDirectory() as d:
        events.write.parquet(os.path.join(d, "events.parquet"))
        lineitem.write.parquet(os.path.join(d, "lineitem.parquet"))
        trend = {r["event_type"]: r for r in reg["events_trend_grouped_map"].fn(spark, d).collect()}
        lin = {r["event_type"]: r for r in reg["events_linreg_per_type"].fn(spark, d).collect()}
        corr = {r["l_returnflag"]: r for r in reg["agg_corr_exact"].fn(spark, d).collect()}
        var = {r["l_returnflag"]: r for r in reg["agg_variance_manual"].fn(spark, d).collect()}
    assert trend["solo"]["slope"] is None and trend["hour"]["slope"] is None
    assert trend["ok"]["slope"] is not None
    assert lin["solo"]["slope_cents_per_hour"] is None
    assert lin["hour"]["slope_cents_per_hour"] is None
    assert lin["ok"]["slope_cents_per_hour"] is not None
    assert corr["C"]["corr_qty_price"] is None
    assert corr["O"]["corr_qty_price"] is not None
    assert var["S"]["var_qty"] is None and var["S"]["mean_qty"] is not None
    assert var["O"]["var_qty"] is not None


def test_l_diversity_flags(spark):
    """l_ok iff >=5 distinct users; c_ok iff the busiest user holds at most
    half the cell's rows."""
    import datetime as dt
    import os
    import tempfile

    from flusher_spark.plans.catalog import registry

    rows = []
    eid = 0
    # cell A: 6 users, 1 row each -> l_ok, c_ok
    for u in range(6):
        rows.append((eid, dt.datetime(2024, 1, 1, 12), u, "a", 1.0, "{}")); eid += 1
    # cell B: 2 users, one holding 5 of 6 rows -> not l_ok, not c_ok
    for _ in range(5):
        rows.append((eid, dt.datetime(2024, 1, 2, 12), 1, "b", 1.0, "{}")); eid += 1
    rows.append((eid, dt.datetime(2024, 1, 2, 12), 2, "b", 1.0, "{}")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            (r["event_type"], r["day"]): r
            for r in registry()["events_l_diversity"].fn(spark, d).collect()
        }
    a = out[("a", "2024-01-01")]
    assert (a["n_rows"], a["n_users"], a["max_user_rows"]) == (6, 6, 1)
    assert a["l_ok"] and a["c_ok"]
    b = out[("b", "2024-01-02")]
    assert (b["n_rows"], b["n_users"], b["max_user_rows"]) == (6, 2, 5)
    assert not b["l_ok"] and not b["c_ok"]


def test_mmr_rerank_greedy_contract(spark):
    """Each MMR pick maximizes lam*rel - (1-lam)*max_sim_to_selected over
    the remaining pool (checked against this test's own numpy scoring),
    the first pick is the relevance argmax, and picks never repeat."""
    import numpy as np

    from flusher_spark.io.tables import load_table
    from flusher_spark.operators.similarity import mmr_rerank

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    lam, k, pool = 0.7, 10, 50
    out = mmr_rerank(emb, (0, 1, 2), k=k, pool=pool, lam=lam).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def unit(v):
        n = np.linalg.norm(v)
        return v / n if n > 0 else v

    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["mmr_rank"])
        assert [r["mmr_rank"] for r in rows] == list(range(1, k + 1))
        picked = [r["vec_id"] for r in rows]
        assert len(set(picked)) == k
        # candidate pool = exact top-50 by relevance; rebuild from output rel
        # is not possible, so recompute pool from scratch:
        q = unit(vecs[qid])
        rel = {
            vid: float(np.dot(unit(v), q))
            for vid, v in vecs.items()
            if vid != qid
        }
        # Rank-cutoff and argmax comparisons cross two cosine
        # implementations (operator fold-left vs this test's numpy), so
        # near-ties at the pool boundary / top slot could order oppositely
        # under exact equality — use a small slack instead (fixtures
        # regenerate every round; keep this robust).
        pool_slack = sorted(rel, key=lambda i: (-rel[i], i))[: pool + 5]
        assert set(picked) <= set(pool_slack)
        top_rel = max(rel[i] for i in pool_slack)
        assert rel[rows[0]["vec_id"]] >= top_rel - 1e-9
        pool_ids = pool_slack[:pool]
        sel = []
        for r in rows:
            remaining = [i for i in pool_ids if i not in sel]
            if sel:
                def score(i):
                    ms = max(float(np.dot(unit(vecs[i]), unit(vecs[s]))) for s in sel)
                    return lam * rel[i] - (1 - lam) * ms
            else:
                def score(i):
                    return rel[i]
            best = max(score(i) for i in remaining)
            assert score(r["vec_id"]) >= best - 1e-9, (qid, r["mmr_rank"])
            sel.append(r["vec_id"])


def test_mmr_rerank_zero_norm_candidate_excluded(spark):
    """A zero-norm candidate's NULL cosine relevance must not reach the
    pandas pool (NaN relevance would win np.argmax and take rank 1)."""
    from flusher_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero norm -> NULL cosine vs any query
        (3, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_rerank(df, (0,), k=4, pool=4, lam=0.7).collect()
    picked = [r["vec_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
    assert 2 not in picked
    assert picked[0] == 1  # highest real cosine to the query


def test_multimodal_r11_review_fixes():
    """Round-11 review regressions: corrupt/variant payloads that previously
    decoded to confidently wrong non-NULL rows (or the wrong exception type)
    must now raise ValueError / decode correctly."""
    import struct

    import numpy as np
    import pytest as _pytest

    from flusher_spark.operators.multimodal import (
        decimate_wav,
        decode_avi_frames,
        decode_bmp,
        decode_jpeg,
        decode_tiff,
        parse_jpeg_meta,
        parse_mp3_meta,
        synth_avi_rawvideo,
        synth_bmp,
        synth_mp3,
        synth_tiff,
        synth_wav,
    )

    # (1) planar TIFF (tag 284 = 2) must raise, not decode scrambled means.
    chunky = synth_tiff(4, 3, (100, 150, 200))
    decode_tiff(chunky)  # sanity: chunky still decodes
    # Overwrite the decoder-ignored RowsPerStrip entry (tag 278) IN PLACE
    # with PlanarConfiguration=2 — inserting an entry would shift every
    # out-of-line IFD offset and corrupt the file for the wrong reason.
    e = "<" if chunky[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(e + "I", chunky, 4)
    (n_entries,) = struct.unpack_from(e + "H", chunky, ifd_off)
    planar = bytearray(chunky)
    for i in range(n_entries):
        base = ifd_off + 2 + i * 12
        (tag,) = struct.unpack_from(e + "H", chunky, base)
        if tag == 278:
            planar[base : base + 12] = struct.pack(e + "HHIHH", 284, 3, 1, 2, 0)
            break
    else:
        raise AssertionError("synth_tiff no longer emits tag 278")
    with _pytest.raises(ValueError, match="PlanarConfiguration"):
        decode_tiff(bytes(planar))

    # (2) truncated WAV must raise in decimate_wav, not re-encode shorter.
    wav = synth_wav(8000, 100, 1000)
    with _pytest.raises(Exception):
        decimate_wav(wav[:-40], 2)
    decimate_wav(wav, 2)  # intact payload still decimates

    # (5) negative-width BMP must raise, not emit a garbage feature row.
    bmp = bytearray(synth_bmp(4, 2, (1, 2, 3)))
    struct.pack_into("<i", bmp, 18, -4)
    with _pytest.raises(ValueError, match="invalid BMP dimensions"):
        decode_bmp(bytes(bmp))

    # (6) MP3 with 1-3 trailing garbage bytes must raise like 4+ bytes do.
    mp3 = synth_mp3(9, 0, 3)
    with _pytest.raises(ValueError, match="trailing garbage"):
        parse_mp3_meta(mp3 + b"\xde\xad")
    assert parse_mp3_meta(mp3)["n_frames"] == 3

    # (7) payload ending in a 0xFF fill run: ValueError, never IndexError.
    with _pytest.raises(ValueError):
        parse_jpeg_meta(b"\xff\xd8\xff\xff")
    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xff")

    # (3) frames wrapped in 'LIST rec ' decode in order, not silently empty.
    avi = synth_avi_rawvideo(3, 2, 40000, [(10, 20, 30), (40, 50, 60)])
    # Walk TOP-LEVEL RIFF chunks to the movi LIST (a bare .index() would land
    # on the strl LIST nested inside hdrl).
    movi_at = 12
    while True:
        (tsize,) = struct.unpack_from("<I", avi, movi_at + 4)
        if avi[movi_at : movi_at + 4] == b"LIST" and avi[movi_at + 8 : movi_at + 12] == b"movi":
            break
        movi_at += 8 + tsize + (tsize % 2)
    # Rebuild: wrap the first frame chunk in a rec list, keep the second bare.
    (movi_size,) = struct.unpack_from("<I", avi, movi_at + 4)
    movi_body = avi[movi_at + 8 : movi_at + 8 + movi_size]
    assert movi_body[:4] == b"movi"
    chunks = []
    p = 4
    while p + 8 <= len(movi_body):
        (csz,) = struct.unpack_from("<I", movi_body, p + 4)
        chunks.append(movi_body[p : p + 8 + csz + (csz % 2)])
        p += 8 + csz + (csz % 2)
    rec_body = b"rec " + chunks[0]
    wrapped = (
        b"movi" + b"LIST" + struct.pack("<I", len(rec_body)) + rec_body + chunks[1]
    )
    new_movi = b"LIST" + struct.pack("<I", len(wrapped)) + wrapped
    rebuilt = bytearray(avi[:movi_at] + new_movi)
    struct.pack_into("<I", rebuilt, 4, len(rebuilt) - 8)  # fix RIFF size
    d = decode_avi_frames(bytes(rebuilt))
    assert len(d["frames"]) == 2
    # Order preserved: first frame is the rec-wrapped one.
    assert tuple(d["frames"][0][0, 0]) == (10, 20, 30)
    assert tuple(d["frames"][1][0, 0]) == (40, 50, 60)

    # (4) top-down DIB (negative biHeight in strf): rows NOT flipped.
    avi2 = bytearray(synth_avi_rawvideo(3, 2, 40000, [(0, 0, 0)]))
    # Build a two-row gradient frame: row0 = 100s, row1 = 200s (BGR equal).
    stride = (3 * 3 + 3) & ~3
    frame = bytes([100] * 9 + [0] * (stride - 9)) + bytes([200] * 9 + [0] * (stride - 9))
    fpos = bytes(avi2).index(b"00db") + 8
    avi2[fpos : fpos + stride * 2] = frame
    # Bottom-up (positive biHeight): file row0 is the BOTTOM image row.
    d_up = decode_avi_frames(bytes(avi2))
    assert d_up["frames"][0][0, 0, 0] == 200 and d_up["frames"][0][1, 0, 0] == 100
    # Flip biHeight negative in strf → top-down: file order IS image order.
    strf_at = bytes(avi2).index(b"strf") + 8
    struct.pack_into("<i", avi2, strf_at + 8, -2)
    d_down = decode_avi_frames(bytes(avi2))
    assert d_down["frames"][0][0, 0, 0] == 100 and d_down["frames"][0][1, 0, 0] == 200


def test_operators_r11_review_fixes(spark):
    """Round-11 operator-sweep regressions (text/graph/rangejoin/scale)."""
    from pyspark.sql import functions as F

    from flusher_spark.operators.graph import pagerank
    from flusher_spark.operators.rangejoin import interval_overlap_join, range_join
    from flusher_spark.operators.scale import zorder_key
    from flusher_spark.operators.text import (
        lang_id,
        n_tokens,
        normalized_text,
        winnow_fingerprints,
    )

    # Tokenization: edge non-space whitespace no longer grows phantom ''
    # tokens, and the canonical form identifies '\n'-bounded duplicates.
    df = spark.createDataFrame(
        [("good doc\n",), ("good doc",), ("\ta b\x0b",), (None,)], "text string"
    )
    rows = df.select(
        n_tokens(F.col("text")).alias("nt"),
        normalized_text(F.col("text")).alias("norm"),
        lang_id(F.col("text")).alias("lang"),
    ).collect()
    assert [r["nt"] for r in rows] == [2, 2, 2, None]
    assert rows[0]["norm"] == rows[1]["norm"] == "good doc"
    assert rows[3]["lang"] is None  # NULL text is NULL, not 'es'

    # Winnowing: byte-identical docs SHORTER than one full window now emit
    # (matching) fingerprints instead of none.
    short = spark.createDataFrame(
        [(1, "abcdefghi"), (2, "abcdefghi")], "doc_id long, text string"
    )
    fps = winnow_fingerprints(short, k=7, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc and by_doc[1] == by_doc[2] and len(by_doc[1]) >= 1

    # ...but a doc with NO k-gram at all (shorter than k, or NULL text)
    # emits ZERO fingerprints — the descending sequence(1, 0) phantom row
    # must not survive (r12 review: DuckDB's range() emits nothing there,
    # so the phantom silently broke the oracle lockstep on short fixtures).
    gramless = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, None), (4, "abcdefg")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(gramless, k=7, w=4).collect()
    assert {r["doc_id"] for r in fps} == {4}  # only the exactly-k doc

    # Weighted pagerank: a node whose out-weights sum to zero is DANGLING,
    # not a DIVIDE_BY_ZERO crash; ranks still sum to 1.
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 0.0), (3, 1, 2.0)], "src long, dst long, w double"
    )
    ranks = pagerank(edges, n_iter=3, weight="w")
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9

    # range_join: rename target colliding with an existing left column, and
    # a bound column listed in `on`, both resolve instead of failing.
    left = spark.createDataFrame(
        [(1, "x", "2024-01-01 00:10:00", "decoy")],
        "lid long, s string, ts string, s_right string",
    ).select("lid", "s", F.col("ts").cast("timestamp").alias("ts"), "s_right")
    right = spark.createDataFrame(
        [("x", "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "s string, st string, en string",
    ).select(
        "s",
        F.col("st").cast("timestamp").alias("s2"),  # no collision
        F.col("en").cast("timestamp").alias("en"),
    )
    # collision case: right carries a column literally named like left's
    right = right.withColumnRenamed("s2", "s_right2").withColumnRenamed(
        "s_right2", "st"
    )
    out = range_join(left, right, "ts", "st", "en", on=["s"])
    assert out.count() == 1
    # left-outer with a MAP-typed left column (the eqNullSafe form failed
    # at analysis) and exact multiplicity for identical left rows.
    left2 = spark.createDataFrame(
        [(1, "x", "2024-01-01 00:10:00"), (2, "x", "2024-01-01 09:00:00")],
        "lid long, s string, ts string",
    ).select(
        "lid", "s", F.col("ts").cast("timestamp").alias("ts"),
        F.create_map(F.lit("k"), F.lit("v")).alias("props"),
    )
    out2 = range_join(left2, right, "ts", "st", "en", on=["s"], how="left")
    got = {(r["lid"], r["st"] is None) for r in out2.collect()}
    assert got == {(1, False), (2, True)}

    # interval_overlap_join still works through the shared helpers.
    iv = interval_overlap_join(
        left2.select("lid", F.col("ts").alias("a0"), (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("a1")),
        right.select(F.col("st").alias("b0"), F.col("en").alias("b1")),
        "a0", "a1", "b0", "b1",
    )
    assert iv.count() == 1

    # zorder_key: >63-bit keys raise; int inputs match long inputs.
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exceeds a signed long"):
        zorder_key(["a"] * 9, bits=8)
    zin = spark.createDataFrame([(200, 3)], "a int, b int").select(
        zorder_key(["a", "b"], bits=8).alias("z")
    ).first()["z"]
    zlong = spark.createDataFrame([(200, 3)], "a long, b long").select(
        zorder_key(["a", "b"], bits=8).alias("z")
    ).first()["z"]
    assert zin == zlong


def test_remove_dup_spans_aligns_on_edge_whitespace(spark):
    """Span positions come from tokens() (full-WS-class trimmed); the
    rebuild's split must use the same shape or every index shifts by one on
    edge-whitespace docs (r11 review). Two docs share an 8-gram passage;
    doc 1 has a LEADING newline — the masked output must drop exactly the
    shared passage, keeping the unique prefix/suffix tokens."""
    from flusher_spark.operators.dedup import remove_dup_spans, substring_dup_spans

    shared = " ".join(f"p{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"\nAlpha {shared} Omega"),
            (2, f"Beta {shared} Gamma"),
        ],
        "doc_id long, text string",
    )
    spans = substring_dup_spans(docs, k=8, min_docs=2)
    got = {r["doc_id"]: r["text"] for r in remove_dup_spans(docs, spans).collect()}
    assert got[1] == "Alpha Omega", got
    assert got[2] == "Beta Gamma", got


def test_ivf_seeding_survives_zero_norm_sample_row(spark):
    """r12 review: a zero-norm embedding in the seeding sample was a
    permanent argmin attractor — its cosine to every chosen seed stayed
    <= 0, so the farthest-point loop re-picked it for EVERY remaining
    centroid, collapsing the index to one real list (and the per-list pair
    joins to all-pairs). Zero rows are now dropped from the sample and
    chosen rows are marked unpickable."""
    import numpy as np

    from flusher_spark.operators import similarity as S

    rng = [
        (i, [1.0 + 0.01 * i, 0.0, 0.0, 0.0]) for i in range(10)
    ] + [
        (100 + i, [0.0, 1.0 + 0.01 * i, 0.0, 0.0]) for i in range(10)
    ] + [
        (200 + i, [0.0, 0.0, 1.0 + 0.01 * i, 0.0]) for i in range(10)
    ] + [(999, [0.0, 0.0, 0.0, 0.0])]  # the garbage row
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    base = df.selectExpr("vec_id", "embedding")
    rows = S._seed_centroid_rows(
        base.withColumn("__nsq", S.vec_norm_sq(F.col("embedding"))),
        "vec_id",
        "embedding",
        n_lists=3,
    )
    vecs = [tuple(v) for _, v in rows]
    assert len(vecs) == 3
    assert len(set(vecs)) == 3, f"duplicate centroids: {vecs}"
    assert all(any(x != 0 for x in v) for v in vecs), f"zero centroid: {vecs}"
    # end-to-end: every mode keeps its own list (no one-list collapse)
    _, assigned = S._ivf_assign(df, "vec_id", "embedding", n_lists=3, n_iter=1)
    n_lists_used = assigned.select("__list").distinct().count()
    assert n_lists_used == 3


def _toy_vectors(spark, n=40, dim=8):
    import math as _math

    rows = [
        (i, [round(_math.sin(0.7 * i + 0.3 * j), 6) + (j == i % dim) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_index_delete_and_compact(spark, tmp_path):
    """The ANN half of the r12 delete/compact lifecycle: a tombstoned
    vector stops ranking immediately, compact preserves answers while
    physically removing rows, and appends keep working against the new
    generation."""
    import os

    from flusher_spark.operators import similarity as S

    df = _toy_vectors(spark)
    path = str(tmp_path / "ivfidx")
    S.ivf_build_index(df, path, n_lists=4, n_iter=1)
    q = df.where(F.col("vec_id") == 0)
    before = S.ivf_query_index(spark, path, q, k=5).collect()
    victim = before[0]["vec_id"]
    assert S.ivf_delete_index(spark, path, spark.createDataFrame([(victim,)], "vec_id long")) == 1
    after_del = S.ivf_query_index(spark, path, q, k=5).collect()
    assert victim not in {r["vec_id"] for r in after_del}
    assert len(after_del) == 5  # ranking refills from the probed lists
    assert S.ivf_compact_index(spark, path) == 1
    assert os.path.isdir(os.path.join(path, "vectors_g1"))
    assert not os.path.isdir(os.path.join(path, "vectors"))
    after_compact = S.ivf_query_index(spark, path, q, k=5).collect()
    assert [tuple(r) for r in after_compact] == [tuple(r) for r in after_del]
    live = spark.read.parquet(os.path.join(path, "vectors_g1"))
    assert victim not in {r["vec_id"] for r in live.select("vec_id").collect()}
    # append lands in the live generation and is queryable: a copy of the
    # query vector under a new id must rank for that query
    qvec = df.where(F.col("vec_id") == 0).select(
        F.lit(1000).alias("vec_id"), F.col("embedding")
    )
    S.ivf_append_index(spark, path, qvec)
    got = {r["vec_id"] for r in S.ivf_query_index(spark, path, q, k=5).collect()}
    assert 1000 in got  # the appended near-identical vector ranks


def test_pq_index_delete_and_compact(spark, tmp_path):
    import os

    from flusher_spark.operators import similarity as S

    df = _toy_vectors(spark)
    path = str(tmp_path / "pqidx")
    S.pq_build_index(df, path, m=4, ksub=8)
    q = df.where(F.col("vec_id") == 0)
    before = S.pq_query_index(spark, path, q, k=5).collect()
    victim = before[0]["vec_id"]
    assert S.pq_delete_index(spark, path, spark.createDataFrame([(victim,)], "vec_id long")) == 1
    after_del = S.pq_query_index(spark, path, q, k=5).collect()
    assert victim not in {r["vec_id"] for r in after_del}
    assert S.pq_compact_index(spark, path) == 1
    after_compact = S.pq_query_index(spark, path, q, k=5).collect()
    assert [tuple(r) for r in after_compact] == [tuple(r) for r in after_del]
    assert victim not in {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "codes_g1")).select("vec_id").collect()
    }
    # rebuild resets the lifecycle into a fresh generation
    S.pq_build_index(df, path, m=4, ksub=8)
    assert {r["vec_id"] for r in S.pq_query_index(spark, path, q, k=5).collect()} == {
        r["vec_id"] for r in before
    }


def test_simhash_excludes_contentless_docs_and_guards_hamming(spark):
    """r12 review: tokens('') is [''], so blank/whitespace-only docs used
    to share one phantom-token signature and emit ~N^2/2 hamming-0 pairs
    of nothing; they are excluded up front now. And max_hamming > 3 must
    raise — the 4-chunk pigeonhole cannot guarantee recall beyond 3."""
    import pytest as _pytest

    from flusher_spark.operators.dedup import simhash_pairs, simhash_signatures

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, None), (5, "real content here")],
        "doc_id long, text string",
    )
    sigs = simhash_signatures(df)
    assert {r["doc_id"] for r in sigs.collect()} == {5}
    assert simhash_pairs(df).collect() == []  # no phantom pairs
    with _pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(df, max_hamming=4)


def test_parse_byte_string_units():
    """r13 ADVICE: '128m' used to parse as 128 BYTES (digit-stripping),
    which exploded the split estimate and silently skipped the repartition
    for genuinely under-split scans. Real suffixes now multiply; junk falls
    back to Spark's 128m default instead of guessing."""
    from flusher_spark.operators.dedup import _parse_byte_string

    assert _parse_byte_string("134217728") == 128 << 20
    assert _parse_byte_string("134217728b") == 128 << 20
    assert _parse_byte_string("128m") == 128 << 20
    assert _parse_byte_string("128MB") == 128 << 20
    assert _parse_byte_string("1g") == 1 << 30
    assert _parse_byte_string("4k") == 4 << 10
    assert _parse_byte_string(" 2t ") == 2 << 40
    # unknown/garbage shapes -> the conservative default, never tiny values
    assert _parse_byte_string("") == 128 << 20
    assert _parse_byte_string("abc") == 128 << 20
    assert _parse_byte_string("12parsecs") == 128 << 20
    # r13 review: non-integer numeric parts must FALL BACK, never raise
    # (the enclosing operator catches OSError only), and Python's
    # underscore-int syntax must not silently parse '12_5m' as 125MB
    assert _parse_byte_string("1.5g") == 128 << 20
    assert _parse_byte_string("0x8000") == 128 << 20
    assert _parse_byte_string("12_5m") == 128 << 20


def test_group_row_number_numbers_null_groups(spark):
    """r13 review: with_group_row_number's offsets join was null-UNSAFE, so
    every row whose group key is NULL silently vanished — a real
    ROW_NUMBER() OVER (PARTITION BY g) numbers the NULL partition."""
    from flusher_spark.operators.ranking import with_group_row_number

    df = spark.createDataFrame(
        [("a", 3), ("a", 1), (None, 2), (None, 1), ("b", 5)], "g string, v int"
    )
    got = {
        (r["g"], r["v"], r["rn"])
        for r in with_group_row_number(df, ["g"], ["v"]).collect()
    }
    assert got == {
        ("a", 1, 1), ("a", 3, 2),
        (None, 1, 1), (None, 2, 2),
        ("b", 5, 1),
    }


def test_global_ntile_counts_checkpointed_blocks_once(spark):
    """r13 review: with_global_ntile re-scanned the SOURCE plan for the
    total count; it now sums the numbering pass's own per-partition counts.
    Output semantics pinned: standard NTILE bucket sizes differ by <= 1,
    larger buckets first."""
    from flusher_spark.operators.ranking import with_global_ntile

    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    got = sorted(
        (r["v"], r["bucket"]) for r in with_global_ntile(df, ["v"], 3).collect()
    )
    # 10 rows / 3 buckets: sizes 4,3,3
    assert [b for _, b in got] == [1, 1, 1, 1, 2, 2, 2, 3, 3, 3]


def test_asof_nearest_preserves_left_columns_named_like_temps(spark):
    """r13 review: bare '__back'/'__fwd' temp names silently overwrote a
    same-named left column and returned the candidate struct under it."""
    import datetime

    from flusher_spark.operators.asof import asof_join_nearest

    t = datetime.datetime
    left = spark.createDataFrame(
        [(1, t(2024, 1, 1, 0, 0, 10), "keepme")],
        "user_id long, ts timestamp, __back string",
    )
    right = spark.createDataFrame(
        [(1, t(2024, 1, 1, 0, 0, 0), "r0")],
        "user_id long, rts timestamp, rv string",
    )
    out = asof_join_nearest(
        left, right, on=["user_id"], left_ts="ts", right_ts="rts",
        tolerance_us=60_000_000, value_cols=["rv"],
    ).collect()
    assert len(out) == 1
    assert out[0]["__back"] == "keepme"
    assert out[0]["rv_right"] == "r0"


def test_zorder_rejects_degenerate_inputs():
    """r13 review: zero columns / zero bits used to die with an
    unexplained IndexError instead of a ValueError naming the misuse."""
    import pytest as _pytest

    from flusher_spark.operators.scale import zorder_key

    with _pytest.raises(ValueError, match="zorder_key needs"):
        zorder_key([], 8)
    with _pytest.raises(ValueError, match="zorder_key needs"):
        zorder_key(["a"], 0)


def test_recorder_timed_marks_failures():
    """r13 review: a raising block recorded a success-shaped metric row —
    with no status column, fast failures skewed op latency medians with no
    way to filter. Failures now record under '<op>:failed'."""
    import pytest as _pytest

    from flusher_spark.instrumentation import Recorder

    rec = Recorder(logfunc=lambda m: None)
    with rec.timed("ok_op") as ctx:
        ctx["rows"] = 5
    with _pytest.raises(RuntimeError):
        with rec.timed("bad_op"):
            raise RuntimeError("boom")
    ops = [m.op for m in rec.records]
    assert ops == ["ok_op", "bad_op:failed"]


def test_ivf_index_neardup_pairs_vs_exact_twin(spark, emb, tmp_path):
    """r14: the persisted-index semantic probe (the batch API the streaming
    semantic sink calls). Split the corpus: evens are history (indexed),
    odds probe. Every emitted pair must be bit-identical to the all-pairs
    exact twin's cross pair (precision 1 by construction — pruning only
    MISSES), recall must clear the multi-probe floor, and identical-id
    self-pairs must never appear."""
    from pyspark.sql import functions as F

    from flusher_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_neardup_pairs,
        neardup_cosine_exact,
    )

    hist = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    ivf_build_index(hist, path, n_lists=8, n_iter=1)
    got = {
        (r["id_new"], r["id_hist"]): r["cosine_sim"]
        for r in ivf_index_neardup_pairs(
            spark, path, batch, threshold=0.4, n_probe=3
        ).collect()
    }
    # exact twin over the union, restricted to cross (odd, even) pairs
    exact = {}
    for r in neardup_cosine_exact(emb, threshold=0.4).collect():
        a, b = r["id_a"], r["id_b"]
        if a % 2 != b % 2:  # one odd (batch), one even (history)
            new, old = (a, b) if a % 2 == 1 else (b, a)
            exact[(new, old)] = r["cosine_sim"]
    assert got, "probe found no pairs at the fixture threshold"
    for key, sim in got.items():
        assert key in exact, f"invented pair {key}"
        assert abs(sim - exact[key]) < 1e-12  # same fold-left arithmetic
        assert key[0] != key[1]
    # Single-assigned history + 3-probe queries: 0.72 measured on the
    # worst-case i.i.d. fixture (2-probe: 0.49, 4-probe: 0.77); everything
    # is derandomized so the bound is stable, not statistical.
    recall = len(got) / len(exact)
    assert recall >= 0.65, f"3-probe recall too low: {recall}"
    # a verbatim re-ingest under a NEW id must match its stored record
    dup = hist.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    hits = ivf_index_neardup_pairs(spark, path, dup, threshold=0.99, n_probe=2)
    assert hits.count() >= 1


def test_ivf_index_dedup_survivor_rule(spark, tmp_path):
    """r14: the batch APPLY half of the semantic probe — THE survivor rule
    the streaming semantic sink and [corpus_e2e_incremental_semantic]
    both delegate to. With n_probe = n_lists the probe is exhaustive, so
    every expectation here is exact, not statistical: an exact duplicate
    of history always drops (same vector ⇒ same nearest lists ⇒ always
    probed), a batch-internal identical pair collapses keep-min, a vector
    clearing the threshold against nothing survives, a NULL embedding can
    never match and passes through, and a threshold above 1 drops
    nothing."""
    from pyspark.sql import functions as F  # noqa: F401

    from flusher_spark.operators.similarity import ivf_build_index, ivf_index_dedup

    dim = 4

    def v(i, scale=1.0):
        return [scale if j == i else 0.0 for j in range(dim)]

    hist = spark.createDataFrame(
        [(i, v(i)) for i in range(4)], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "ivf")
    ivf_build_index(hist, path, n_lists=2, n_iter=1)
    batch = spark.createDataFrame(
        [
            (10, v(0)),  # exact duplicate of history 0 → drops
            (11, [0.9, 0.1, 0.0, 0.0]),  # cos vs hist 0 ≈ 0.9939 ≥ 0.95 → drops
            (12, [0.0, 0.0, 0.7071, 0.7071]),  # max cos vs hist ≈ 0.7071 → survives
            (13, [0.0, 0.0, 0.7071, 0.7071]),  # identical to 12 → keep-min drops 13
            (14, None),  # NULL embedding: never matches, passes through
        ],
        "vec_id long, embedding array<float>",
    )
    surv = {
        r["vec_id"]
        for r in ivf_index_dedup(spark, path, batch, threshold=0.95, n_probe=2).collect()
    }
    assert surv == {12, 14}
    # cosine tops out at 1.0: a threshold above it can drop nothing
    everyone = {
        r["vec_id"]
        for r in ivf_index_dedup(spark, path, batch, threshold=1.01, n_probe=2).collect()
    }
    assert everyone == {10, 11, 12, 13, 14}


def test_pagerank_nan_weight_ignored(spark):
    """r14: Spark orders NaN above every numeric, so a NaN edge weight used
    to pass the `w > 0` guard and poison every reachable rank to NaN with
    no error. A NaN-weighted edge must behave exactly like a NULL/<=0 one:
    spread nothing."""
    import math

    from flusher_spark.operators.graph import pagerank

    schema = "src long, dst long, w double"
    clean = spark.createDataFrame([(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0)], schema)
    dirty = clean.union(spark.createDataFrame([(0, 2, float("nan"))], schema))
    a = {r["node"]: r["rank"] for r in pagerank(clean, weight="w", n_iter=10).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(dirty, weight="w", n_iter=10).collect()}
    assert all(math.isfinite(v) for v in b.values())
    assert a == b


def test_label_propagation_self_loop_only_node(spark):
    """r14: a node whose only edges are self-loops has an edge — the
    documented return contract — but used to be silently dropped by the
    s != d filter (connected_components labels the same input)."""
    from flusher_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(5, 5), (1, 2)], "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert set(got) == {1, 2, 5}
    assert got[5] == 5  # keeps its own label: no non-self neighbor to adopt


def test_fuzzy_join_survives_working_column_collisions(spark):
    """r14: an input frame already carrying __variant/__d (plausible —
    this codebase's own operators emit __-prefixed columns) used to
    duplicate the working names and fail with AMBIGUOUS_REFERENCE. The
    working columns must uniquify against both frames."""
    from flusher_spark.operators.text import fuzzy_join_ed1

    left = spark.createDataFrame(
        [("acme", "l1")], "probe string, __variant string"
    )
    right = spark.createDataFrame(
        [("acme", "r1"), ("zzz", "r2")], "name string, __d string"
    )
    got = fuzzy_join_ed1(left, right, "probe", "name").collect()
    assert len(got) == 1 and got[0]["name"] == "acme"
    # the callers' own __-columns pass through untouched
    assert got[0]["__variant"] == "l1" and got[0]["__d"] == "r1"


def test_synth_jpeg_sof_is_length_respecting():
    """r14: synth_jpeg's SOF0 declared 11 length bytes but carried 8 (the
    ncomp byte was missing) — a length-respecting marker walk mis-framed
    into the following SOS. Walking every segment by its declared length
    must now visit SOI..SOS cleanly."""
    from flusher_spark.operators.multimodal import parse_jpeg_meta, synth_jpeg

    b = synth_jpeg(1024, 768)
    m = parse_jpeg_meta(b)
    assert (m["width"], m["height"], m["n_components"]) == (1024, 768, 1)
    pos = 2
    seen = []
    while pos + 4 <= len(b) and b[pos + 1] != 0xD9:
        assert b[pos] == 0xFF, f"misframed at {pos}"
        seen.append(b[pos + 1])
        if b[pos + 1] == 0xDA:
            break
        (ln,) = __import__("struct").unpack_from(">H", b, pos + 2)
        pos += 2 + ln
    assert 0xC0 in seen and seen[-1] == 0xDA


def test_parse_avi_meta_zero_usperframe_is_null_timing(spark):
    """r14: dwMicroSecPerFrame=0 is legal (advisory field) — dims/frames
    must survive with NULL timing instead of a ZeroDivisionError that
    nulled the whole row and dropped every decodable frame."""
    from flusher_spark.operators.multimodal import (
        decode_avi_frames, parse_avi_meta, synth_avi_rawvideo,
    )

    b = synth_avi_rawvideo(4, 2, 0, [(255, 0, 0)])
    m = parse_avi_meta(b)
    assert (m["width"], m["height"], m["n_frames"]) == (4, 2, 1)
    assert m["fps"] is None and m["duration_s"] is None
    assert len(decode_avi_frames(b)["frames"]) == 1  # frames still decode


def test_decode_wav_peak_exact_at_int16_min():
    """r14 vectorization guard: numpy abs of int16 -32768 wraps; the
    int32 cast must keep peak == 32768 exactly like the old boxed-int
    path."""
    import io
    import struct
    import wave

    from flusher_spark.operators.multimodal import decode_wav

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<3h", -32768, 5, 100))
    assert decode_wav(buf.getvalue())["peak_amplitude"] == 32768


def test_jpeg_features_color_asset_is_all_null_drift(spark):
    """r14: a color JPEG through the GRAY feature path used to emit a
    partial row (w/h/ncomp set, mean_gray NULL); the all-or-nothing drift
    contract requires the full-NULL row (the mirror of
    jpeg_color_features rejecting grayscale)."""
    import numpy as np

    from flusher_spark.operators.multimodal import encode_jpeg, jpeg_features

    rgb = np.zeros((8, 8, 3), dtype=np.uint8)
    rgb[..., 0] = 200
    payload = encode_jpeg(rgb)
    df = spark.createDataFrame([(1, bytearray(payload))], "asset_id long, payload binary")
    row = jpeg_features(df).collect()[0]
    assert row["width"] is None and row["mean_gray"] is None


class TestR14SimilarityReviewFixes:
    """r14 similarity.py file-scoped review — each test pins one fix."""

    VSCHEMA = "vec_id long, embedding array<float>"

    @staticmethod
    def _v(i, dim=4):
        return [1.0 if j == i % dim else 0.1 for j in range(dim)]

    def test_null_embedding_in_training_sample_tolerated(self, spark, tmp_path):
        """A NULL embedding landing in the hash-ordered training sample
        (certain for any sub-1024-row table) used to crash every IVF/PQ
        entry point on the driver with TypeError. The module's documented
        policy is pass-through at query time, exclusion at train/index
        time."""
        from flusher_spark.operators.similarity import ivf_build_index, ivf_query_index, pq_build_index, pq_query_index

        rows = [(i, self._v(i)) for i in range(8)] + [(99, None)]
        df = spark.createDataFrame(rows, self.VSCHEMA)
        ivf = str(tmp_path / "ivf")
        ivf_build_index(df, ivf, n_lists=2, n_iter=1)
        q = spark.createDataFrame([(0, self._v(0))], self.VSCHEMA)
        assert ivf_query_index(spark, ivf, q, k=3).count() == 3
        pq = str(tmp_path / "pq")
        pq_build_index(df, pq, m=2, ksub=4)
        assert pq_query_index(spark, pq, q, k=3).count() == 3
        # and the NULL row was excluded from both persisted indexes
        import os

        vecs = spark.read.parquet(os.path.join(ivf, "vectors"))
        assert vecs.where(F.col("vec_id") == 99).count() == 0
        codes = spark.read.parquet(os.path.join(pq, "codes"))
        assert codes.where(F.col("vec_id") == 99).count() == 0

    def test_arrow_topk_tolerates_null_candidates(self, spark):
        """brute_force_topk_arrow / pq_topk used to kill the Arrow batch on
        a NULL candidate embedding; the exact twin just carries NULL
        cosine_sim. NULL candidates now score NULL (rank-last) and the
        valid block stays one BLAS call."""
        from flusher_spark.operators.similarity import brute_force_topk_arrow, pq_topk

        rows = [(i, self._v(i, 8)) for i in range(6)] + [(99, None)]
        df = spark.createDataFrame(rows, self.VSCHEMA)
        got = brute_force_topk_arrow(df, [0], k=3)
        ids = {r["vec_id"] for r in got.collect()}
        assert len(ids) == 3 and 99 not in ids
        got_pq = pq_topk(df, [0], k=3, m=2, ksub=4)
        ids_pq = {r["vec_id"] for r in got_pq.collect()}
        assert len(ids_pq) == 3 and 99 not in ids_pq

    def test_ivf_rebuild_of_stream_index_keeps_tag_column(self, spark, tmp_path):
        """The maintenance rebuild ivf_append_index's docstring recommends
        (periodic ivf_build_index over the full corpus) used to DROP the
        src_batch column from a stream-initialized index's new generation —
        the mixed-schema hazard the append backfill guards. The rebuild now
        carries the column with the NULL backfill."""
        import os

        from flusher_spark.operators.similarity import ivf_build_index
        from flusher_spark.streaming.dedup_stream import stream_ivf_index_init

        path = str(tmp_path / "idx")
        seed = spark.createDataFrame(
            [(i, self._v(i)) for i in range(6)], self.VSCHEMA
        )
        stream_ivf_index_init(spark, path, n_lists=2, n_iter=1, seed_df=seed)
        ivf_build_index(seed, path, n_lists=2, n_iter=1)  # the maintenance rebuild
        import pyarrow.parquet as pq

        root = os.path.join(path, "vectors_g1")
        files = [
            os.path.join(r, n)
            for r, _d, ns in os.walk(root)
            for n in ns
            if n.endswith(".parquet")
        ]
        assert files
        for f in files:
            assert "src_batch" in pq.read_schema(f).names, f

    def test_neardup_pairs_distinct_at_single_probe(self, spark, tmp_path):
        """Retry-duplicated appended rows (the documented at-least-once
        shape) used to emit duplicate pairs at n_probe=1 — the old gate
        reasoned about multi-probe, which can never duplicate a pair here
        (each stored vector lives in exactly one list)."""
        from flusher_spark.operators.similarity import (
            ivf_append_index,
            ivf_build_index,
            ivf_index_neardup_pairs,
        )

        path = str(tmp_path / "idx")
        hist = spark.createDataFrame([(i, self._v(i)) for i in range(4)], self.VSCHEMA)
        ivf_build_index(hist, path, n_lists=2, n_iter=1)
        dup = spark.createDataFrame([(10, self._v(0))], self.VSCHEMA)
        ivf_append_index(spark, path, dup)
        ivf_append_index(spark, path, dup)  # the documented retry re-append
        probe = spark.createDataFrame([(20, self._v(0))], self.VSCHEMA)
        pairs = ivf_index_neardup_pairs(
            spark, path, probe, threshold=0.99, n_probe=1
        ).collect()
        assert len(pairs) == len({(r["id_new"], r["id_hist"]) for r in pairs})

    def test_append_excludes_null_embeddings(self, spark, tmp_path):
        from flusher_spark.operators.similarity import ivf_append_index, ivf_build_index

        path = str(tmp_path / "idx")
        ivf_build_index(
            spark.createDataFrame([(i, self._v(i)) for i in range(4)], self.VSCHEMA),
            path,
            n_lists=2,
            n_iter=1,
        )
        ivf_append_index(
            spark,
            path,
            spark.createDataFrame([(10, self._v(1)), (11, None)], self.VSCHEMA),
        )
        import os

        vecs = spark.read.parquet(os.path.join(path, "vectors"))
        got = {r["vec_id"] for r in vecs.select("vec_id").collect()}
        assert 10 in got and 11 not in got


class TestR14GuardReviewFixes:
    """r14 asof/scale/ranking review — loud call-time guards."""

    def test_asof_suffix_collision_raises(self, spark):
        from flusher_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, "x")], "id long, ts long, price_right string"
        )
        right = spark.createDataFrame([(1, 5, "p")], "id long, ts long, price string")
        with pytest.raises(ValueError, match="collide"):
            asof_join(left, right, ["id"], "ts", "ts")

    def test_salted_join_rejects_nonpositive_salt(self, spark):
        from flusher_spark.operators.scale import salted_join

        df = spark.createDataFrame([(1, "a")], "k long, v string")
        with pytest.raises(ValueError, match="n_salt"):
            salted_join(df, df, "k", n_salt=0)

    def test_global_ntile_rejects_nonpositive_n(self, spark):
        from flusher_spark.operators.ranking import with_global_ntile

        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match=">= 1"):
            with_global_ntile(df, ["id"], 0)
