"""Tier-B operator unit tests: similarity, text stats, multimodal
plumbing (SURVEY §2.11)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from calorista_spark.operators.multimodal import (
    decode_image_stub,
    extract_features,
    sample_frames,
    synthetic_assets,
)
from calorista_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_band_keys,
    minhash_band_keys,
    minhash_signatures,
    ngram_jaccard,
    shingles,
)
from calorista_spark.operators.textstats import (
    predict_lang,
    quality_score,
    token_count,
)


def test_shingles_short_text_empty_not_null(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], ["text"])
    out = df.select(shingles("text", 3).alias("sh")).collect()
    assert out[0].sh == []  # 2 words < n → empty, not null
    assert out[1].sh == ["a b c", "b c d"]


def test_minhash_identical_docs_share_signature(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now today")],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    rows = sig.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.seed] = r.minhash
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]
    assert len(by_doc[1]) == 8


def test_minhash_band_keys_match_long_format_band_keys(spark):
    # the wide-aggregate band keys must equal the long-format detour's,
    # row for row, including docs with null, empty, too-short, unicode
    # and whitespace-only text (no shingles → no band rows on either side)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, None),
         (4, ""),
         (5, "two words"),
         (6, "naïve café résumé — 東京 タワー 🚀 über straße"),
         (7, "   \t  "),
         (8, "東京 タワー 🚀 über straße naïve café")],
        "doc_id long, text string",
    )
    direct = minhash_band_keys(docs, "doc_id", "text", num_hashes=16,
                               rows_per_band=4)
    via_long = lsh_band_keys(
        minhash_signatures(docs, "doc_id", "text", num_hashes=16),
        "doc_id", 4,
    )
    cols = ["doc_id", "band", "band_key"]
    got = sorted(tuple(r) for r in direct.select(*cols).collect())
    want = sorted(tuple(r) for r in via_long.select(*cols).collect())
    assert got == want
    assert {r[0] for r in got} == {1, 2, 6, 8}
    assert len(got) == 4 * 4


def test_ngram_jaccard_bounds(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    out = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard(pairs, docs, "doc_id", "text").collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 3)] == 0.0


def test_cosine_topk_excludes_self_and_ranks(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        ["vec_id", "embedding"],
    )
    out = cosine_topk_bruteforce(emb.filter(F.col("vec_id") == 0), emb, k=2).collect()
    assert all(r.cand_id != 0 for r in out)
    ranked = sorted(out, key=lambda r: r.rank)
    assert ranked[0].cand_id == 1 and ranked[0].sim == 1.0
    assert ranked[1].cand_id == 3  # 0.9937 > 0.0


def test_token_count_edges(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one",), ("a  b",)], ["text"])
    out = [r.n for r in df.select(token_count("text").alias("n")).collect()]
    assert out == [0, 0, 1, 2]


def test_predict_lang_markers(spark):
    df = spark.createDataFrame(
        [("the cat is in the house and that is fine",),
         ("der hund ist nicht das problem und zu gross",),
         ("xyzzy qwerty plugh",)],
        ["text"],
    )
    out = [r.p for r in df.select(predict_lang("text").alias("p")).collect()]
    assert out == ["en", "de", "und"]


def test_quality_score_range(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat and it was good and fine",), ("x",)], ["text"]
    )
    out = [r.q for r in df.select(quality_score("text").alias("q")).collect()]
    assert out[0] == 1.0  # long enough, stopwords, low punct
    assert out[1] == pytest.approx(0.3)  # only punct criterion passes


def test_decode_stub_contract():
    assert decode_image_stub(None) is None
    assert decode_image_stub(b"") == 0.0
    assert decode_image_stub(b"\xff") == 1.0
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x00", real_codec=True)


def test_multimodal_extract_features(spark):
    assets = synthetic_assets(spark, n=12)
    feats = extract_features(assets).collect()
    assert len(feats) == 12
    by_id = {r.asset_id: r for r in feats}
    # deterministic payload: sha2(id) hex decoded → 32 bytes
    assert by_id[0].n_bytes == 32
    expected = hashlib.sha256(
        bytes.fromhex(hashlib.sha256(b"0").hexdigest())
    ).hexdigest()
    assert by_id[0].content_sha256 == expected
    assert 0.0 <= by_id[0].fake_mean_luma <= 1.0
    assert {r.modality for r in feats} == {"image", "audio", "video"}


def test_multimodal_sample_frames_one_to_many(spark):
    assets = synthetic_assets(spark, n=3)
    frames = sample_frames(assets, every_n_bytes=10).collect()
    # 32-byte payloads, every 10 bytes → offsets 0,10,20,30 → 4 frames each
    per_asset = {}
    for r in frames:
        per_asset.setdefault(r.asset_id, []).append(r.byte_offset)
    assert all(sorted(v) == [0, 10, 20, 30] for v in per_asset.values())


def test_multimodal_resize_stub(spark):
    from calorista_spark.operators.multimodal import (
        resize_image_stub,
        resize_images,
    )

    assets = synthetic_assets(spark, n=6)
    out = resize_images(assets, width=8, height=4).collect()
    assert len(out) == 6
    for r in out:
        assert r.resized_bytes == 32 and len(r.resized) == 32
        assert (r.target_width, r.target_height) == (8, 4)
    # tiling is deterministic and derived from the source payload
    src = bytes.fromhex(hashlib.sha256(b"0").hexdigest())
    by_id = {r.asset_id: r for r in out}
    assert bytes(by_id[0].resized) == (src * 2)[:32]
    with pytest.raises(NotImplementedError):
        resize_image_stub(b"\x00", 2, 2, real_codec=True)
    assert resize_image_stub(None, 2, 2) is None
    assert resize_image_stub(b"", 2, 2) == b"\x00" * 4


def test_multiprobe_ivf_recall_dominates_single_probe(spark, sf_dir):
    # nprobe=3 must recover at least as many true top-5 neighbors as
    # nprobe=1 for every query (candidate sets are supersets)
    from calorista_spark.queries import QUERIES

    brute = QUERIES["embedding_topk_bruteforce"](spark, sf_dir).select(
        "q_id", "cand_id"
    )
    truth = {(r.q_id, r.cand_id) for r in brute.collect()}

    def hits(name):
        df = QUERIES[name](spark, sf_dir).select("q_id", "cand_id")
        per_q = {}
        for r in df.collect():
            per_q.setdefault(r.q_id, 0)
            if (r.q_id, r.cand_id) in truth:
                per_q[r.q_id] += 1
        return per_q

    h1, h3 = hits("embedding_topk_ivf"), hits("embedding_topk_ivf_probe3")
    assert all(h3.get(q, 0) >= h1.get(q, 0) for q in h1)
    assert sum(h3.values()) >= sum(h1.values())


def test_real_codec_netpbm_roundtrip():
    import numpy as np

    from calorista_spark.operators.codecs import (
        UnsupportedImageError,
        decode_image_bytes,
        decode_netpbm,
        encode_netpbm,
        mean_luma,
        resize_nearest,
        sniff_format,
    )

    gray = np.arange(48, dtype=np.uint8).reshape(4, 12)
    rgb = np.dstack([gray, gray // 2, gray // 3])
    for arr, fmt in [(gray, "pgm"), (rgb, "ppm")]:
        payload = encode_netpbm(arr)
        assert sniff_format(payload) == fmt
        assert (decode_netpbm(payload) == arr).all()
        assert (decode_image_bytes(payload) == arr).all()
    # header comments + arbitrary whitespace per the NetPBM spec
    commented = b"P5\n# gradient\n 12   4\n255\n" + gray.tobytes()
    assert (decode_netpbm(commented) == gray).all()
    # nearest-neighbor resample = pure index arithmetic
    small = resize_nearest(gray, 6, 2)
    assert small.shape == (2, 6)
    assert (small == gray[[0, 2]][:, [0, 2, 4, 6, 8, 10]]).all()
    # luma: grayscale mean; RGB BT.601
    assert mean_luma(np.full((2, 2), 255, np.uint8)) == 1.0
    with pytest.raises(UnsupportedImageError):
        decode_image_bytes(b"\x00\x01\x02")
    # PNG decodes for real since r8 (stdlib zlib path) — corrupt PNG
    # bytes must fail the CRC walk with a typed decode error, not
    # silently produce pixels
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_image_bytes(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    # JPEG decodes for real since r9 (pure-numpy baseline path) —
    # corrupt JPEG bytes now fail the marker walk with a typed decode
    # error, exactly like corrupt PNG
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_image_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 16)


def test_real_codec_extract_and_resize(spark):
    from calorista_spark.operators.multimodal import (
        resize_images,
        synthetic_image_assets,
    )

    assets = synthetic_image_assets(spark, n=5, width=10, height=6)
    feats = {r.asset_id: r for r in extract_features(assets).collect()}
    assert len(feats) == 5
    for aid, r in feats.items():
        assert (r.width, r.height) == (10, 6)
        # closed-form gradient: mean over rows of (aid + y) % 256
        expected = sum((aid + y) % 256 for y in range(6)) / 6 / 255.0
        assert r.mean_luma == pytest.approx(expected, abs=1e-12)
    # non-image payloads produce null real features, not failures
    junk = synthetic_assets(spark, n=3)
    jf = extract_features(junk).collect()
    assert all(r.width is None and r.mean_luma is None for r in jf)
    assert all(r.fake_mean_luma is not None for r in jf)
    # real resize: decode → stride resample → NetPBM re-encode
    out = {r.asset_id: r for r in
           resize_images(assets, 5, 3, real_codec=True).collect()}
    for aid, r in out.items():
        assert bytes(r.resized).startswith(b"P5")
        from calorista_spark.operators.codecs import decode_netpbm

        arr = decode_netpbm(bytes(r.resized))
        assert arr.shape == (3, 5)
        assert list(arr[:, 0]) == [(aid + y * 2) % 256 for y in range(3)]
    # undecodable bytes → null resized under real_codec
    jr = resize_images(junk, 5, 3, real_codec=True).collect()
    assert all(r.resized is None for r in jr)


def test_wav_codec_roundtrip_and_chunks():
    """r7 audio codec: encode→decode roundtrip (mono + stereo), 8/24/
    32-bit decode, extra-chunk tolerance, and the error contracts."""
    import struct

    import numpy as np
    import pytest

    from calorista_spark.operators.codecs import (
        UnsupportedAudioError,
        audio_features,
        decode_wav,
        encode_wav,
        sniff_audio_format,
    )

    mono = (np.arange(100, dtype=np.int64) * 97) % 3001 - 1500
    rate, got = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and got.shape == (100, 1)
    assert (got[:, 0] == mono).all()

    stereo = np.stack([mono, -mono], axis=1)
    rate, got2 = decode_wav(encode_wav(stereo, 44100))
    assert rate == 44100 and got2.shape == (100, 2)
    assert (got2 == stereo).all()

    # extra LIST chunk between fmt and data must be skipped
    payload = encode_wav(mono, 8000)
    fmt_chunk = payload[12:36]
    data_chunk = payload[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded odd
    doctored = (
        b"RIFF"
        + struct.pack("<I", 4 + len(fmt_chunk) + len(extra) + len(data_chunk))
        + b"WAVE"
        + fmt_chunk
        + extra
        + data_chunk
    )
    rate, got3 = decode_wav(doctored)
    assert (got3[:, 0] == mono).all()

    # 8-bit unsigned and 24/32-bit signed widths
    def wav_raw(bits, body, channels=1, rate=8000):
        fmt_body = struct.pack(
            "<HHIIHH", 1, channels, rate,
            rate * channels * bits // 8, channels * bits // 8, bits,
        )
        return (
            b"RIFF" + struct.pack("<I", 4 + 24 + 8 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt_body
            + b"data" + struct.pack("<I", len(body)) + body
        )

    _, s8 = decode_wav(wav_raw(8, bytes([0, 128, 255])))
    assert s8[:, 0].tolist() == [-128, 0, 127]
    body24 = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in (-(1 << 23), 0, (1 << 23) - 1)
    )
    _, s24 = decode_wav(wav_raw(24, body24))
    assert s24[:, 0].tolist() == [-(1 << 23), 0, (1 << 23) - 1]
    _, s32 = decode_wav(wav_raw(32, struct.pack("<3i", -7, 0, 7)))
    assert s32[:, 0].tolist() == [-7, 0, 7]

    # error contracts
    assert sniff_audio_format(b"fLaC....") == "flac"
    with pytest.raises(UnsupportedAudioError):
        decode_wav(b"fLaC" + b"\x00" * 64)  # not WAV
    with pytest.raises(NotImplementedError):  # subclass contract
        decode_wav(wav_raw(16, b"\x00\x00").replace(
            struct.pack("<HH", 1, 1), struct.pack("<HH", 3, 1), 1
        ))  # format tag 3 (float) unsupported
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")  # no chunks
    # r7 ADVICE: a chunk whose declared size overruns the buffer must
    # raise, not silently decode partial audio
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(payload[:-10])
    # r7 ADVICE: encoding samples outside int16 must raise, not wrap
    with pytest.raises(ValueError, match="int16"):
        encode_wav(np.array([40000, -40000], dtype=np.int64), 8000)

    # feature math: exact integer sums
    f = audio_features(8000, np.array([[3], [-4]], dtype=np.int32))
    assert f["mean_abs"] == 3.5 and f["rms"] == (12.5) ** 0.5
    assert f["duration_ms"] == 0 and f["n_channels"] == 1


def test_extract_audio_features_null_and_junk(spark):
    """Nulls and undecodable payloads surface as null features, never
    batch failures."""
    import pandas as pd

    from calorista_spark.operators.codecs import encode_wav
    from calorista_spark.operators.multimodal import (
        ASSET_SCHEMA,
        extract_audio_features,
    )

    rows = [
        (0, "audio", encode_wav([100, -100], 8000), "audio/wav", None, None, None),
        (1, "audio", None, "audio/wav", None, None, None),
        (2, "audio", b"garbage-bytes", "audio/wav", None, None, None),
    ]
    assets = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in ASSET_SCHEMA.fields]),
        schema=ASSET_SCHEMA,
    )
    got = {r.asset_id: r for r in extract_audio_features(assets).collect()}
    assert got[0].mean_abs == 100.0 and got[0].n_frames == 2
    assert got[1].rms is None and got[1].n_bytes is None
    assert got[2].rms is None and got[2].n_bytes == 13


def test_video_container_roundtrip_and_seek():
    """r7 video path: container roundtrip, seek-decode correctness,
    and error contracts."""
    import numpy as np
    import pytest

    from calorista_spark.operators.multimodal import (
        decode_video_frame,
        encode_video,
    )

    frames = [
        np.full((4, 6), f * 10, dtype=np.uint8) for f in range(5)
    ]
    payload = encode_video(frames)
    for f in range(5):
        got = decode_video_frame(payload, f)
        assert got.shape == (4, 6) and (got == f * 10).all()
    with pytest.raises(IndexError):
        decode_video_frame(payload, 5)
    with pytest.raises(ValueError):
        decode_video_frame(b"AVI?" + payload[4:], 0)
    with pytest.raises(ValueError):
        encode_video([frames[0], np.zeros((2, 2), dtype=np.uint8)])
    # empty video encodes and is unreadable beyond bounds
    empty = encode_video([])
    with pytest.raises(IndexError):
        decode_video_frame(empty, 0)


def test_sample_video_frames_drops_undecodable(spark):
    import pandas as pd

    from calorista_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_video,
        sample_video_frames,
    )
    import numpy as np

    good = encode_video(
        [np.full((2, 2), f, dtype=np.uint8) for f in range(6)]
    )
    rows = [
        (0, "video", good, "video/x-cvid", 2, 2, None),
        (1, "video", None, "video/x-cvid", None, None, None),
        (2, "video", b"not-a-video", "video/x-cvid", None, None, None),
    ]
    assets = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in ASSET_SCHEMA.fields]),
        schema=ASSET_SCHEMA,
    )
    got = sample_video_frames(assets, stride=2).collect()
    assert sorted((r.asset_id, r.frame_index) for r in got) == [
        (0, 0),
        (0, 2),
        (0, 4),
    ]
    assert all(r.width == 2 and r.height == 2 for r in got)


def test_y4m_codec_published_layout():
    """r8: the Y4M encoder's byte layout is pinned against the
    published YUV4MPEG2 spec (mjpegtools): plain-text stream header,
    bare FRAME markers, planar payloads — plus seek-decode and the
    C420 chroma arithmetic."""
    import numpy as np
    import pytest

    from calorista_spark.operators.multimodal import (
        decode_y4m_frame,
        encode_y4m,
        y4m_frame_count,
    )

    frames = [np.full((4, 6), f * 9, dtype=np.uint8) for f in range(3)]
    mono = encode_y4m(frames, colorspace="mono")
    # exact published header + frame marker layout
    head = b"YUV4MPEG2 W6 H4 F25:1 Ip A1:1 Cmono\n"
    assert mono.startswith(head + b"FRAME\n")
    assert len(mono) == len(head) + 3 * (6 + 24)
    assert y4m_frame_count(mono) == 3
    for f in range(3):
        got = decode_y4m_frame(mono, f)
        assert got.shape == (4, 6) and (got == f * 9).all()

    # C420jpeg: +50% chroma bytes per frame, luma decodes identically
    c420 = encode_y4m(frames, colorspace="420jpeg")
    assert y4m_frame_count(c420) == 3
    assert (decode_y4m_frame(c420, 2) == frames[2]).all()
    assert len(c420) - len(mono) == 3 * 12 + len(b"C420jpeg") - len(b"Cmono")

    # error contracts
    with pytest.raises(IndexError):
        decode_y4m_frame(mono, 3)
    with pytest.raises(ValueError):  # odd dims under 4:2:0 subsampling
        encode_y4m([np.zeros((3, 5), dtype=np.uint8)], colorspace="420")
    with pytest.raises(ValueError):
        encode_y4m(frames, colorspace="410")
    with pytest.raises(ValueError):  # per-frame params break fixed stride
        decode_y4m_frame(
            mono.replace(b"FRAME\n", b"FRAME Xcustom\n", 1), 0
        )
    with pytest.raises(ValueError):
        decode_y4m_frame(b"RIFF" + mono[4:], 0)


def test_sample_video_frames_mixed_containers(spark):
    """One asset table holding Y4M and CVID payloads plus junk: the
    sampler sniffs per row and decodes both real containers."""
    import numpy as np
    import pandas as pd

    from calorista_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_video,
        encode_y4m,
        sample_video_frames,
    )

    y4m = encode_y4m(
        [np.full((2, 4), f * 5, dtype=np.uint8) for f in range(4)],
        colorspace="mono",
    )
    cvid = encode_video(
        [np.full((2, 2), f, dtype=np.uint8) for f in range(4)]
    )
    rows = [
        (0, "video", y4m, "video/x-yuv4mpeg", 4, 2, None),
        (1, "video", cvid, "video/x-cvid", 2, 2, None),
        (2, "video", b"junk", "video/mp4", None, None, None),
    ]
    assets = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in ASSET_SCHEMA.fields]),
        schema=ASSET_SCHEMA,
    )
    got = sorted(
        (r.asset_id, r.frame_index, r.width, r.mean_luma)
        for r in sample_video_frames(assets, stride=2).collect()
    )
    assert [(a, f, w) for a, f, w, _ in got] == [
        (0, 0, 4), (0, 2, 4), (1, 0, 2), (1, 2, 2),
    ]
    assert got[1][3] == 10 / 255.0  # y4m frame 2 luma


def test_png_codec_stdlib():
    """r8 stdlib PNG codec: filter-type round-trips, palette decode,
    alpha-channel handling, CRC/truncation integrity, and the typed
    fall-through for interlaced/16-bit files."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from calorista_spark.operators.codecs import (
        UnsupportedImageError,
        decode_image_bytes,
        decode_png,
        encode_png,
        sniff_format,
    )

    rng = np.random.RandomState(11)
    for shape in [(16, 24), (16, 24, 3), (1, 1), (5, 3, 3)]:
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        for filters in [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4]]:
            got = decode_png(encode_png(arr, row_filters=filters))
            assert (got == arr).all(), (shape, filters)
    payload = encode_png(rng.randint(0, 256, (4, 4)).astype(np.uint8))
    assert sniff_format(payload) == "png"

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"

    def handmade(color, depth, interlace, raster, extra=b""):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
        return (
            sig + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b"")
        )

    # palette (color 3) → PLTE lookup
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0, 0, 0, 255]))
    got = decode_image_bytes(
        handmade(3, 8, 0, b"\x00\x00\x01\x00\x02\x00", extra=plte)
    )
    assert got.tolist() == [
        [[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]
    ]
    # gray+alpha (4) → luma plane; RGBA (6) → RGB
    ga = handmade(4, 8, 0, b"\x00" + b"\x09\xff\x07\x80" + b"\x00" + b"\x05\x01\x03\x00")
    assert decode_png(ga).tolist() == [[9, 7], [5, 3]]
    rgba_raster = b"\x00" + bytes(range(8)) + b"\x00" + bytes(range(8, 16))
    assert decode_png(handmade(6, 8, 0, rgba_raster)).shape == (2, 2, 3)

    # integrity: CRC flip and truncation raise
    bad = bytearray(payload)
    bad[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated|IEND"):
        decode_png(payload[:-8])
    # interlaced / 16-bit → typed fall-through error (no Pillow here)
    with pytest.raises((UnsupportedImageError, ValueError)):
        decode_image_bytes(handmade(0, 8, 1, b"\x00\x00\x00\x00\x00\x00"))
    with pytest.raises((UnsupportedImageError, ValueError)):
        decode_png(handmade(0, 16, 0, b"\x00" * 10))


def test_wav_codec_stdlib_interop():
    """Round-trip against the stdlib wave module in BOTH directions —
    our RIFF parser on wave-authored bytes, stdlib reader on our
    encoder's bytes."""
    import io
    import struct  # noqa: F401
    import wave

    import numpy as np

    from calorista_spark.operators.codecs import decode_wav, encode_wav

    samples = ((np.arange(1000) * 131) % 20001 - 10000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(22050)
        w.writeframes(samples.tobytes())
    rate, got = decode_wav(buf.getvalue())
    assert rate == 22050 and got.shape == (500, 2)
    assert (got.ravel() == samples).all()

    buf2 = io.BytesIO(encode_wav(samples.reshape(-1, 2), 22050))
    with wave.open(buf2, "rb") as r:
        assert r.getnchannels() == 2 and r.getframerate() == 22050
        back = np.frombuffer(r.readframes(r.getnframes()), dtype="<i2")
    assert (back == samples).all()


def test_y4m_444alpha_exact_token_layout():
    """r9 (ADVICE r8): colorspace tokens match EXACTLY — C444alpha is
    not C444. Its alpha plane is part of the frame stride, so frame
    count and seek-decode stay correct instead of silently dropping
    every frame after index 0."""
    import numpy as np

    from calorista_spark.operators.multimodal import (
        decode_y4m_frame,
        encode_y4m,
        y4m_frame_count,
    )

    frames = [np.full((4, 6), f * 7, dtype=np.uint8) for f in range(3)]
    stream = encode_y4m(frames, colorspace="444alpha")
    head = b"YUV4MPEG2 W6 H4 F25:1 Ip A1:1 C444alpha\n"
    assert stream.startswith(head + b"FRAME\n")
    # frame = marker + Y + U + V + A (4 full planes of 24 bytes)
    assert len(stream) == len(head) + 3 * (6 + 4 * 24)
    assert y4m_frame_count(stream) == 3
    for f in range(3):
        got = decode_y4m_frame(stream, f)
        assert got.shape == (4, 6) and (got == f * 7).all()


def test_png_palette_bounds_validated():
    """r9 (ADVICE r8): a malformed palette PNG whose raster references
    an out-of-range index raises the codec seam's ValueError contract,
    not a raw numpy IndexError."""
    import struct
    import zlib

    import pytest

    from calorista_spark.operators.codecs import decode_png

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    def palette_png(plte: bytes, indices: list[int]) -> bytes:
        w = len(indices)
        ihdr = struct.pack(">IIBBBBB", w, 1, 8, 3, 0, 0, 0)
        raster = zlib.compress(bytes([0, *indices]))  # one unfiltered row
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", plte)
            + chunk(b"IDAT", raster)
            + chunk(b"IEND", b"")
        )

    two_entry = bytes([255, 0, 0, 0, 255, 0])  # red, green
    ok = decode_png(palette_png(two_entry, [0, 1, 1]))
    assert ok.shape == (1, 3, 3) and list(ok[0, 1]) == [0, 255, 0]

    with pytest.raises(ValueError, match="palette index"):
        decode_png(palette_png(two_entry, [0, 5]))
    with pytest.raises(ValueError, match="PLTE length"):
        decode_png(palette_png(bytes([1, 2, 3, 4]), [0]))


def test_jpeg_codec_baseline():
    """r9: the pure-numpy baseline JPEG codec (ITU-T.81). Exactness on
    constant-per-block fixtures under the flat quant table (the oracle
    contract), bounded loss on arbitrary content, both chroma
    samplings, restart intervals, and the typed error seam."""
    import numpy as np
    import pytest

    from calorista_spark.operators.codecs import (
        UnsupportedImageError,
        decode_image_bytes,
        decode_jpeg,
        encode_jpeg,
        sniff_format,
    )

    H, W, aid = 16, 24, 37
    yy = np.arange(H)
    vals = (aid + (yy - yy % 8)) % 256
    img = np.repeat(vals.astype(np.uint8)[:, None], W, axis=1)
    data = encode_jpeg(img)
    assert sniff_format(data) == "jpeg"
    assert (decode_jpeg(data) == img).all()          # exact round-trip
    assert (decode_image_bytes(data) == img).all()   # dispatch seam

    # arbitrary content: lossy but bounded (flat quant 8 → small error)
    rng = np.random.RandomState(0)
    noisy = (rng.rand(24, 40) * 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(noisy))
    assert int(np.abs(out.astype(int) - noisy.astype(int)).max()) <= 32

    # achromatic color: YCbCr round-trips exactly in 4:4:4, and in
    # 4:2:0 when blocks are constant at the 16x16 MCU granularity
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    assert (decode_jpeg(encode_jpeg(rgb, subsampling="4:4:4")) == rgb).all()
    v16 = (aid + (yy - yy % 16)) % 256
    img16 = np.repeat(v16.astype(np.uint8)[:, None], 32, axis=1)
    rgb16 = np.repeat(img16[:, :, None], 3, axis=2)
    assert (
        decode_jpeg(encode_jpeg(rgb16, subsampling="4:2:0")) == rgb16
    ).all()

    # restart intervals: DC predictors reset at every RST marker
    assert (decode_jpeg(encode_jpeg(img, restart_interval=2)) == img).all()

    # non-MCU-aligned dimensions decode to the exact declared size
    odd = np.repeat(
        ((np.arange(17) - np.arange(17) % 8 + 5) % 256)
        .astype(np.uint8)[:, None],
        21,
        axis=1,
    )
    assert (decode_jpeg(encode_jpeg(odd)) == odd).all()

    # typed seam: progressive falls through, corrupt raises ValueError
    mutated = bytearray(data)
    i = bytes(mutated).find(b"\xff\xc0")
    mutated[i + 1] = 0xC2
    with pytest.raises(UnsupportedImageError, match="progressive"):
        decode_jpeg(bytes(mutated))
    with pytest.raises(ValueError):
        decode_jpeg(data[:40])


def test_jpeg_spec_valid_external_variants():
    """r10 (ADVICE r9): spec-valid streams this codec's own encoder
    never emits — 0xFF fill bytes before markers (T.81 B.1.1.2), a
    standalone TEM marker, and a stream that ends without EOI — must
    all decode to the same pixels as the canonical bytes."""
    import numpy as np

    from calorista_spark.operators.codecs import decode_jpeg, encode_jpeg

    H, W, aid = 16, 24, 37
    yy = np.arange(H)
    vals = (aid + (yy - yy % 8)) % 256
    img = np.repeat(vals.astype(np.uint8)[:, None], W, axis=1)
    data = encode_jpeg(img)

    # fill bytes: two extra 0xFF before the SOF marker
    i = data.find(b"\xff\xc0")
    padded = data[:i] + b"\xff\xff" + data[i:]
    assert (decode_jpeg(padded) == img).all()

    # standalone TEM (0xFF01) between segments: no length field
    tem = data[:2] + b"\xff\x01" + data[2:]
    assert (decode_jpeg(tem) == img).all()

    # stream truncated AT the EOI marker: the final entropy byte must
    # survive (the old boundary search dropped it)
    assert data.endswith(b"\xff\xd9")
    assert (decode_jpeg(data[:-2]) == img).all()

    # all three at once
    combo = tem[:i + 2] + b"\xff" + tem[i + 2:-2]
    assert (decode_jpeg(combo) == img).all()


def test_gif_codec_stdlib():
    """r9: pure-stdlib GIF87a/89a decoder (variable-width LZW,
    interlace, color tables) + the deterministic compression-free
    encoder — lossless round-trip, interlace de-permutation, and the
    typed error seam."""
    import numpy as np
    import pytest

    from calorista_spark.operators.codecs import (
        UnsupportedImageError,
        decode_gif,
        decode_image_bytes,
        encode_gif,
        sniff_format,
    )

    rng = np.random.RandomState(1)
    img = (rng.rand(17, 23) * 255).astype(np.uint8)
    data = encode_gif(img)
    assert sniff_format(data) == "gif"
    out = decode_gif(data)
    assert out.shape == (17, 23, 3)
    assert (out == img[:, :, None]).all()            # identity palette
    assert (decode_image_bytes(data) == img[:, :, None]).all()

    # interlaced frames land in display order (the Adam-style 8/8/4/2
    # row schedule of the GIF spec)
    tall = (np.arange(16 * 8) % 256).astype(np.uint8).reshape(16, 8)
    rows = (
        list(range(0, 16, 8))
        + list(range(4, 16, 8))
        + list(range(2, 16, 4))
        + list(range(1, 16, 2))
    )
    stream_order = tall[rows]
    d = bytearray(encode_gif(stream_order))
    idesc = 6 + 7 + 768
    assert d[idesc] == 0x2C
    d[idesc + 9] |= 0x40  # set the interlace flag
    assert (decode_gif(bytes(d))[:, :, 0] == tall).all()

    with pytest.raises(ValueError):
        decode_gif(data[:40])                        # truncated
    # frame with no color table anywhere: typed fall-through
    no_tab = bytearray(encode_gif(stream_order))
    no_tab[10] &= 0x7F
    del no_tab[13 : 13 + 768]
    with pytest.raises(UnsupportedImageError):
        decode_gif(bytes(no_tab))


def test_image_codec_error_seam_fuzz():
    """r9 (self-review finding): EVERY malformed-stream failure in the
    JPEG/GIF decoders must surface as ValueError (or the typed
    UnsupportedImageError) — never a raw struct.error / IndexError /
    StopIteration that would escape the Arrow extractors' null-the-row
    seam and kill the Spark task. Includes the decompression-bomb
    guards: hostile dimension fields fail fast instead of allocating
    gigabytes or grinding a million-block Python loop."""
    import random

    import numpy as np

    from calorista_spark.operators.codecs import (
        UnsupportedImageError,
        decode_gif,
        decode_jpeg,
        encode_gif,
        encode_jpeg,
    )

    img = (np.arange(48) % 256).astype(np.uint8).reshape(4, 12)
    g = encode_gif(img)
    j = encode_jpeg(img, restart_interval=1)
    rng = random.Random(0)
    for data, dec in [(g, decode_gif), (j, decode_jpeg)]:
        # truncations at every interesting boundary
        for cut in (8, 20, len(data) // 3, len(data) // 2, len(data) - 3):
            try:
                dec(data[:cut])
            except (ValueError, UnsupportedImageError):
                pass
        # random byte mutations
        for _ in range(60):
            b = bytearray(data)
            for _ in range(5):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                dec(bytes(b))
            except (ValueError, UnsupportedImageError):
                pass
    # dimension bombs reject fast
    import struct

    bomb = bytearray(encode_jpeg(img))
    i = bytes(bomb).find(b"\xff\xc0")
    bomb[i + 5 : i + 9] = struct.pack(">HH", 60000, 60000)
    import pytest

    with pytest.raises(ValueError, match="implausible|entropy"):
        decode_jpeg(bytes(bomb))
