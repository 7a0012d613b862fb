"""Multimodal plumbing tests: schema, mapInPandas batch shape, fan-out,
and the embedding contract into the similarity operators."""

import pytest
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.multimodal.ops import (
    decode_metadata,
    extract_features,
    resize_images,
    sample_frames,
    synth_media_table,
)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media_table(spark, 60).cache()


def test_decode_metadata(media):
    out = decode_metadata(media)
    rows = out.collect()
    assert len(rows) == 60
    assert all(r["width"] >= 64 and r["height"] >= 64 for r in rows)
    images = [r for r in rows if r["media_type"] == "image"]
    assert all(r["n_frames"] == 1 for r in images)


def test_resize_images(media):
    out = resize_images(media, 224, 224)
    meta = decode_metadata(out).collect()
    assert len(meta) == 20
    assert all(r["width"] == 224 and r["height"] == 224 for r in meta)


def test_sample_frames_fanout(media):
    frames = sample_frames(media, every_n=10)
    per_vid = frames.groupBy("media_id").count().collect()
    assert len(per_vid) == 20  # one third are videos
    meta = {r["media_id"]: r["n_frames"] for r in decode_metadata(media).collect()}
    for r in per_vid:
        expected = (meta[r["media_id"]] + 9) // 10
        assert r["count"] == expected


def test_extract_features_contract(media, spark):
    emb = extract_features(media, dim=64)
    row = emb.first()
    assert len(row["embedding"]) == 64
    # plugs into the similarity operator unchanged
    from lakehouse_to_rag_spark.operators.similarity import knn_bruteforce

    corpus = emb.withColumnRenamed("media_id", "vec_id")
    queries = corpus.filter(F.col("vec_id") < 3)
    topk = knn_bruteforce(corpus, queries, k=3)
    assert topk.count() == 9


def test_real_decode_raises(spark):
    fake = spark.createDataFrame(
        [(0, "image", b"\x89PNG....", "image/png", 8)],
        synth_media_table(spark, 1).schema,
    )
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_metadata(fake).collect()


def test_binary_digest_arrow_equals_pandas(spark, sf_dir):
    """mapInArrow digest must be byte-identical to the mapInPandas
    form (same md5, same lengths) on real binary payloads."""
    from pyspark.sql import functions as F

    from lakehouse_to_rag_spark.multimodal.ops import (
        binary_digest,
        binary_digest_arrow,
    )
    from lakehouse_to_rag_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    a = sorted(map(tuple, binary_digest(docs).collect()))
    b = sorted(map(tuple, binary_digest_arrow(docs).collect()))
    assert a == b and len(a) > 0


class TestBmpCodec:
    """Real 24-bit BMP codec (pure numpy): the one dependency-free
    format where decode/resize run on REAL pixels, not header fakes."""

    def test_roundtrip_identity(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import decode_bmp, encode_bmp

        rng = np.random.default_rng(7)
        for w, h in [(1, 1), (5, 3), (16, 12), (33, 21)]:  # incl. row-padding cases
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert (decode_bmp(encode_bmp(px)) == px).all()

    def test_non_bmp_raises_not_implemented(self):
        import pytest

        from lakehouse_to_rag_spark.multimodal.ops import decode_bmp

        with pytest.raises(NotImplementedError):
            decode_bmp(b"\x89PNG____not_a_bmp")

    def test_decode_stats_distributed(self, spark):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_bmp,
            decode_bmp_stats,
            synth_bmp_table,
        )

        media = synth_bmp_table(spark, n=30)
        got = {r["media_id"]: r for r in decode_bmp_stats(media).collect()}
        assert len(got) == 30
        # spot-check one image against a local decode
        payload = media.filter("media_id = 7").collect()[0]["payload"]
        px = decode_bmp(bytes(payload))
        r = got[7]
        assert (r["height"], r["width"]) == px.shape[:2]
        assert abs(r["mean_r"] - px.reshape(-1, 3).mean(axis=0)[0]) < 1e-3

    def test_resize_changes_pixels_not_just_header(self, spark):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_bmp,
            resize_bmp,
            synth_bmp_table,
        )

        media = synth_bmp_table(spark, n=6)
        out = resize_bmp(media, width=8, height=8).collect()
        assert len(out) == 6
        for row in out:
            px = decode_bmp(bytes(row["payload"]))
            assert px.shape == (8, 8, 3)
        # resized content must come from the source image (gradient
        # corner pixels survive nearest-neighbor)
        src = decode_bmp(bytes(media.filter("media_id = 0").collect()[0]["payload"]))
        dst = decode_bmp(bytes([r for r in out if r["media_id"] == 0][0]["payload"]))
        assert (dst[0, 0] == src[0, 0]).all()


class TestPngCodec:
    """Stdlib PNG codec: roundtrip, filter coverage, and the full
    distributed pipeline (metadata/stats/resize/features) over real
    PNG pixels."""

    def test_roundtrip_rgb_and_rgba(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import decode_png, encode_png

        rng = np.random.default_rng(7)
        for shape in [(1, 1, 3), (5, 3, 3), (12, 17, 3), (9, 4, 4), (33, 31, 4)]:
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            assert (decode_png(encode_png(px)) == px).all()

    def test_decode_all_scanline_filters(self):
        """Hand-build a PNG whose rows use filters 0-4 and check the
        decoder against an independent straight-line reference
        implementation (real encoders pick filters per row, so the
        decoder must handle all five, not just our filter-0 output)."""
        import struct as st
        import zlib

        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import _PNG_SIG, decode_png

        rng = np.random.default_rng(11)
        w, h, ch = 9, 5, 3
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8).astype(int)
        filters = [0, 1, 2, 3, 4]

        # reference FORWARD filtering (per PNG spec, plain loops)
        stride = w * ch
        flat = px.reshape(h, stride)
        raw = bytearray()
        for y, ft in enumerate(filters):
            raw.append(ft)
            for x in range(stride):
                cur = flat[y][x]
                a = flat[y][x - ch] if x >= ch else 0
                b = flat[y - 1][x] if y > 0 else 0
                c = flat[y - 1][x - ch] if y > 0 and x >= ch else 0
                if ft == 0:
                    v = cur
                elif ft == 1:
                    v = cur - a
                elif ft == 2:
                    v = cur - b
                elif ft == 3:
                    v = cur - ((a + b) >> 1)
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = cur - pred
                raw.append(v & 0xFF)

        def chunk(tag, body):
            return (
                st.pack(">I", len(body)) + tag + body
                + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        payload = (
            _PNG_SIG
            + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        assert (decode_png(payload) == px).all()

    def test_unsupported_png_shapes_raise(self):
        import struct as st
        import zlib

        import pytest

        from lakehouse_to_rag_spark.multimodal.ops import _PNG_SIG, decode_png

        def chunk(tag, body):
            return (
                st.pack(">I", len(body)) + tag + body
                + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        # palette color type (3) is out of scope
        pal = (
            _PNG_SIG
            + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError):
            decode_png(pal)
        with pytest.raises(NotImplementedError):
            decode_png(b"BMnot_a_png")

    def test_png_pipeline_distributed(self, spark):
        """metadata -> stats -> resize -> features over a mixed
        BMP+PNG corpus: every stage dispatches per payload format."""
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_image,
            decode_image_stats,
            decode_metadata,
            extract_features,
            resize_real_images,
            synth_bmp_table,
            synth_png_table,
        )

        bmp = synth_bmp_table(spark, n=10)
        png = synth_png_table(spark, n=10).withColumn(
            "media_id", F.col("media_id") + 100
        )
        media = bmp.unionByName(png)

        meta = {r["media_id"]: r for r in decode_metadata(media).collect()}
        assert len(meta) == 20
        payload7 = bytes(png.filter("media_id = 107").collect()[0]["payload"])
        px7 = decode_image(payload7)
        assert (meta[107]["height"], meta[107]["width"]) == px7.shape[:2]

        stats = {r["media_id"]: r for r in decode_image_stats(media).collect()}
        assert abs(
            stats[107]["mean_r"] - px7[:, :, :3].reshape(-1, 3).mean(axis=0)[0]
        ) < 1e-3

        out = resize_real_images(media, width=8, height=6).collect()
        assert len(out) == 20
        for row in out:
            px = decode_image(bytes(row["payload"]))
            assert px.shape[:2] == (6, 8)
            # format preserved
            is_png = bytes(row["payload"])[:4] == b"\x89PNG"[:4]
            assert is_png == (row["media_id"] >= 100)

        emb = extract_features(media, dim=48).collect()
        assert len(emb) == 20
        for r in emb:
            v = np.array(r["embedding"], dtype=np.float32)
            assert v.shape == (48,) and abs(float((v * v).sum()) - 1.0) < 1e-3

    def test_png_bmp_same_pixels_same_features(self, spark):
        """The BMP and PNG synth tables share the pixel recipe; for
        RGB images the real-pixel feature extractor must therefore
        produce identical embeddings regardless of container format."""
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            extract_features,
            synth_bmp_table,
            synth_png_table,
        )

        bmp = synth_bmp_table(spark, n=9)
        png = synth_png_table(spark, n=9)
        fb = {r["media_id"]: r["embedding"] for r in extract_features(bmp, dim=27).collect()}
        fp = {r["media_id"]: r["embedding"] for r in extract_features(png, dim=27).collect()}
        rgb_ids = [i for i in range(9) if i % 3 != 0]  # RGBA thirds differ
        assert rgb_ids
        for i in rgb_ids:
            assert np.allclose(fb[i], fp[i], atol=1e-6)


class TestWavCodec:
    """Stdlib WAV/PCM16 codec: roundtrip, malformed payloads, and the
    distributed audio stats/features stages on real samples."""

    def test_roundtrip_mono_stereo(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import decode_wav, encode_wav

        rng = np.random.default_rng(3)
        mono = rng.integers(-32768, 32768, size=301, dtype=np.int16)
        rate, back = decode_wav(encode_wav(mono, sample_rate=16000))
        assert rate == 16000 and back.shape == (301, 1)
        assert (back[:, 0] == mono).all()

        stereo = rng.integers(-32768, 32768, size=(77, 2), dtype=np.int16)
        rate, back = decode_wav(encode_wav(stereo, sample_rate=44100))
        assert rate == 44100 and (back == stereo).all()

    def test_unsupported_raises(self):
        import numpy as np
        import pytest

        from lakehouse_to_rag_spark.multimodal.ops import decode_wav, encode_wav

        with pytest.raises(NotImplementedError):
            decode_wav(b"RIFFxxxxNOPE")
        with pytest.raises(NotImplementedError):
            decode_wav(b"\x89PNG\r\n\x1a\n")
        with pytest.raises(NotImplementedError):
            encode_wav(np.zeros(4, dtype=np.float32))

    def test_audio_stats_distributed(self, spark):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            audio_stats,
            decode_wav,
            synth_wav_table,
        )

        media = synth_wav_table(spark, n=20)
        got = {r["media_id"]: r for r in audio_stats(media).collect()}
        assert len(got) == 20
        # stereo every third clip
        assert got[0]["n_channels"] == 2 and got[1]["n_channels"] == 1
        # spot-check one clip against a local decode
        payload = bytes(media.filter("media_id = 5").collect()[0]["payload"])
        _, frames = decode_wav(payload)
        v = frames[:, 0].astype(np.int64)
        r = got[5]
        assert r["n_samples"] == len(v)
        assert abs(r["rms"] - float(np.sqrt((v * v).sum() / len(v)))) < 1e-9
        assert r["peak"] == int(np.abs(v).max())

    def test_audio_features_contract(self, spark):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            audio_features,
            synth_wav_table,
        )

        media = synth_wav_table(spark, n=12)
        emb = {r["media_id"]: np.array(r["embedding"], dtype=np.float32)
               for r in audio_features(media, n_bands=16).collect()}
        assert len(emb) == 12
        for v in emb.values():
            assert v.shape == (16,)
            assert abs(float((v * v).sum()) - 1.0) < 1e-3
        # deterministic: same table re-collected gives identical vectors
        emb2 = {r["media_id"]: np.array(r["embedding"], dtype=np.float32)
                for r in audio_features(media, n_bands=16).collect()}
        for k in emb:
            assert np.allclose(emb[k], emb2[k])


class TestFlacCodec:
    """Stdlib FLAC codec: lossless roundtrip across subframe types and
    channel layouts, CRC/MD5 fail-closed contracts, and container
    equivalence with the WAV audio operators."""

    def test_roundtrip_mono_stereo(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.flac import (
            decode_flac,
            encode_flac,
        )

        rng = np.random.default_rng(3)
        # small block size -> many frames -> the CONSTANT/VERBATIM/
        # LPC/FIXED rotation in the encoder all get hit
        mono = rng.integers(-32768, 32768, size=3001, dtype=np.int16)
        rate, back = decode_flac(encode_flac(mono, 16000, block_size=256))
        assert rate == 16000 and back.shape == (3001, 1)
        assert (back[:, 0] == mono.astype(np.int32)).all()

        stereo = rng.integers(-32768, 32768, size=(1777, 2), dtype=np.int16)
        rate, back = decode_flac(encode_flac(stereo, 44100, block_size=192))
        assert rate == 44100 and (back == stereo.astype(np.int32)).all()

        flat = np.full(700, -123, dtype=np.int16)  # all-CONSTANT clip
        _, back = decode_flac(encode_flac(flat, 8000, block_size=256))
        assert (back[:, 0] == -123).all()

    def test_corruption_fails_closed(self):
        import numpy as np
        import pytest

        from lakehouse_to_rag_spark.multimodal.flac import (
            decode_flac,
            encode_flac,
        )

        mono = (np.arange(1000) % 2000 - 1000).astype(np.int16)
        good = encode_flac(mono, 8000, block_size=256)
        with pytest.raises(NotImplementedError):
            decode_flac(b"NOPE" + good[4:])
        with pytest.raises(NotImplementedError):
            decode_flac(good[: len(good) // 2])  # truncated
        bad = bytearray(good)
        bad[len(bad) - 40] ^= 0x10  # flip a residual bit in a frame
        with pytest.raises(NotImplementedError, match="CRC|MD5|sync"):
            decode_flac(bytes(bad))
        with pytest.raises(NotImplementedError):
            encode_flac(np.zeros(4, dtype=np.float32))

    def test_corrupt_wasted_bits_fail_closed(self):
        """A wasted-bits run >= bps would drive the sample width to
        zero or negative — must raise the documented
        NotImplementedError BEFORE any shift, not a raw ValueError
        through the Arrow batch (frame CRC runs only after subframe
        decode, so it cannot intercept this)."""
        import pytest

        from lakehouse_to_rag_spark.multimodal.flac import (
            _BitReader,
            _BitWriter,
            _decode_subframe,
        )

        w = _BitWriter()
        w.write(0, 1)          # subframe padding bit
        w.write(0b000000, 6)   # CONSTANT
        w.write(1, 1)          # wasted-bits flag
        w.write(1, 17)         # unary: 16 zeros + 1 -> wasted = 17
        w.write(0, 16)         # would-be constant value
        w.align()
        with pytest.raises(NotImplementedError, match="wasted bits"):
            _decode_subframe(_BitReader(w.getvalue()), nb=4, bps=16)

    def test_streaminfo_header_only_parse(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.flac import (
            encode_flac,
            flac_streaminfo,
        )

        st = np.stack([np.arange(1234, dtype=np.int16)] * 2, axis=1)
        rate, ch, total = flac_streaminfo(encode_flac(st, 22050))
        assert (rate, ch, total) == (22050, 2, 1234)

    def test_audio_stats_match_wav_container(self, spark):
        """The FLAC synth corpus carries the SAME samples as the WAV
        one, so every audio_stats row must be identical — the
        dispatcher + codec are invisible to downstream operators."""
        from lakehouse_to_rag_spark.multimodal.ops import (
            audio_stats,
            synth_flac_table,
            synth_wav_table,
        )

        w = {r["media_id"]: tuple(r)[1:]
             for r in audio_stats(synth_wav_table(spark, n=15)).collect()}
        f = {r["media_id"]: tuple(r)[1:]
             for r in audio_stats(synth_flac_table(spark, n=15)).collect()}
        assert w == f and len(w) == 15

    def test_metadata_and_resample_accept_flac(self, spark):
        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_audio,
            decode_metadata,
            resample_audio,
            synth_flac_table,
        )

        media = synth_flac_table(spark, n=6)
        meta = {r["media_id"]: r for r in decode_metadata(media).collect()}
        assert meta[0]["width"] == 8000  # sample rate mapping
        assert meta[0]["height"] == 2 and meta[1]["height"] == 1
        assert meta[1]["n_frames"] == 900  # 800 + (1 % 7) * 100
        out = resample_audio(media, target_rate=4000).collect()
        for r in out:
            rate, frames = decode_audio(bytes(r["payload"]))
            assert rate == 4000 and frames.shape[0] > 0
            # re-encoded payloads are WAV and the mime says so
            assert bytes(r["payload"])[:4] == b"RIFF"
            assert r["mime"] == "audio/wav"
        # rate-matching FLAC rows pass through with payload AND mime
        same = resample_audio(media, target_rate=8000).collect()
        for r in same:
            assert bytes(r["payload"])[:4] == b"fLaC"
            assert r["mime"] == "audio/flac"


class TestGifCodec:
    """Stdlib animated-GIF codec (full LZW): roundtrip, structure
    scan, and the real video -> frames -> image pipeline chain."""

    def test_lzw_roundtrip_all_regimes(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import _lzw_decode, _lzw_encode

        rng = np.random.default_rng(5)
        # (min_code_size, n): growth to wider codes, 12-bit cap + reset
        for min_code, n in [(2, 40), (2, 6000), (4, 1000), (8, 120000)]:
            idx = [int(x) for x in rng.integers(0, 1 << min_code, size=n)]
            assert _lzw_decode(_lzw_encode(idx, min_code), min_code) == idx
        # repetitive input exercises long dictionary matches
        rep = [3, 1, 4, 1, 5] * 2000
        assert _lzw_decode(_lzw_encode(rep, 4), 4) == rep

    def test_animated_roundtrip(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import decode_gif, encode_gif

        rng = np.random.default_rng(9)
        pal = rng.integers(0, 256, size=(216, 3), dtype=np.uint8)
        frames = [
            rng.integers(0, 216, size=(11, 19)).astype(np.uint8)
            for _ in range(5)
        ]
        out = decode_gif(encode_gif(frames, pal))
        assert len(out) == 5
        for got, idx in zip(out, frames):
            assert (got == pal[idx]).all()

    def test_header_scan_matches_decode(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            _parse_header,
            decode_gif,
            encode_gif,
        )

        pal = np.array([[0, 0, 0], [255, 255, 255], [10, 20, 30]], dtype=np.uint8)
        frames = [np.zeros((7, 9), dtype=np.uint8) + (i % 3) for i in range(4)]
        gif = encode_gif(frames, pal)
        w, h, n = _parse_header(gif)
        assert (w, h, n) == (9, 7, 4)
        assert len(decode_gif(gif)) == 4

    def test_interlaced_and_garbage_raise(self):
        import pytest

        from lakehouse_to_rag_spark.multimodal.ops import decode_gif

        with pytest.raises(NotImplementedError):
            decode_gif(b"NOTAGIF")
        # minimal interlaced image descriptor
        import struct as st

        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import encode_gif

        pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
        gif = bytearray(encode_gif([np.zeros((4, 4), dtype=np.uint8)], pal))
        # flip the interlace bit of the first image descriptor
        pos = gif.index(0x2C, 13)
        gif[pos + 9] |= 0x40
        with pytest.raises(NotImplementedError):
            decode_gif(bytes(gif))

    def test_video_frames_to_image_pipeline(self, spark):
        """The multimodal triad end-to-end on real codecs: GIF video ->
        sample_frames emits real PNG frames -> image feature extraction
        consumes them. Sampled frame pixels must equal the directly
        decoded animation frames."""
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_gif,
            decode_png,
            extract_features,
            sample_frames,
            synth_gif_table,
        )

        media = synth_gif_table(spark, n=8)
        sampled = sample_frames(media, every_n=2).collect()
        assert sampled
        by_media = {}
        for r in sampled:
            by_media.setdefault(r["media_id"], []).append(r)
        for mid, rows in by_media.items():
            payload = bytes(
                media.filter(F.col("media_id") == mid).collect()[0]["payload"]
            )
            truth = decode_gif(payload)
            assert [r["frame_index"] for r in sorted(rows, key=lambda r: r["frame_index"])] == list(range(0, len(truth), 2))
            for r in rows:
                px = decode_png(bytes(r["frame_payload"]))
                assert (px == truth[r["frame_index"]]).all()

        # sampled PNG frames feed the image feature extractor directly
        frames_df = spark.createDataFrame(
            [(r["media_id"] * 1000 + r["frame_index"], "image",
              bytes(r["frame_payload"]), "image/png",
              len(bytes(r["frame_payload"])))
             for r in sampled],
            "media_id long, media_type string, payload binary, mime string, n_bytes long",
        )
        emb = extract_features(frames_df, dim=27).collect()
        assert len(emb) == len(sampled)
        for r in emb:
            v = np.array(r["embedding"], dtype=np.float32)
            assert abs(float((v * v).sum()) - 1.0) < 1e-3


class TestMediaTransforms:
    """Bilinear resize + audio resampling round out the transform set."""

    def test_bilinear_matches_reference_2x2(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import _bilinear_resize

        px = np.array(
            [[[0, 0, 0], [100, 100, 100]], [[200, 200, 200], [40, 40, 40]]],
            dtype=np.uint8,
        )
        # upscale 2x2 -> 4x4: center-aligned sample grid lands at
        # src coords {-0.25, 0.25, 0.75, 1.25}; corners replicate
        out = _bilinear_resize(px, 4, 4)
        assert out.shape == (4, 4, 3)
        assert (out[0, 0] == 0).all() and (out[0, 3] == 100).all()
        assert (out[3, 0] == 200).all() and (out[3, 3] == 40).all()
        # exact midpoint between 0 and 100 at (0, y=0.25..) row blend
        assert out[1, 1, 0] == round(0 * 0.75 * 0.75 + 100 * 0.75 * 0.25
                                     + 200 * 0.25 * 0.75 + 40 * 0.25 * 0.25)

    def test_bilinear_constant_image_is_exact_any_size(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import _bilinear_resize

        px = np.full((7, 11, 3), 137, dtype=np.uint8)
        for w, h in [(3, 3), (22, 14), (1, 1), (30, 2)]:
            assert (_bilinear_resize(px, w, h) == 137).all()

    def test_bilinear_distributed_format_preserving(self, spark):
        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_image,
            resize_real_images,
            synth_bmp_table,
            synth_png_table,
        )

        media = synth_bmp_table(spark, n=4).unionByName(
            synth_png_table(spark, n=4).withColumn(
                "media_id", F.col("media_id") + 100
            )
        )
        out = resize_real_images(media, 9, 7, method="bilinear").collect()
        assert len(out) == 8
        for r in out:
            assert decode_image(bytes(r["payload"])).shape[:2] == (7, 9)

    def test_audio_resample_properties(self, spark):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_wav,
            resample_audio,
            synth_wav_table,
        )

        media = synth_wav_table(spark, n=6)
        orig = {r["media_id"]: decode_wav(bytes(r["payload"]))
                for r in media.collect()}
        out = {r["media_id"]: decode_wav(bytes(r["payload"]))
               for r in resample_audio(media, target_rate=16000).collect()}
        for mid, (rate, frames) in out.items():
            assert rate == 16000
            o_rate, o_frames = orig[mid]
            # 8000 -> 16000: double the samples (within rounding)
            assert abs(len(frames) - 2 * len(o_frames)) <= 1
            assert frames.shape[1] == o_frames.shape[1]
            # linear interp passes through original samples at 2x
            assert (frames[::2, 0] == o_frames[: len(frames[::2]), 0]).all()
        # identity when already at target rate
        same = {r["media_id"]: bytes(r["payload"])
                for r in resample_audio(media, target_rate=8000).collect()}
        for r in media.collect():
            assert same[r["media_id"]] == bytes(r["payload"])


def test_dispatch_consistency_all_real_codecs(spark):
    """Every payload _parse_header accepts must flow through the
    pipeline stages without NotImplementedError: GIF decodes via
    decode_image (first frame), WAV maps to audio metadata, and
    extract_features handles a table mixing all four real formats."""
    import numpy as np

    from lakehouse_to_rag_spark.multimodal.ops import (
        _parse_header,
        decode_gif,
        decode_image,
        decode_metadata,
        extract_features,
        synth_bmp_table,
        synth_gif_table,
        synth_png_table,
        synth_wav_table,
    )

    gif = synth_gif_table(spark, n=3)
    gpayload = bytes(gif.collect()[0]["payload"])
    assert (decode_image(gpayload) == decode_gif(gpayload)[0]).all()

    wav = synth_wav_table(spark, n=3)
    wpayload = bytes(wav.collect()[1]["payload"])
    rate, ch, n = _parse_header(wpayload)
    assert rate == 8000 and ch == 1 and n == 900

    media = (
        synth_bmp_table(spark, n=3)
        .unionByName(synth_png_table(spark, n=3).withColumn(
            "media_id", F.col("media_id") + 100))
        .unionByName(gif.withColumn("media_id", F.col("media_id") + 200))
        .unionByName(wav.withColumn("media_id", F.col("media_id") + 300))
    )
    meta = decode_metadata(media).collect()
    assert len(meta) == 12
    emb = extract_features(
        media.filter(F.col("media_type") != "audio"), dim=27
    ).collect()
    assert len(emb) == 9
    for r in emb:
        v = np.array(r["embedding"], dtype=np.float32)
        assert abs(float((v * v).sum()) - 1.0) < 1e-3


def test_truncated_magic_payloads_raise_documented_error():
    """Corrupt payloads whose magic matches a known format must still
    fail under the documented NotImplementedError contract, not leak
    struct.error/IndexError into the Arrow batch."""
    import pytest

    from lakehouse_to_rag_spark.multimodal.ops import _parse_header

    for corrupt in (
        b"BM",                      # BMP magic, no header
        b"\x89PNG\r\n\x1a\n",       # bare PNG signature
        b"GIF89a",                  # 6-byte GIF
        b"GIF89a\x04\x00\x03\x00",  # GIF truncated mid-screen-descriptor
        b"RIFF\x00\x00\x00\x00WAVE",  # WAV with no chunks
        b"SYNM\x01\x00",            # synthetic magic, truncated dims
    ):
        with pytest.raises(NotImplementedError):
            _parse_header(corrupt)


def test_gif_resize_is_format_preserving(spark):
    """resize_real_images on GIF payloads must re-emit GIF (mime_type
    stays honest), with the resized first frame decodable at target
    size and pixel-equal to resizing the decoded frame directly."""
    import numpy as np

    from lakehouse_to_rag_spark.multimodal.ops import (
        _nn_resize,
        decode_gif,
        resize_real_images,
        synth_gif_table,
    )

    media = synth_gif_table(spark, n=4)
    originals = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    out = resize_real_images(media, 8, 6).collect()
    assert len(out) == 4
    for r in out:
        payload = bytes(r["payload"])
        assert payload[:6] in (b"GIF87a", b"GIF89a")
        frames = decode_gif(payload)
        assert frames[0].shape == (6, 8, 3)
        want = _nn_resize(decode_gif(originals[r["media_id"]])[0], 8, 6)
        assert np.array_equal(frames[0], want)


class TestJpegCodec:
    """Baseline JPEG (multimodal/jpeg.py): flat-color exactness (the
    oracle's contract), lossy-roundtrip quality, format dispatch, and
    honest refusal of unsupported modes."""

    def _flat_closed_form(self, rgb, quality):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import (
            quality_scaled_tables,
        )

        def rhu(x):
            return np.floor(x + 0.5)

        r, g, b = map(float, rgb)
        y = min(255.0, max(0.0, rhu(0.299 * r + 0.587 * g + 0.114 * b)))
        cb = min(255.0, max(0.0, rhu(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)))
        cr = min(255.0, max(0.0, rhu(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)))
        lq, cq = quality_scaled_tables(quality)
        ql, qc = float(lq[0, 0]), float(cq[0, 0])

        def rt(v, q):  # unrounded reconstructed plane value
            return rhu(8 * (v - 128) / q) * q / 8 + 128

        y2, cb2, cr2 = rt(y, ql), rt(cb, qc), rt(cr, qc)
        rr = min(255, max(0, rhu(y2 + 1.402 * (cr2 - 128))))
        gg = min(255, max(0, rhu(y2 - 0.344136 * (cb2 - 128) - 0.714136 * (cr2 - 128))))
        bb = min(255, max(0, rhu(y2 + 1.772 * (cb2 - 128))))
        return (int(rr), int(gg), int(bb))

    def test_flat_color_exact_all_qualities_and_samplings(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import (
            decode_jpeg,
            encode_jpeg,
            jpeg_dimensions,
        )

        for sub in ("444", "420"):
            for q in (50, 75, 90, 95):
                for i in range(25):
                    rgb = (i * 37 % 256, i * 91 % 256, i * 53 % 256)
                    h, w = 6 + i % 13, 9 + i % 17
                    img = np.full((h, w, 3), rgb, dtype=np.uint8)
                    payload = encode_jpeg(img, quality=q, subsampling=sub)
                    assert payload[:2] == b"\xff\xd8"
                    assert jpeg_dimensions(payload) == (w, h)
                    dec = decode_jpeg(payload)
                    assert dec.shape == (h, w, 3)
                    assert (dec == dec[0, 0]).all(), "flat in, flat out"
                    got = tuple(int(x) for x in dec[0, 0])
                    assert got == self._flat_closed_form(rgb, q), (sub, q, rgb)

    def test_smooth_roundtrip_psnr(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        y, x = np.mgrid[0:48, 0:56]
        img = np.stack(
            [
                (128 + 100 * np.sin(y / 9.0) * np.cos(x / 11.0)),
                (128 + 90 * np.cos(y / 7.0)),
                (128 + 80 * np.sin(x / 8.0)),
            ],
            axis=2,
        ).astype(np.uint8)
        for sub, floor_db in (("444", 40.0), ("420", 32.0)):
            dec = decode_jpeg(
                encode_jpeg(img, quality=95, subsampling=sub)
            ).astype(np.float64)
            mse = ((dec - img) ** 2).mean()
            psnr = 10 * np.log10(255**2 / mse)
            assert psnr >= floor_db, (sub, psnr)

    def test_dc_prediction_across_blocks(self):
        """A step image spanning several MCUs exercises nonzero DC
        diffs in both directions; block interiors must land near the
        step levels."""
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        img = np.zeros((16, 40, 3), dtype=np.uint8)
        img[:, :16] = 40
        img[:, 16:32] = 200
        img[:, 32:] = 90
        dec = decode_jpeg(encode_jpeg(img, quality=95)).astype(np.int64)
        assert abs(int(dec[4, 4, 0]) - 40) <= 4
        assert abs(int(dec[4, 24, 0]) - 200) <= 4
        assert abs(int(dec[12, 36, 0]) - 90) <= 6

    def test_grayscale_single_component_decode(self):
        """decode_jpeg handles 1-component scans (Y replicated to
        RGB); built with the module's own block encoder around a
        single-component frame header."""
        import struct as st

        import numpy as np

        from lakehouse_to_rag_spark.multimodal import jpeg as J

        v = 77
        blk = np.full((8, 8), float(v))
        luma_q, _ = J.quality_scaled_tables(90)
        out = bytearray(b"\xff\xd8")
        zz = np.zeros(64, dtype=np.uint8)
        zz[:] = luma_q.reshape(-1)[J._ZZ]
        out += b"\xff\xdb" + st.pack(">HB", 67, 0) + zz.tobytes()
        out += b"\xff\xc0" + st.pack(">HBHHB", 11, 8, 8, 8, 1)
        out += st.pack(">BBB", 1, 0x11, 0)
        bits, vals = J._DC_LUMA
        out += b"\xff\xc4" + st.pack(">HB", 19 + len(vals), 0x00)
        out += bytes(bits) + bytes(vals)
        bits, vals = J._AC_LUMA
        out += b"\xff\xc4" + st.pack(">HB", 19 + len(vals), 0x10)
        out += bytes(bits) + bytes(vals)
        out += b"\xff\xda" + st.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
        bw = J._BitWriter()
        J._encode_block(
            bw, blk, luma_q,
            J._build_encode_table(*J._DC_LUMA),
            J._build_encode_table(*J._AC_LUMA), 0,
        )
        bw.flush()
        out += bw.out + b"\xff\xd9"
        dec = J.decode_jpeg(bytes(out))
        assert dec.shape == (8, 8, 3)
        assert (dec[:, :, 0] == dec[:, :, 1]).all()
        assert abs(int(dec[0, 0, 0]) - v) <= 2

    def test_unsupported_modes_raise(self):
        import pytest

        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import (
            decode_jpeg,
            encode_jpeg,
            jpeg_dimensions,
        )

        img = np.full((10, 12, 3), 120, dtype=np.uint8)
        payload = bytearray(encode_jpeg(img, quality=90))
        # flip SOF0 -> SOF2 (progressive): decode refuses, but the
        # metadata path still reads dimensions
        pos = payload.index(b"\xff\xc0")
        payload[pos + 1] = 0xC2
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(payload))
        assert jpeg_dimensions(bytes(payload)) == (12, 10)
        with pytest.raises(NotImplementedError):
            decode_jpeg(b"\xff\xd8\xff\xdb\x00\x04")  # truncated
        with pytest.raises(NotImplementedError):
            decode_jpeg(b"NOTAJPEG")
        with pytest.raises(NotImplementedError):
            encode_jpeg(img, quality=0)

    def test_dispatch_and_format_preserving_resize(self, spark):
        """JPEG payloads flow through the shared media pipeline:
        _parse_header metadata, decode_image dispatch, and
        resize_real_images re-encoding as JPEG."""
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import encode_jpeg
        from lakehouse_to_rag_spark.multimodal.ops import (
            MEDIA_SCHEMA,
            _parse_header,
            decode_image,
            resize_real_images,
        )

        rows = []
        for i in range(4):
            rgb = (i * 61 % 256, i * 13 % 256, i * 101 % 256)
            img = np.full((10 + i, 14 + i, 3), rgb, dtype=np.uint8)
            p = encode_jpeg(img, quality=90)
            rows.append((i, "image", p, "image/jpeg", len(p)))
        w, h, n = _parse_header(rows[0][2])
        assert (w, h, n) == (14, 10, 1)
        assert decode_image(rows[0][2]).shape == (10, 14, 3)
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = resize_real_images(media, 8, 6).collect()
        assert len(out) == 4
        for r in out:
            p = bytes(r["payload"])
            assert p[:2] == b"\xff\xd8", "resize must re-emit JPEG"
            dec = decode_image(p)
            assert dec.shape == (6, 8, 3)


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn framing: a restart interval changes the byte stream
    (DC predictions reset at each marker) but decoded pixels must be
    bit-identical to the unframed encode."""
    import numpy as np

    from lakehouse_to_rag_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    y, x = np.mgrid[0:24, 0:40]
    img = np.stack(
        [(x * 5) % 256, (y * 7) % 256, ((x + y) * 3) % 256], axis=2
    ).astype(np.uint8)
    plain = encode_jpeg(img, quality=90)
    framed = encode_jpeg(img, quality=90, restart_interval=2)
    assert b"\xff\xdd" in framed and b"\xff\xdd" not in plain
    assert any(bytes((0xFF, 0xD0 + i)) in framed for i in range(8))
    assert np.array_equal(decode_jpeg(plain), decode_jpeg(framed))
    # restarts inside a 4:2:0 stream too
    framed420 = encode_jpeg(img, quality=90, subsampling="420",
                            restart_interval=1)
    plain420 = encode_jpeg(img, quality=90, subsampling="420")
    assert np.array_equal(decode_jpeg(plain420), decode_jpeg(framed420))


class TestJpegMultiScan:
    """Fail-closed contract for multi-scan baseline JPEG (ADVICE r4):
    a first scan covering fewer components than the frame declares
    must raise, never silently return a partial (Y-only) image."""

    def test_partial_scan_refused(self):
        import struct as st

        import pytest

        from lakehouse_to_rag_spark.multimodal.jpeg import decode_jpeg

        def seg(marker, payload):
            return bytes([0xFF, marker]) + st.pack(">H", len(payload) + 2) + payload

        # SOF0: 8-bit, 8x8, 3 components, 1x1 sampling, qtable 0
        sof = bytes([8]) + st.pack(">HH", 8, 8) + bytes(
            [3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
        )
        # SOS listing ONLY component 1 (a legal non-interleaved scan)
        sos = bytes([1, 1, 0x00])
        payload = b"\xff\xd8" + seg(0xC0, sof) + seg(0xDA, sos)
        with pytest.raises(NotImplementedError, match="multi-scan"):
            decode_jpeg(payload)

    def test_full_scan_still_decodes(self):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        img = np.full((8, 8, 3), 120, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=90))
        assert out.shape == (8, 8, 3)


class TestAviContainer:
    """MJPEG-in-AVI (multimodal/avi.py): real RIFF mux/demux around
    the real JPEG codec — the video leg on real bytes."""

    @staticmethod
    def _frames(n=4, w=24, h=16):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import encode_jpeg

        out = []
        for f in range(n):
            y, x = np.mgrid[0:h, 0:w]
            px = np.stack(
                [
                    ((x * 9 + f * 31) % 256).astype(np.uint8),
                    ((y * 7 + f * 17) % 256).astype(np.uint8),
                    ((x + y + f) % 256).astype(np.uint8),
                ],
                axis=2,
            )
            out.append(encode_jpeg(px, quality=85))
        return out

    def test_mux_demux_byte_exact(self):
        from lakehouse_to_rag_spark.multimodal.avi import (
            avi_info,
            decode_avi_mjpeg,
            encode_avi_mjpeg,
        )

        frames = self._frames(5)
        avi = encode_avi_mjpeg(frames, fps=12)
        assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
        back = decode_avi_mjpeg(avi)
        assert back == frames  # muxer never touches frame bytes
        assert avi_info(avi) == (24, 16, 5, 12.0)

    def test_idx1_absolute_offset_convention(self):
        """Several mainstream writers store ABSOLUTE file offsets in
        idx1 instead of movi-relative ones; the demuxer must accept
        both (and still verify the index against the chunk walk)."""
        import struct as st

        from lakehouse_to_rag_spark.multimodal.avi import (
            decode_avi_mjpeg,
            encode_avi_mjpeg,
        )

        frames = self._frames(3)
        avi = bytearray(encode_avi_mjpeg(frames, fps=10))
        movi_pos = bytes(avi).index(b"movi")
        idx_body = bytes(avi).index(b"idx1") + 8
        for i in range(3):
            (off,) = st.unpack_from("<I", avi, idx_body + i * 16 + 8)
            st.pack_into("<I", avi, idx_body + i * 16 + 8, off + movi_pos)
        assert decode_avi_mjpeg(bytes(avi)) == frames
        # a WRONG offset under both conventions must be rejected
        st.pack_into("<I", avi, idx_body + 8, 2)
        with pytest.raises(NotImplementedError, match="idx1 disagrees"):
            decode_avi_mjpeg(bytes(avi))

    def test_scope_violations_raise(self):
        import struct as st

        from lakehouse_to_rag_spark.multimodal.avi import (
            decode_avi_mjpeg,
            encode_avi_mjpeg,
        )
        from lakehouse_to_rag_spark.multimodal.jpeg import encode_jpeg
        import numpy as np

        with pytest.raises(NotImplementedError, match="empty"):
            encode_avi_mjpeg([], fps=10)
        mixed = [
            encode_jpeg(np.zeros((8, 8, 3), np.uint8)),
            encode_jpeg(np.zeros((8, 16, 3), np.uint8)),
        ]
        with pytest.raises(NotImplementedError, match="constant frame"):
            encode_avi_mjpeg(mixed, fps=10)

        avi = bytearray(encode_avi_mjpeg(self._frames(2), fps=10))
        # declare a second stream in avih (audio would live there)
        avih_body = bytes(avi).index(b"avih") + 8
        st.pack_into("<I", avi, avih_body + 24, 2)
        with pytest.raises(NotImplementedError, match="streams"):
            decode_avi_mjpeg(bytes(avi))

        avi = bytearray(encode_avi_mjpeg(self._frames(2), fps=10))
        # rewrite the stream handler to a codec we cannot decode
        h_at = bytes(avi).index(b"MJPG")
        avi[h_at:h_at + 4] = b"H264"
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            decode_avi_mjpeg(bytes(avi))

    def test_corruption_fuzz_fails_closed(self):
        """Every single-byte flip either still decodes or raises the
        documented NotImplementedError — never struct.error/IndexError
        (the contract every codec in this package honors)."""
        import random

        from lakehouse_to_rag_spark.multimodal.avi import (
            decode_avi_mjpeg,
            encode_avi_mjpeg,
        )

        avi = encode_avi_mjpeg(self._frames(3), fps=10)
        rng = random.Random(7)
        for _ in range(400):
            b = bytearray(avi)
            b[rng.randrange(len(b))] ^= 0xFF
            try:
                decode_avi_mjpeg(bytes(b))
            except NotImplementedError:
                pass

    def test_video_pipeline_avi(self, spark):
        """synth -> metadata -> sample_frames on the AVI corpus: the
        sampled PNG frames must pixel-match decode_jpeg of the demuxed
        frames, and header-only metadata must match the mux inputs."""
        from lakehouse_to_rag_spark.multimodal.avi import decode_avi_mjpeg
        from lakehouse_to_rag_spark.multimodal.jpeg import decode_jpeg
        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_metadata,
            decode_png,
            sample_frames,
            synth_avi_table,
        )

        media = synth_avi_table(spark, n=6)
        meta = {r["media_id"]: r for r in decode_metadata(media).collect()}
        for i in range(6):
            assert (meta[i]["width"], meta[i]["height"], meta[i]["n_frames"]) \
                == (9 + i % 17, 6 + i % 13, 2 + i % 4)

        payloads = {r["media_id"]: bytes(r["payload"])
                    for r in media.collect()}
        sampled = sample_frames(media, every_n=2).collect()
        assert sampled
        for r in sampled:
            truth = decode_avi_mjpeg(payloads[r["media_id"]])
            px = decode_png(bytes(r["frame_payload"]))
            assert (px == decode_jpeg(truth[r["frame_index"]])).all()
        n_expected = sum(len(range(0, 2 + i % 4, 2)) for i in range(6))
        assert len(sampled) == n_expected


class TestMp4Container:
    """MJPEG-in-MP4 (multimodal/mp4.py): ISO BMFF mux/demux around
    the real JPEG codec — the second real video container."""

    @staticmethod
    def _frames(n=4, w=24, h=16):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import encode_jpeg

        out = []
        for f in range(n):
            y, x = np.mgrid[0:h, 0:w]
            px = np.stack(
                [
                    ((x * 11 + f * 29) % 256).astype(np.uint8),
                    ((y * 5 + f * 19) % 256).astype(np.uint8),
                    ((x + 2 * y + f) % 256).astype(np.uint8),
                ],
                axis=2,
            )
            out.append(encode_jpeg(px, quality=85))
        return out

    def test_mux_demux_byte_exact(self):
        from lakehouse_to_rag_spark.multimodal.mp4 import (
            decode_mp4_mjpeg,
            encode_mp4_mjpeg,
            mp4_info,
        )

        frames = self._frames(5)
        mp4 = encode_mp4_mjpeg(frames, fps=12)
        assert mp4[4:8] == b"ftyp"
        back = decode_mp4_mjpeg(mp4)
        assert back == frames  # muxer never touches frame bytes
        assert mp4_info(mp4) == (24, 16, 5, 12.0)

    def test_tkhd_is_spec_conformant(self):
        """ISO 14496-12 8.3.2: tkhd v0 body is exactly 80 bytes laid
        out creation/modification/track_ID/reserved/duration,
        reserved(8), layer/alt_group/volume/reserved(2), matrix,
        16.16 width/height — an external conforming parser must read
        the real duration and width/height at the spec offsets
        (round-6 ADVICE fix: duration used to sit in the reserved
        slot and matrix/width/height were misaligned)."""
        import struct as st

        from lakehouse_to_rag_spark.multimodal.mp4 import encode_mp4_mjpeg

        n, w, h = 5, 24, 16
        raw = encode_mp4_mjpeg(self._frames(n, w, h), fps=12)
        at = raw.index(b"tkhd")
        (size,) = st.unpack_from(">I", raw, at - 4)
        assert size == 8 + 4 + 80  # header + FullBox version/flags + v0 body
        body = raw[at + 8:at - 4 + size]  # after version/flags
        creation, modification, track_id = st.unpack_from(">III", body, 0)
        (duration,) = st.unpack_from(">I", body, 16)  # after reserved(4)
        layer, alt_group, volume = st.unpack_from(">HHH", body, 28)
        matrix = st.unpack_from(">9i", body, 36)
        width, height = st.unpack_from(">II", body, 72)
        assert (track_id, duration) == (1, n)
        assert (layer, alt_group, volume) == (0, 0, 0)  # video: volume 0
        assert matrix == (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        assert (width >> 16, height >> 16) == (w, h)

    def test_nested_zero_size_box_fails_closed(self):
        """A zero-size box is legal only as the FINAL TOP-LEVEL box;
        nested (e.g. inside moov) it must raise, not swallow sibling
        boxes (round-6 ADVICE fix)."""
        import struct as st

        from lakehouse_to_rag_spark.multimodal.mp4 import (
            decode_mp4_mjpeg,
            encode_mp4_mjpeg,
        )

        mp4 = bytearray(encode_mp4_mjpeg(self._frames(2), fps=10))
        # zero out the size of the first box nested in moov (mvhd)
        moov_at = bytes(mp4).index(b"moov")
        st.pack_into(">I", mp4, moov_at + 4, 0)  # mvhd size := 0
        with pytest.raises(NotImplementedError, match="zero-size"):
            decode_mp4_mjpeg(bytes(mp4))

    def test_foreign_chunk_layouts(self):
        """Foreign writers pack several samples per chunk (stsc runs)
        and may use 64-bit co64 offsets; the demuxer must map samples
        through the general sample-table path, not assume the
        writer's one-sample-per-chunk layout."""
        import struct as st

        from lakehouse_to_rag_spark.multimodal.mp4 import (
            decode_mp4_mjpeg,
            encode_mp4_mjpeg,
        )

        frames = self._frames(4)
        mp4 = bytearray(encode_mp4_mjpeg(frames, fps=10))
        # rewrite stsc to two runs: chunks 1..1 hold 3 samples, chunk
        # 2 holds 1 — then shrink stco to the 2 matching chunk starts.
        # stsc body: ver/flags(4) count(4) then 12-byte runs.
        raw = bytes(mp4)
        stsc_at = raw.index(b"stsc") + 4
        stco_at = raw.index(b"stco") + 4
        sizes = [len(f) for f in frames]
        # chunk starts under the new grouping: first chunk at the old
        # first sample offset; second at first + sum(sizes[:3])
        # stco body = ver/flags(4) count(4) offsets...; stco_at is the
        # body start (index() found the fourcc, +4 skipped it)
        (old_first,) = st.unpack_from(">I", raw, stco_at + 8)
        new_stsc = (
            st.pack(">I", 0) + st.pack(">I", 2)
            + st.pack(">III", 1, 3, 1) + st.pack(">III", 2, 1, 1)
        )
        new_stco = st.pack(">II", 0, 2) + st.pack(
            ">II", old_first, old_first + sum(sizes[:3])
        )
        # splice: both boxes shrink; rebuild the whole file from box
        # bodies rather than patching lengths in place
        def replace_box(buf, fourcc, new_body):
            at = buf.index(fourcc)
            (ln,) = st.unpack_from(">I", buf, at - 4)
            old = buf[at - 4:at - 4 + ln]
            new = st.pack(">I", 8 + len(new_body)) + fourcc + new_body
            return buf.replace(old, new), ln - len(new)

        buf, _ = replace_box(raw, b"stsc", new_stsc)
        buf, _ = replace_box(buf, b"stco", new_stco)
        # fix enclosing box sizes (stbl/minf/mdia/trak/moov each
        # shrank by the two deltas)
        shrink = (len(raw) - len(buf))
        for fourcc in (b"stbl", b"minf", b"mdia", b"trak", b"moov"):
            at = buf.index(fourcc)
            (ln,) = st.unpack_from(">I", buf, at - 4)
            buf = buf[:at - 4] + st.pack(">I", ln - shrink) + buf[at:]
        assert decode_mp4_mjpeg(bytes(buf)) == frames

        # co64: widen stco to 64-bit offsets under the same layout
        raw2 = bytes(mp4)
        offs = st.unpack_from(">4I", raw2, stco_at + 8)
        co64_body = st.pack(">II", 0, 4) + b"".join(
            st.pack(">Q", o) for o in offs
        )
        buf2, delta = replace_box(raw2, b"stco", co64_body)
        at = buf2.index(b"stco")
        buf2 = buf2[:at] + b"co64" + buf2[at + 4:]
        grow = len(buf2) - len(raw2)
        for fourcc in (b"stbl", b"minf", b"mdia", b"trak", b"moov"):
            at = buf2.index(fourcc)
            (ln,) = st.unpack_from(">I", buf2, at - 4)
            buf2 = buf2[:at - 4] + st.pack(">I", ln + grow) + buf2[at:]
        assert decode_mp4_mjpeg(bytes(buf2)) == frames

    def test_stale_sample_table_rejected(self):
        """A stco pointing outside mdat (stale faststart relocation)
        is corruption, not garbage pixels."""
        import struct as st

        from lakehouse_to_rag_spark.multimodal.mp4 import (
            decode_mp4_mjpeg,
            encode_mp4_mjpeg,
        )

        mp4 = bytearray(encode_mp4_mjpeg(self._frames(3), fps=10))
        stco_at = bytes(mp4).index(b"stco") + 4
        st.pack_into(">I", mp4, stco_at + 8, len(mp4) - 4)
        with pytest.raises(NotImplementedError,
                           match="outside every mdat"):
            decode_mp4_mjpeg(bytes(mp4))

    def test_scope_violations_raise(self):
        import struct as st

        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import encode_jpeg
        from lakehouse_to_rag_spark.multimodal.mp4 import (
            decode_mp4_mjpeg,
            encode_mp4_mjpeg,
        )

        with pytest.raises(NotImplementedError, match="empty"):
            encode_mp4_mjpeg([], fps=10)
        mixed = [
            encode_jpeg(np.zeros((8, 8, 3), np.uint8)),
            encode_jpeg(np.zeros((8, 16, 3), np.uint8)),
        ]
        with pytest.raises(NotImplementedError, match="constant frame"):
            encode_mp4_mjpeg(mixed, fps=10)

        # foreign codec: rewrite the sample-entry fourcc to avc1
        mp4 = bytearray(encode_mp4_mjpeg(self._frames(2), fps=10))
        at = bytes(mp4).index(b"mp4v")
        mp4[at:at + 4] = b"avc1"
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            decode_mp4_mjpeg(bytes(mp4))

        # non-JPEG OTI inside mp4v (e.g. 0x20 = MPEG-4 Visual)
        mp4 = bytearray(encode_mp4_mjpeg(self._frames(2), fps=10))
        esds_at = bytes(mp4).index(b"esds")
        # DecoderConfigDescriptor tag 0x04: OTI is the byte after its
        # tag+length pair
        dcd_at = bytes(mp4).index(b"\x04", esds_at)
        mp4[dcd_at + 2] = 0x20
        with pytest.raises(NotImplementedError, match="0x20"):
            decode_mp4_mjpeg(bytes(mp4))

        # fragmented MP4: a top-level moof box
        mp4 = bytes(encode_mp4_mjpeg(self._frames(2), fps=10))
        frag = mp4 + st.pack(">I", 8) + b"moof"
        with pytest.raises(NotImplementedError, match="fragmented"):
            decode_mp4_mjpeg(frag)

    def test_corruption_fuzz_fails_closed(self):
        """Every single-byte flip either still decodes or raises the
        documented NotImplementedError — never struct.error/IndexError
        (the contract every codec in this package honors)."""
        import random

        from lakehouse_to_rag_spark.multimodal.mp4 import (
            decode_mp4_mjpeg,
            encode_mp4_mjpeg,
        )

        mp4 = encode_mp4_mjpeg(self._frames(3), fps=10)
        rng = random.Random(11)
        for _ in range(400):
            b = bytearray(mp4)
            b[rng.randrange(len(b))] ^= 0xFF
            try:
                decode_mp4_mjpeg(bytes(b))
            except NotImplementedError:
                pass

    def test_video_pipeline_mp4(self, spark):
        """synth -> metadata -> sample_frames on the MP4 corpus: the
        sampled PNG frames must pixel-match decode_jpeg of the demuxed
        frames, and header-only metadata must match the mux inputs."""
        from lakehouse_to_rag_spark.multimodal.jpeg import decode_jpeg
        from lakehouse_to_rag_spark.multimodal.mp4 import decode_mp4_mjpeg
        from lakehouse_to_rag_spark.multimodal.ops import (
            decode_metadata,
            decode_png,
            sample_frames,
            synth_mp4_table,
        )

        media = synth_mp4_table(spark, n=6)
        meta = {r["media_id"]: r for r in decode_metadata(media).collect()}
        for i in range(6):
            assert (meta[i]["width"], meta[i]["height"], meta[i]["n_frames"]) \
                == (8 + i % 19, 8 + i % 11, 3 + i % 3)

        payloads = {r["media_id"]: bytes(r["payload"])
                    for r in media.collect()}
        sampled = sample_frames(media, every_n=2).collect()
        assert sampled
        for r in sampled:
            truth = decode_mp4_mjpeg(payloads[r["media_id"]])
            px = decode_png(bytes(r["frame_payload"]))
            assert (px == decode_jpeg(truth[r["frame_index"]])).all()
        n_expected = sum(len(range(0, 3 + i % 3, 2)) for i in range(6))
        assert len(sampled) == n_expected


class TestPerceptualImageDedup:
    """dHash/pHash + banded-Hamming image dedup (multimodal/phash.py,
    operators/dedup.py::image_hash_pairs) — the multimodal CONTENT
    dedup capability (byte dedup misses re-encoded/brightness-shifted
    copies)."""

    @staticmethod
    def _synth(doc_id):
        # the shared planted-near-dup recipe: the margin numbers below
        # are only meaningful against the SAME payloads the gated
        # entry hashes
        from lakehouse_to_rag_spark.multimodal.phash import (
            synth_gradient_image,
        )

        return synth_gradient_image(doc_id)

    def test_phash_brightness_invariance_and_discrimination(self):
        """A mild brightness shift (the planted perturbation) moves
        pHash by <= 2 bits; unrelated images differ by >= 10 — the
        margins the max_hamming=6 threshold sits between."""
        from lakehouse_to_rag_spark.multimodal.phash import (
            hamming64,
            phash63,
        )

        hs = {i: phash63(self._synth(i)) for i in range(60)}
        for k in range(30):
            assert hamming64(hs[2 * k], hs[2 * k + 1]) <= 2, k
        cross = [
            hamming64(hs[a], hs[b])
            for a in range(60)
            for b in range(a + 1, 60)
            if not (b == a + 1 and a % 2 == 0)
        ]
        assert min(cross) >= 10

    def test_dhash_exactness_and_margins(self):
        """dHash is pure integer arithmetic: recompute its bits from
        the 9x8 NN-grayscale directly and compare; planted pairs land
        at hamming 0, unrelated >= 11."""
        from lakehouse_to_rag_spark.multimodal.phash import (
            dhash64,
            grayscale_bt601,
            hamming64,
            nn_resize,
        )

        px = self._synth(6)
        g = nn_resize(grayscale_bt601(px), 8, 9)
        want = 0
        for i in range(8):
            for j in range(8):
                if g[i, j + 1] > g[i, j]:
                    want |= 1 << (i * 8 + j)
        if want >= 1 << 63:
            want -= 1 << 64
        assert dhash64(px) == want

        hs = {i: dhash64(self._synth(i)) for i in range(60)}
        for k in range(30):
            assert hamming64(hs[2 * k], hs[2 * k + 1]) == 0
        cross = [
            hamming64(hs[a], hs[b])
            for a in range(60)
            for b in range(a + 1, 60)
            if not (b == a + 1 and a % 2 == 0)
        ]
        assert min(cross) >= 11

    def test_planted_near_duplicate_recall(self, spark, sf_dir):
        """End to end through the registry entry (PNG encode ->
        decode -> pHash -> banded join): EVERY planted pair (2k,
        2k+1) is recovered and NOTHING else — recall 1.0, precision
        1.0 at hamming <= 6."""
        from lakehouse_to_rag_spark.plans.registry import QUERIES
        from lakehouse_to_rag_spark.sources.tables import load_table

        n_docs = load_table(spark, sf_dir, "documents").count()
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in QUERIES["image_phash_dedup"](spark, sf_dir).collect()
        }
        want = {
            (2 * k, 2 * k + 1) for k in range(n_docs // 2)
        }
        assert set(got) == want
        assert max(got.values()) <= 2

    def test_dhash_pairs_backend(self, spark):
        """The dhash method through image_hash_pairs finds the same
        planted pairs (hamming 0) with zero false positives."""
        import pandas as pd

        from lakehouse_to_rag_spark.multimodal.ops import encode_png
        from lakehouse_to_rag_spark.operators.dedup import image_hash_pairs

        rows = [(i, encode_png(self._synth(i))) for i in range(20)]
        images = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "payload"])
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in image_hash_pairs(
                images, method="dhash", max_hamming=3, num_bands=8
            ).collect()
        }
        assert got == {(2 * k, 2 * k + 1) for k in range(10)}

    def test_fail_closed_on_corrupt_payload_and_bad_method(self, spark):
        import pandas as pd
        import pytest

        from lakehouse_to_rag_spark.multimodal.ops import encode_png
        from lakehouse_to_rag_spark.operators.dedup import image_hash_pairs

        with pytest.raises(NotImplementedError, match="unknown image hash method"):
            image_hash_pairs(
                spark.createDataFrame(
                    pd.DataFrame([(0, b"x")], columns=["doc_id", "payload"])
                ),
                method="ahash",
            )

        good = encode_png(self._synth(0))
        images = spark.createDataFrame(
            pd.DataFrame(
                [(0, good), (1, good[:20] + b"\x00" * 10)],
                columns=["doc_id", "payload"],
            )
        )
        with pytest.raises(Exception) as ei:
            image_hash_pairs(images, method="phash").collect()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, NotImplementedError
        )


class TestPerceptualAudioDedup:
    """Energy-envelope audio fingerprint + banded Hamming pairing
    (multimodal/phash.py::audio_envelope_fp63,
    dedup.py::audio_fingerprint_pairs) — the audio leg of multimodal
    content dedup."""

    @staticmethod
    def _synth(doc_id):
        # the shared planted-near-dup recipe (see the image twin)
        from lakehouse_to_rag_spark.multimodal.phash import (
            synth_am_waveform,
        )

        return synth_am_waveform(doc_id)

    def test_fingerprint_margins_and_exactness(self):
        """Planted level shifts move the fingerprint <= 4 bits;
        unrelated signals differ >= 15 — the max_hamming=8 threshold
        sits between. Recompute bits from frame energies directly."""
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.phash import (
            audio_envelope_fp63,
            hamming64,
        )

        s = self._synth(4)
        e = (s.astype(np.int64) ** 2).reshape(64, 32).sum(axis=1)
        want = sum(
            1 << f for f in range(63) if e[f + 1] > e[f]
        )
        assert audio_envelope_fp63(s) == want

        hs = {i: audio_envelope_fp63(self._synth(i)) for i in range(60)}
        for k in range(30):
            assert hamming64(hs[2 * k], hs[2 * k + 1]) <= 4, k
        cross = [
            hamming64(hs[a], hs[b])
            for a in range(60)
            for b in range(a + 1, 60)
            if not (b == a + 1 and a % 2 == 0)
        ]
        assert min(cross) >= 15

    def test_planted_near_duplicate_recall(self, spark, sf_dir):
        """End to end through the registry entry (WAV encode ->
        decode -> fingerprint -> banded join): every planted pair and
        nothing else."""
        from lakehouse_to_rag_spark.plans.registry import QUERIES
        from lakehouse_to_rag_spark.sources.tables import load_table

        n_docs = load_table(spark, sf_dir, "documents").count()
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in QUERIES["audio_fingerprint_dedup"](
                spark, sf_dir
            ).collect()
        }
        assert set(got) == {(2 * k, 2 * k + 1) for k in range(n_docs // 2)}
        assert max(got.values()) <= 4

    def test_fail_closed(self, spark):
        import pandas as pd
        import pytest

        from lakehouse_to_rag_spark.multimodal.phash import (
            audio_envelope_fp63,
        )
        from lakehouse_to_rag_spark.operators.dedup import (
            audio_fingerprint_pairs,
        )

        with pytest.raises(NotImplementedError, match=">= 64 samples"):
            audio_envelope_fp63([1, 2, 3])

        bad = spark.createDataFrame(
            pd.DataFrame(
                [(0, b"not a wav payload at all")],
                columns=["doc_id", "payload"],
            )
        )
        with pytest.raises(Exception) as ei:
            audio_fingerprint_pairs(bad).collect()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, NotImplementedError
        )

        # n_frames is bounded by the int64 signature and the 16x4-bit
        # band scheme (ADVICE r6): out-of-range values must refuse at
        # plan-build time, not surface as an opaque Arrow overflow
        from lakehouse_to_rag_spark.operators.dedup import audio_signatures

        for bad_n in (0, 1, 65, 128):
            with pytest.raises(ValueError, match="n_frames"):
                audio_signatures(bad, n_frames=bad_n)
        for bad_n in (0, 1, 65):
            with pytest.raises(ValueError, match="n_frames"):
                audio_fingerprint_pairs(bad, n_frames=bad_n)


class TestAdmitMediaBatch:
    """The stateful perceptual-ingest loop: signature-table upsert +
    per-batch staging (the curation.admit_batch discipline applied to
    media content)."""

    @staticmethod
    def _images(spark, ids):
        import pandas as pd

        from lakehouse_to_rag_spark.multimodal.ops import encode_png
        from lakehouse_to_rag_spark.multimodal.phash import (
            synth_gradient_image,
        )

        return spark.createDataFrame(
            pd.DataFrame(
                [(i, encode_png(synth_gradient_image(i))) for i in ids],
                columns=["doc_id", "payload"],
            )
        )

    def test_ingest_loop_excludes_prior_admissions(self, spark, tmp_path):
        from lakehouse_to_rag_spark.operators.curation import (
            cleanup_staging,
        )
        from lakehouse_to_rag_spark.operators.dedup import (
            admit_media_batch,
        )

        table = str(tmp_path / "sigs")
        # batch 1: bases 0..4, both planted members each -> keep-first
        b1 = admit_media_batch(
            spark, table, self._images(spark, list(range(10)))
        )
        got1 = sorted(r["id"] for r in b1.collect())
        assert got1 == [0, 2, 4, 6, 8]

        # batch 2: the odd members of the SAME bases (near-dups of the
        # now-maintained snapshot) plus fresh bases 10..11 -> only the
        # fresh bases' keep-first members are admitted
        b2 = admit_media_batch(
            spark, table,
            self._images(spark, [1, 3, 5, 7, 9, 20, 21, 22, 23]),
        )
        got2 = sorted(r["id"] for r in b2.collect())
        assert got2 == [20, 22]

        # batch 3: re-sending everything admits nothing
        b3 = admit_media_batch(
            spark, table, self._images(spark, list(range(10)) + [20, 21])
        )
        assert b3.count() == 0

        # the maintained table is exactly the union of admissions
        # (band rows since r13: one row per (id, block) — distinct ids
        # are the admission record)
        table_ids = sorted(
            r["id"]
            for r in spark.read.parquet(table)
            .select("id").distinct().collect()
        )
        assert table_ids == [0, 2, 4, 6, 8, 20, 22]
        assert cleanup_staging(table) == 3  # one staging dir per batch

    def test_bad_media_kind_fails_closed(self, spark, tmp_path):
        import pytest

        from lakehouse_to_rag_spark.operators.dedup import (
            admit_media_batch,
        )

        with pytest.raises(NotImplementedError, match="unknown media kind"):
            admit_media_batch(
                spark, str(tmp_path / "t"),
                self._images(spark, [0]), media="video",
            )

    def test_ledger_is_append_only_and_compacts_past_threshold(
        self, spark, tmp_path
    ):
        """r12 (VERDICT r11 task 2): a batch admission must never
        rewrite the cumulative ledger — batch 1's parquet files are
        byte-identical (same paths, sizes, mtimes) after batch 2
        lands, so per-batch write cost is flat in table size. A
        replayed (all-duplicate) batch appends NOTHING (file census
        unchanged). Past compact_files_threshold (max files in any
        bucket since r13) the ledger compacts through the atomic
        swap, contents preserved; a planted crashed-swap remnant is
        healed by the next batch."""
        import os
        import pathlib

        from lakehouse_to_rag_spark.operators.dedup import (
            admit_media_batch,
        )

        def census(p):
            # r13 banded layout: data files live under bucket=N/
            return {
                str(f): (f.stat().st_size, f.stat().st_mtime_ns)
                for f in pathlib.Path(p).glob("bucket=*/*.parquet")
            }

        def ids(p):
            return sorted(
                r["id"]
                for r in spark.read.parquet(p)
                .select("id").distinct().collect()
            )

        table = str(tmp_path / "sigs")
        admit_media_batch(spark, table, self._images(spark, [0, 2, 4]))
        c1 = census(table)
        assert len(c1) > 0
        admit_media_batch(spark, table, self._images(spark, [10, 12]))
        c2 = census(table)
        # batch 1's files untouched, batch 2 only ADDED files
        assert {k: c2[k] for k in c1} == c1
        assert len(c2) > len(c1)
        # full-duplicate replay: no admissions, no new files
        out = admit_media_batch(spark, table, self._images(spark, [0, 10]))
        assert out.count() == 0
        assert census(table) == c2

        ids_before = ids(table)
        # force compaction on the next batch: threshold below current
        # per-bucket depth -> one swap, union of admissions preserved
        admit_media_batch(
            spark, table, self._images(spark, [20]),
            compact_files_threshold=0,
        )
        c3 = census(table)
        # compacted: every bucket collapses to one file
        per_bucket: dict = {}
        for f in c3:
            b = pathlib.Path(f).parent.name
            per_bucket[b] = per_bucket.get(b, 0) + 1
        assert per_bucket and max(per_bucket.values()) == 1
        assert ids(table) == sorted(ids_before + [20])
        # the scheme record survives the swap verbatim
        assert os.path.exists(os.path.join(table, "_scheme"))

        # crashed-compaction remnant heals on the next turn: simulate
        # the pre-first-rename window (tmp dir exists, ledger intact)
        os.makedirs(f"{table}._compact_deadbeef")
        admit_media_batch(spark, table, self._images(spark, [30]))
        assert not os.path.exists(f"{table}._compact_deadbeef")
        assert ids(table) == sorted(ids_before + [20, 30])

    def test_ledger_bucket_pruning_and_scheme_guard(
        self, spark, tmp_path
    ):
        """r13 (VERDICT r12 task 5): the dedup join reads only the
        bucket=N/ directories the incoming batch's band rows hash to
        — proven by corrupting every OTHER bucket's files (a full-
        ledger read would crash; the pruned read never opens them)
        while dedup verdicts stay correct. A call with a different
        resolved band count fails closed naming the scheme; a pre-r13
        flat ledger is migrated in place once."""
        import pathlib

        import pytest

        from lakehouse_to_rag_spark.operators.dedup import (
            _MEDIA_LEDGER_BUCKETS,
            _media_band_rows,
            admit_media_batch,
            image_signatures,
        )

        table = str(tmp_path / "sigs")
        admit_media_batch(spark, table, self._images(spark, [0, 2, 4]))

        # compute the buckets batch 2 will touch (num_bands = auto =
        # max_hamming 6 + 1), then corrupt every OTHER bucket's
        # parquet files in place
        b2 = self._images(spark, [0, 10])  # 0 = dup, 10 = fresh
        sigs2 = image_signatures(b2, "doc_id", "payload", "phash")
        touched = {
            f"bucket={r['bucket']}"
            for r in _media_band_rows(sigs2, 7, _MEDIA_LEDGER_BUCKETS)
            .select("bucket").distinct().collect()
        }
        corrupted = 0
        for d in pathlib.Path(table).glob("bucket=*"):
            if d.name not in touched:
                for f in d.glob("*.parquet"):
                    f.write_bytes(b"corrupt")
                    corrupted += 1
        assert corrupted > 0  # the fixture really leaves cold buckets
        out = admit_media_batch(spark, table, b2)
        assert sorted(r["id"] for r in out.collect()) == [10]

        # scheme guard: a different banding (max_hamming -> band
        # count) cannot silently join against mismatched band rows
        with pytest.raises(ValueError, match="num_bands"):
            admit_media_batch(
                spark, table, self._images(spark, [40]), max_hamming=3
            )

    def test_legacy_flat_ledger_migrates_once(self, spark, tmp_path):
        """A pre-r13 flat (id, simhash) ledger is rewritten to the
        banded bucket layout on the first admission against it —
        atomically, once — and dedups correctly before AND after."""
        import os

        from lakehouse_to_rag_spark.operators.dedup import (
            admit_media_batch,
            image_signatures,
        )
        from lakehouse_to_rag_spark.sources.lakehouse import write_layer

        table = str(tmp_path / "sigs")
        legacy = image_signatures(
            self._images(spark, [0, 2]), "doc_id", "payload", "phash"
        )
        write_layer(legacy, table, fmt="parquet")  # pre-r13 layout
        assert not os.path.exists(os.path.join(table, "_scheme"))

        # batch vs legacy ledger: near-dups of 0/2 drop, fresh admits
        out = admit_media_batch(spark, table, self._images(spark, [1, 10]))
        assert sorted(r["id"] for r in out.collect()) == [10]
        assert os.path.exists(os.path.join(table, "_scheme"))
        got = sorted(
            r["id"]
            for r in spark.read.parquet(table)
            .select("id").distinct().collect()
        )
        assert got == [0, 2, 10]

    def test_empty_batch_defers_bootstrap(self, spark, tmp_path):
        """r13 (the curation twin's property-test find applied here):
        a zero-admission first batch must NOT create a data-less
        ledger (a _scheme with zero data files is unreadable by plain
        parquet consumers); bootstrap waits for real content."""
        import os

        from lakehouse_to_rag_spark.operators.dedup import (
            admit_media_batch,
        )

        table = str(tmp_path / "sigs")
        empty = spark.createDataFrame([], "doc_id long, payload binary")
        assert admit_media_batch(spark, table, empty).count() == 0
        assert not os.path.exists(table)
        out = admit_media_batch(spark, table, self._images(spark, [0]))
        assert sorted(r["id"] for r in out.collect()) == [0]
        assert (
            spark.read.parquet(table).select("id").distinct().count() == 1
        )

    def test_torn_scheme_self_heals(self, spark, tmp_path):
        """r13 self-review (the curation twin lives in
        test_curation.py): a crash mid-``_scheme`` write left a
        directory that exists but cannot be read — every subsequent
        admission raised instead of healing. Unreadable now routes
        into the same migrate path as scheme-less, and the write is
        staged + renamed so the torn state can no longer occur."""
        import pathlib
        import shutil

        from lakehouse_to_rag_spark.operators.dedup import (
            _read_media_scheme,
            admit_media_batch,
        )

        table = str(tmp_path / "sigs")
        admit_media_batch(spark, table, self._images(spark, [0, 2]))
        sdir = pathlib.Path(table) / "_scheme"

        # torn state: _scheme exists but holds garbage bytes
        shutil.rmtree(sdir)
        sdir.mkdir()
        (sdir / "part-00000.parquet").write_bytes(b"\x00not parquet")
        out = admit_media_batch(spark, table, self._images(spark, [1, 10]))
        assert sorted(r["id"] for r in out.collect()) == [10]
        scheme = _read_media_scheme(spark, table)
        assert scheme is not None and scheme["n_buckets"] > 0
        got = sorted(
            r["id"]
            for r in spark.read.parquet(table)
            .select("id").distinct().collect()
        )
        assert got == [0, 2, 10]
        from lakehouse_to_rag_spark.sources.dirswap import _REMNANTS

        assert not [
            p
            for s in _REMNANTS["staging"] + _REMNANTS["old"]
            for p in pathlib.Path(table).glob(f"_scheme{s}*")
        ]


class TestVideoKeyframeDedup:
    """Video content dedup by keyframe voting: sample_frames ->
    image_signatures -> cross-video banded matching. Proves the
    cross-container property (same clip as AVI and as MP4 matches on
    every keyframe) and near-dup robustness (brightness-shifted
    re-encode still matches)."""

    @staticmethod
    def _frames(shift=0, offset=0, n=4):
        import numpy as np

        from lakehouse_to_rag_spark.multimodal.jpeg import encode_jpeg

        out = []
        for f in range(n):
            y, x = np.mgrid[0:36, 0:40]
            r = (x * 7 + y * 5 + (f + offset) * 31) % 256
            if shift:
                r = np.minimum(255, r + shift)
            g = (x * 3 + y * 2 + (f + offset) * 17) % 256
            b = (x + y * 3 + f + offset) % 256
            out.append(
                encode_jpeg(
                    np.stack([r, g, b], axis=2).astype(np.uint8),
                    quality=85,
                )
            )
        return out

    def test_cross_container_and_perturbed_matching(self, spark):
        import pandas as pd

        from lakehouse_to_rag_spark.multimodal.avi import encode_avi_mjpeg
        from lakehouse_to_rag_spark.multimodal.mp4 import encode_mp4_mjpeg
        from lakehouse_to_rag_spark.operators.dedup import (
            video_keyframe_pairs,
        )

        base = self._frames()
        media = spark.createDataFrame(
            pd.DataFrame(
                [
                    (0, encode_avi_mjpeg(base, fps=10), "video"),
                    (1, encode_mp4_mjpeg(base, fps=10), "video"),
                    (2, encode_avi_mjpeg(self._frames(shift=3), fps=10),
                     "video"),
                    (3, encode_avi_mjpeg(self._frames(offset=100), fps=10),
                     "video"),
                ],
                columns=["media_id", "payload", "media_type"],
            )
        )
        got = {
            (r["media_a"], r["media_b"]): r["n_matching_frames"]
            for r in video_keyframe_pairs(
                media, every_n=1, min_matching_frames=2
            ).collect()
        }
        # same clip across containers: every keyframe matches exactly
        assert got.get((0, 1)) == 4
        # brightness-shifted re-encode: still a near-dup of both copies
        assert got.get((0, 2), 0) >= 2 and got.get((1, 2), 0) >= 2
        # the unrelated clip matches nothing
        assert not any(3 in k for k in got)

    def test_negative_media_id_roundtrip(self, spark):
        """Composite frame ids must decode with FLOOR semantics: with
        truncating `div`, media -1's frames decode to media 0 /
        negative frame indexes, so one negative-id video self-matches
        through the media_a != media_b filter and its real matches
        mis-attribute (ADVICE r6). A negative-id copy must pair with
        its positive-id twin — and a lone negative-id video must
        produce NO pairs."""
        import pandas as pd

        from lakehouse_to_rag_spark.multimodal.avi import encode_avi_mjpeg
        from lakehouse_to_rag_spark.operators.dedup import (
            video_keyframe_pairs,
        )

        base = self._frames()
        media = spark.createDataFrame(
            pd.DataFrame(
                [
                    (-1, encode_avi_mjpeg(base, fps=10), "video"),
                    (5, encode_avi_mjpeg(base, fps=10), "video"),
                ],
                columns=["media_id", "payload", "media_type"],
            )
        )
        got = {
            (r["media_a"], r["media_b"]): r["n_matching_frames"]
            for r in video_keyframe_pairs(
                media, every_n=1, min_matching_frames=2
            ).collect()
        }
        assert got == {(-1, 5): 4}

        lone = spark.createDataFrame(
            pd.DataFrame(
                [(-1, encode_avi_mjpeg(base, fps=10), "video")],
                columns=["media_id", "payload", "media_type"],
            )
        )
        assert (
            video_keyframe_pairs(lone, every_n=1, min_matching_frames=1)
            .count() == 0
        )


class TestBandingInvariance:
    def test_complete_bandings_agree_and_incomplete_fails_closed(
        self, spark
    ):
        """r11 minimal-complete banding: ANY complete banding (bands >
        max_hamming) yields the IDENTICAL verified pair set — pinned
        by equality of the auto default (d+1 bands, the 14x-cheaper
        join at 50k sigs) against the old 16-band scheme on synthetic
        signatures with planted near/far pairs; an incomplete band
        count would silently MISS pairs, so it raises instead."""
        import pytest

        from lakehouse_to_rag_spark.operators.dedup import (
            _banded_hamming_pairs,
            incremental_media_dedup,
        )

        # planted: pairs (2k, 2k+1) differ in <= 6 bits; bases far
        base = [((i * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF)
                for i in range(200)]
        rows = []
        for i, b in enumerate(base):
            rows.append((2 * i, b))
            rows.append((2 * i + 1, b ^ (0b101 << (i % 60))))  # 2-bit flip
        sigs = spark.createDataFrame(rows, "id long, simhash long")

        outs = {}
        for nb in (7, 8, 16):
            outs[nb] = sorted(
                (r["id_a"], r["id_b"], r["hamming"])
                for r in _banded_hamming_pairs(sigs, 64, nb, 6).collect()
            )
        assert outs[7] == outs[8] == outs[16]
        assert len(outs[7]) >= 200  # every planted pair found

        inc = sigs.filter("id % 4 < 2")
        snap = sigs.filter("id % 4 >= 2")
        a = sorted(map(tuple, incremental_media_dedup(inc, snap).collect()))
        b = sorted(map(tuple, incremental_media_dedup(
            inc, snap, num_bands=16).collect()))
        assert a == b

        with pytest.raises(ValueError, match="incomplete"):
            incremental_media_dedup(inc, snap, max_hamming=6, num_bands=6)
        with pytest.raises(ValueError, match="num_bands"):
            incremental_media_dedup(inc, snap, num_bands="many")
        # feasibility (ADVICE r11): more bands than signature bits
        # would make zero-bit blocks — fail closed instead of an
        # opaque assert (stripped under -O -> silent cross product)
        with pytest.raises(ValueError, match="signature"):
            incremental_media_dedup(inc, snap, max_hamming=64,
                                    num_bands="auto")
        with pytest.raises(ValueError, match="signature"):
            incremental_media_dedup(inc, snap, max_hamming=6,
                                    num_bands=65)
        # every previously valid call resolves identically: the added
        # check only rejects, never re-bands (registry NOT-pinned
        # rationale)
        from lakehouse_to_rag_spark.operators.dedup import _resolve_bands
        assert _resolve_bands("auto", 6, "t") == 7
        assert _resolve_bands(16, 6, "t") == 16
        assert _resolve_bands("auto", 3, "t", 60) == 4
