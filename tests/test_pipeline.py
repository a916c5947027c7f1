"""Index pipeline, .vdb codec, embedder, context, multimodal tests."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from cli_rag_spark.functions.let import let
from cli_rag_spark.operators.context import assemble_context, rag_prompt
from cli_rag_spark.operators.embed import embed, mock_embed_py, mock_embedding_expr
from cli_rag_spark.operators.index import DimensionError, build_index, validate_dimension
from cli_rag_spark.operators.multimodal import (
    attach_binary_metadata,
    audio_window_plan,
    bmp_encode,
    decode_audio,
    decode_images,
    extract_features,
    fake_decode_audio,
    fake_decode_image,
    frame_sample_plan,
    real_decode_audio,
    real_decode_image,
    synth_bmp_payloads,
    wav_encode,
)
from cli_rag_spark.sources.documents import load_table
from cli_rag_spark.operators.hamming import simhash_signature
from cli_rag_spark.sources.vdb import BINARY_VECTOR, read_vdb, write_vdb


class TestMockEmbedder:
    def test_unit_norm_and_determinism(self, spark):
        df = spark.createDataFrame([("hello world",), ("hello world",), ("other",)], ["chunk_text"])
        out = embed(df, mode="mock", dim=8).collect()
        v0, v1, v2 = (r["embedding"] for r in out)
        assert v0 == v1  # deterministic
        assert v0 != v2
        assert abs(sum(x * x for x in v0) - 1.0) < 1e-6  # unit norm

    def test_python_twin_matches_spark(self, spark):
        df = spark.createDataFrame([("some text",)], ["chunk_text"])
        spark_vec = embed(df, mode="mock", dim=8).collect()[0]["embedding"]
        py_vec = mock_embed_py("some text", 8)
        assert all(abs(a - b) < 1e-9 for a, b in zip(spark_vec, py_vec))

    @pytest.mark.parametrize("dim", [1, 8, 64])
    def test_plan_evaluates_each_md5_once(self, spark, untruncated_plans, dim):
        # the raw vector and its norm are bound once per row, not
        # recomputed inside the per-element normalize lambda
        df = spark.createDataFrame([("a",)], "t string")
        assert _md5_count(df.select(mock_embedding_expr(F.col("t"), dim).alias("e"))) == dim

    @pytest.mark.parametrize("dim", [1, 8, 64])
    def test_bit_identical_to_python_twin(self, spark, dim):
        chunk = ("table scan hash join " * 30)[:500]
        df = spark.createDataFrame([(0, ""), (1, None), (2, chunk)], "i int, t string")
        got = {
            r.i: r.e
            for r in df.select("i", mock_embedding_expr(F.col("t"), dim).alias("e")).collect()
        }
        assert got[0] == mock_embed_py("", dim)
        assert got[1] == [None] * dim
        assert got[2] == mock_embed_py(chunk, dim)


def _md5_count(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("md5(")


def test_let_binds_value_once_and_passes_null(spark, untruncated_plans):
    df = spark.createDataFrame([("a",), (None,)], "t string")
    out = df.select(
        F.col("t"),
        let(F.md5(F.col("t")), lambda v: F.struct(
            v.isNull().alias("is_null"),
            F.transform(F.array(*map(F.lit, "123")), lambda x: F.concat(v, x)).alias("xs"),
        )).alias("r"),
    )
    assert _md5_count(out) == 1
    got = {row.t: (row.r.is_null, row.r.xs) for row in out.collect()}
    h = "0cc175b9c0f1b6a831c399e269772661"  # md5("a")
    assert got == {"a": (False, [h + "1", h + "2", h + "3"]), None: (True, [None] * 3)}


class TestIndexBuild:
    def test_build_index_end_to_end(self, spark, sf_smoke_dir, tmp_path):
        docs = load_table(spark, sf_smoke_dir, "documents").limit(20)
        out_path = os.path.join(str(tmp_path), "index")
        idx = build_index(docs, out_path=out_path, chunk_size=100, dim=8)
        assert validate_dimension(idx) == 8
        reread = spark.read.parquet(out_path)
        assert reread.count() == idx.count()
        assert set(reread.columns) >= {"doc_id", "chunk_index", "chunk_text", "embedding", "id"}

    def test_dimension_validation_rejects_mixed(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])], ["id", "embedding"]
        )
        with pytest.raises(DimensionError, match="non-uniform"):
            validate_dimension(df)


class TestVdbCodec:
    def test_round_trip(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0], "alpha"), (1, [4.0, 5.0, 6.0], "beta bytes é")],
            ["id", "embedding", "text"],
        )
        path = os.path.join(str(tmp_path), "t.vdb")
        n = write_vdb(df, path)
        assert n == 2
        back = read_vdb(spark, path).orderBy("id").collect()
        assert [r["text"] for r in back] == ["alpha", "beta bytes é"]
        assert back[0]["embedding"] == [1.0, 2.0, 3.0]

    def test_layout_bytes(self, spark, tmp_path):
        # byte layout per vector-db.c:42-79: magic, type, n, dim,
        # exactly dim doubles per row (write_db_to_disk moves
        # vector_length*8 bytes; the reference's pad-to-4-doubles is
        # in-memory only), length-prefixed text
        df = spark.createDataFrame([(0, [1.0, 2.0, 3.0], "ab")], ["id", "embedding", "text"])
        path = os.path.join(str(tmp_path), "t.vdb")
        write_vdb(df, path)
        data = open(path, "rb").read()
        assert data[:4] == b"VEC\x00"
        assert data[4] == 1  # DOUBLE_VECTOR
        assert int.from_bytes(data[5:13], "little") == 1
        assert int.from_bytes(data[13:21], "little") == 3
        # 3 doubles (24 bytes) + text record (8 + 2)
        assert len(data) == 21 + 24 + 8 + 2
        import struct as st
        assert st.unpack_from("<3d", data, 21) == (1.0, 2.0, 3.0)

    def test_round_trip_dim_not_multiple_of_4(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0, 4.0, 5.0], "a"), (1, [6.0, 7.0, 8.0, 9.0, 10.0], "b")],
            ["id", "embedding", "text"],
        )
        path = os.path.join(str(tmp_path), "d5.vdb")
        write_vdb(df, path)
        back = read_vdb(spark, path).orderBy("id").collect()
        assert back[0]["embedding"] == [1.0, 2.0, 3.0, 4.0, 5.0]
        assert back[1]["embedding"] == [6.0, 7.0, 8.0, 9.0, 10.0]

    def test_binary_round_trip_bit_identical(self, spark, tmp_path):
        # BINARY_VECTOR write (vector-db.c:58-60,111-113 packing):
        # write → read → bit-identical, dim 10 spans two packed bytes
        rows = [(0, [1.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.0], "x"),
                (1, [0.0, 1.0, 0.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 0.0], "y")]
        df = spark.createDataFrame(rows, ["id", "embedding", "text"])
        path = os.path.join(str(tmp_path), "b.vdb")
        write_vdb(df, path, vec_type=BINARY_VECTOR)
        data = open(path, "rb").read()
        assert data[4] == 0  # BINARY_VECTOR type byte
        # 2 rows x (10//8+1 = 2 bytes) + two text records
        assert len(data) == 21 + 2 * 2 + (8 + 1) * 2
        back = read_vdb(spark, path).orderBy("id").collect()
        assert [r["embedding"] for r in back] == [r[1] for r in rows]

    def test_binary_round_trip_hamming_signatures(self, spark, tmp_path):
        # end-to-end with the live BINARY_VECTOR producer: simhash
        # packed longs -> bit arrays -> .vdb -> read -> repacked longs
        docs = spark.createDataFrame(
            [(0, "alpha beta gamma delta"), (1, "epsilon zeta eta theta"),
             (2, "alpha beta gamma delta")],
            ["doc_id", "text"],
        )
        n_bits = 16
        sigs = {r["doc_id"]: r["sig"] for r in simhash_signature(docs, n_bits=n_bits).collect()}
        bits_df = spark.createDataFrame(
            [(i, [float((sigs[i] >> j) & 1) for j in range(n_bits)], f"doc{i}") for i in sorted(sigs)],
            ["id", "embedding", "text"],
        )
        path = os.path.join(str(tmp_path), "sig.vdb")
        write_vdb(bits_df, path, vec_type=BINARY_VECTOR)
        back = read_vdb(spark, path).orderBy("id").collect()
        repacked = {
            r["id"]: sum(int(b) << j for j, b in enumerate(r["embedding"])) for r in back
        }
        assert repacked == sigs

    def test_binary_write_rejects_non_bits(self, spark, tmp_path):
        df = spark.createDataFrame([(0, [0.5, 1.0], "t")], ["id", "embedding", "text"])
        with pytest.raises(ValueError, match="not 0/1"):
            write_vdb(df, os.path.join(str(tmp_path), "bad.vdb"), vec_type=BINARY_VECTOR)

    def test_bad_magic_is_hard_error(self, spark, tmp_path):
        path = os.path.join(str(tmp_path), "bad.vdb")
        open(path, "wb").write(b"NOPE" + b"\x00" * 40)
        with pytest.raises(ValueError, match="bad magic"):
            read_vdb(spark, path)

    def test_empty_write_rejected(self, spark, tmp_path):
        df = spark.createDataFrame([], "id long, embedding array<double>, text string")
        with pytest.raises(ValueError, match="empty"):
            write_vdb(df, os.path.join(str(tmp_path), "e.vdb"))


class TestContext:
    def test_assemble_order_insensitive(self, spark):
        hits = spark.createDataFrame(
            [(3, "c"), (1, "a"), (2, "b")], ["rank", "text"]
        ).repartition(3)
        out = assemble_context(hits).collect()[0]["context"]
        assert out == "Context 1:\na \n Context 2:\nb \n Context 3:\nc"

    def test_rag_prompt_no_typo(self, spark):
        df = spark.createDataFrame([("ctx", "hi")], ["context", "q"])
        p = df.select(rag_prompt(F.col("context"), F.col("q")).alias("p")).collect()[0]["p"]
        assert "assistant" in p and "assistent" not in p  # multirag.c:77 quirk not inherited


class TestMultimodal:
    def _payload_df(self, spark):
        return spark.createDataFrame(
            [(0, b"\xff\xd8\xffrest-of-jpeg"), (1, b"\x89PNG\r\n\x1a\nrest"), (2, b"plain")],
            "doc_id long, payload binary",
        )

    def test_metadata_sniffing(self, spark):
        out = {r["doc_id"]: r["meta"] for r in attach_binary_metadata(self._payload_df(spark)).collect()}
        assert out[0]["format"] == "jpeg"
        assert out[1]["format"] == "png"
        assert out[2]["format"] == "unknown"
        assert out[2]["n_bytes"] == 5

    def test_decode_default_raises_on_entropy_formats(self, spark):
        # the default decoder is now the REAL BMP parser; jpeg/png
        # payloads still raise (entropy decode needs PIL/cv2)
        df = decode_images(self._payload_df(spark))
        with pytest.raises(Exception, match="NotImplementedError|implemented for BMP"):
            df.collect()

    def test_fake_decoder_deterministic(self, spark):
        df = decode_images(self._payload_df(spark), decoder=fake_decode_image)
        rows = {r["doc_id"]: r for r in df.collect()}
        again = {r["doc_id"]: r for r in decode_images(self._payload_df(spark), decoder=fake_decode_image).collect()}
        assert rows[0]["width"] == again[0]["width"]
        assert rows[0]["mode"] in ("RGB", "RGBA", "L")

    def test_feature_extraction_shape(self, spark):
        out = extract_features(self._payload_df(spark), dim=6).collect()
        for r in out:
            assert len(r["features"]) == 6
            assert all(-0.5 <= x <= 0.5 for x in r["features"])

    def test_frame_sampling(self, spark):
        out = frame_sample_plan(self._payload_df(spark), n_frames=3).collect()
        assert len(out) == 9
        offs = [r["frame_offset"] for r in out if r["doc_id"] == 2]
        assert offs == [0, 1, 3]

    def test_audio_decode_stub_and_fake(self, spark):
        with pytest.raises(Exception, match="NotImplementedError|implemented for RIFF"):
            decode_audio(self._payload_df(spark)).collect()
        rows = {r["doc_id"]: r for r in decode_audio(
            self._payload_df(spark), decoder=fake_decode_audio
        ).collect()}
        assert rows[0]["sample_rate"] in (8000, 16000, 44100, 48000)
        assert rows[0]["channels"] in (1, 2)
        assert rows[0]["duration_sec"] >= 0.5

    def test_audio_windows(self, spark):
        df = spark.createDataFrame([(0, b"x" * 300), (1, b"y" * 10)], "doc_id long, payload binary")
        out = audio_window_plan(df, window_bytes=256, hop_bytes=128).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # 300 bytes: sequence(0, 44, 128) = [0]; the window covers 256 bytes
        assert [(r["win_offset"], r["win_bytes"]) for r in by_doc[0]] == [(0, 256)]
        # short payload → exactly one partial window
        assert [(r["win_offset"], r["win_bytes"]) for r in by_doc[1]] == [(0, 10)]
        assert len(by_doc[1][0]["win_stub"]) == 10
        # overlapping case: 600 bytes → sequence(0, 344, 128) = [0, 128, 256]
        df2 = spark.createDataFrame([(2, b"z" * 600)], "doc_id long, payload binary")
        offs = sorted(
            r["win_offset"]
            for r in audio_window_plan(df2, window_bytes=256, hop_bytes=128).collect()
        )
        assert offs == [0, 128, 256]


class TestRealCodecs:
    """Dependency-free BMP/WAV round-trips — the real decode path
    (VERDICT r5 #4). Pure-Python cases run without Spark; the Spark
    case drives the default decoder through mapInPandas."""

    def test_bmp_roundtrip_all_modes(self):
        for mode, w, h in [("RGB", 5, 3), ("RGBA", 4, 2), ("L", 7, 6)]:
            d = real_decode_image(bmp_encode(w, h, mode, fill=200))
            assert (d["width"], d["height"], d["mode"]) == (w, h, mode)
            assert d["px_mean"] == 200.0

    def test_bmp_stride_padding_excluded_from_pixels(self):
        # width 5 × 3 channels = 15 bytes/row → stride 16: one zero
        # pad byte per row. A parser averaging raw bytes would get
        # 15/16 of the fill — the exact-fill assertion catches it.
        d = real_decode_image(bmp_encode(5, 4, "RGB", fill=160))
        assert d["px_mean"] == 160.0

    def test_bmp_palette_offset_honored(self):
        # 8bpp: 1024 palette bytes (zeros) sit between the headers and
        # the pixels; a parser assuming data-at-54 reads palette zeros
        d = real_decode_image(bmp_encode(6, 2, "L", fill=33))
        assert d["px_mean"] == 33.0
        assert d["mode"] == "L"

    def test_bmp_topdown_negative_height(self):
        d = real_decode_image(bmp_encode(3, 9, "RGB", fill=7, topdown=True))
        assert d["height"] == 9
        assert d["px_mean"] == 7.0

    def test_bmp_truncated_raises(self):
        full = bmp_encode(4, 4, "RGB", fill=1)
        with pytest.raises(ValueError, match="truncated"):
            real_decode_image(full[:-8])

    def test_non_bmp_raises_not_implemented(self):
        with pytest.raises(NotImplementedError, match="BMP"):
            real_decode_image(b"\x89PNG\r\n\x1a\nrest-of-png")

    def test_wav_roundtrip(self):
        for rate, ch, frames in [(16000, 1, 16000), (44100, 2, 22050)]:
            d = real_decode_audio(wav_encode(rate, ch, frames))
            assert d["sample_rate"] == rate
            assert d["channels"] == ch
            assert d["duration_sec"] == round(frames / rate, 2)

    def test_wav_chunk_walking_not_offset_44(self):
        # wav_encode inserts a LIST chunk before data; a parser that
        # assumes data at offset 44 reads the wrong chunk entirely
        d = real_decode_audio(wav_encode(8000, 1, 4000))
        assert d["duration_sec"] == 0.5

    def test_non_wav_raises_not_implemented(self):
        with pytest.raises(NotImplementedError, match="RIFF/WAVE"):
            real_decode_audio(b"ID3mp3-bytes-here")

    def test_spark_default_decoder_matches_closed_form(self, spark):
        df = spark.range(0, 40).select(F.col("id").alias("doc_id"))
        out = decode_images(synth_bmp_payloads(df)).collect()
        assert len(out) == 40
        for r in out:
            i = r["doc_id"]
            assert r["width"] == 1 + i % 64
            assert r["height"] == 1 + i % 48
            assert r["mode"] == ["RGB", "RGBA", "L"][i % 3]
            assert r["px_mean"] == float(i % 256)


class TestDhash:
    """Perceptual-hash image dedup over real decoded pixels (r7)."""

    def test_dhash_bits_hand_computed(self):
        from cli_rag_spark.operators.multimodal import dhash_bits

        # 2x2 grid (grid_w=2, grid_h=2) over a 2x2 image: each pixel
        # is its own block. Horizontal bits: right>left per row;
        # vertical bits: lower>upper per column.
        rows = [[1, 5], [9, 3]]
        assert dhash_bits(rows, grid_w=2, grid_h=2) == "1" "0" + "10"
        # horizontal: (5>1)=1, (3>9)=0; vertical: (9>1)=1, (3>5)=0

    def test_dhash_block_means_not_sums(self):
        from cli_rag_spark.operators.multimodal import dhash_bits

        # 3 pixels wide on a 2-block grid → blocks of 2 and 1 pixels.
        # Sums compare 2+2=4 > 3 but means compare 2 < 3 — a sum-based
        # hash gets this bit backwards.
        rows = [[2, 2, 3]]
        assert dhash_bits(rows, grid_w=2, grid_h=1) == "1"

    def test_dhash_vertical_bits_make_orientation_load_bearing(self):
        from cli_rag_spark.operators.multimodal import dhash_bits

        rows = [[(3 * x + 5 * y + x * y) % 16 for x in range(9)] for y in range(8)]
        flipped = list(reversed(rows))
        assert dhash_bits(rows) != dhash_bits(flipped)

    def test_dhash_too_small_raises(self):
        from cli_rag_spark.operators.multimodal import dhash_bits

        with pytest.raises(ValueError, match="smaller"):
            dhash_bits([[1] * 4] * 4)

    def test_topdown_and_bottomup_encodings_hash_identically(self):
        from cli_rag_spark.operators.multimodal import (
            bmp_encode_gradient,
            dhash_bits,
            real_decode_pixel_grid,
        )

        for g in (0, 5, 17):
            up = real_decode_pixel_grid(bmp_encode_gradient(16, 8, g, topdown=False))
            down = real_decode_pixel_grid(bmp_encode_gradient(16, 8, g, topdown=True))
            assert up["rows"] == down["rows"]
            assert dhash_bits(up["rows"]) == dhash_bits(down["rows"])

    def test_gradient_groups_discriminate(self):
        from cli_rag_spark.operators.multimodal import (
            DHASH_SYNTH_GROUPS,
            bmp_encode_gradient,
            dhash_bits,
            real_decode_pixel_grid,
        )

        hashes = {
            g: dhash_bits(
                real_decode_pixel_grid(
                    bmp_encode_gradient(16, 8, g, topdown=g % 5 == 0)
                )["rows"]
            )
            for g in range(DHASH_SYNTH_GROUPS)
        }
        assert all(len(h) == 127 for h in hashes.values())
        # measured fixture property: 29 of the 37 gradients hash uniquely
        assert len(set(hashes.values())) == 29

    def test_spark_dhash_plan_matches_python_chain(self, spark):
        from cli_rag_spark.operators.multimodal import (
            dhash_bits,
            image_dhash_plan,
            real_decode_pixel_grid,
            synth_gradient_bmp_payloads,
        )

        df = spark.range(0, 80).select(F.col("id").alias("doc_id"))
        out = image_dhash_plan(synth_gradient_bmp_payloads(df)).collect()
        assert len(out) == 80
        for r in out:
            expect = dhash_bits(
                real_decode_pixel_grid(bytes(r["payload"]))["rows"]
            )
            assert r["dhash"] == expect
        # pixel-identical groups (same doc_id % 37) bucket together
        by_g = {}
        for r in out:
            by_g.setdefault(r["doc_id"] % 37, set()).add(r["dhash"])
        assert all(len(s) == 1 for s in by_g.values())

    def test_hamming_bits_column_matches_python(self, spark):
        import random

        from cli_rag_spark.operators.multimodal import hamming_bits_column

        rng = random.Random(7)
        rows = []
        for i in range(30):
            a = "".join(rng.choice("01") for _ in range(127))
            b = "".join(rng.choice("01") for _ in range(127))
            rows.append((i, a, b, sum(x != y for x, y in zip(a, b))))
        df = spark.createDataFrame(rows, "i long, a string, b string, expect long")
        out = df.withColumn("h", hamming_bits_column("a", "b", 127)).collect()
        for r in out:
            assert r["h"] == r["expect"], r["i"]

    def test_neardup_banding_complete_vs_bruteforce(self, spark):
        import itertools
        import random

        from cli_rag_spark.operators.multimodal import dhash_neardup_pairs

        # random hashes + planted near-pairs: the banded join must
        # recover EXACTLY the brute-force pair set at radius 8
        rng = random.Random(11)
        hashes = {"".join(rng.choice("01") for _ in range(127)) for _ in range(20)}
        planted = []
        for h in list(hashes)[:4]:
            bits = list(h)
            for pos in rng.sample(range(127), rng.randint(1, 8)):
                bits[pos] = "1" if bits[pos] == "0" else "0"
            planted.append("".join(bits))
        hashes |= set(planted)
        truth = sorted(
            (a, b, sum(x != y for x, y in zip(a, b)))
            for a, b in itertools.combinations(sorted(hashes), 2)
            if sum(x != y for x, y in zip(a, b)) <= 8
        )
        assert truth, "fixture must plant at least one near pair"
        df = spark.createDataFrame([(h,) for h in hashes], "dhash string")
        got = sorted(
            (r["hash_a"], r["hash_b"], r["hamming"])
            for r in dhash_neardup_pairs(df, radius=8, n_bands=9).collect()
        )
        assert got == truth

    def test_neardup_pigeonhole_guard(self, spark):
        from cli_rag_spark.operators.multimodal import dhash_neardup_pairs

        df = spark.createDataFrame([("0" * 127,)], "dhash string")
        with pytest.raises(ValueError, match="pigeonhole"):
            dhash_neardup_pairs(df, radius=9, n_bands=9)
        with pytest.raises(ValueError, match="radius"):
            dhash_neardup_pairs(df, radius=-1, n_bands=4)


class TestAudioFingerprint:
    """Energy-contour audio dedup over real chunk-walked PCM (r7)."""

    def test_pcm_extraction_walks_past_junk_chunk(self):
        from cli_rag_spark.operators.multimodal import real_decode_pcm, wav_encode

        payload = wav_encode(8000, 1, 64, bits=8, pattern=(3, 5))
        pcm = real_decode_pcm(payload)
        assert pcm == bytes((3 * n + 5) % 256 for n in range(64))

    def test_pcm_extraction_refuses_non_wav(self):
        from cli_rag_spark.operators.multimodal import real_decode_pcm

        with pytest.raises(NotImplementedError, match="RIFF/WAVE"):
            real_decode_pcm(b"ID3mp3-bytes")

    def test_fingerprint_hand_computed(self):
        from cli_rag_spark.operators.multimodal import audio_energy_fingerprint

        # 4 windows of 2 bytes: sums 1, 5, 3, 3 -> bits: 5>1, 3<5, 3==3
        data = bytes([0, 1, 2, 3, 2, 1, 1, 2])
        assert audio_energy_fingerprint(data, n_windows=4) == "100"

    def test_fingerprint_compares_means_not_sums(self):
        from cli_rag_spark.operators.multimodal import audio_energy_fingerprint

        # 3 bytes over 2 windows -> blocks of 2 and 1: sums 4 vs 3 but
        # means 2 vs 3 — a sum comparison flips this bit
        assert audio_energy_fingerprint(bytes([2, 2, 3]), n_windows=2) == "1"

    def test_fingerprint_too_short_raises(self):
        from cli_rag_spark.operators.multimodal import audio_energy_fingerprint

        with pytest.raises(ValueError, match="shorter"):
            audio_energy_fingerprint(bytes(8), n_windows=16)

    def test_tone_groups_discriminate(self):
        from cli_rag_spark.operators.multimodal import (
            TONE_SYNTH_GROUPS,
            audio_energy_fingerprint,
            real_decode_pcm,
            wav_encode,
        )

        fps = {
            g: audio_energy_fingerprint(
                real_decode_pcm(
                    wav_encode(8000, 1, 256 + (g % 8) * 32, bits=8,
                               pattern=(g % 7 + 1, g % 11))
                )
            )
            for g in range(TONE_SYNTH_GROUPS)
        }
        assert all(len(f) == 15 for f in fps.values())
        # measured fixture property: 24 distinct contours of 29 ramps
        assert len(set(fps.values())) == 24

    def test_spark_plan_matches_python_chain(self, spark):
        from cli_rag_spark.operators.multimodal import (
            audio_energy_fingerprint,
            audio_fingerprint_plan,
            real_decode_pcm,
            synth_tone_wav_payloads,
        )

        df = spark.range(0, 60).select(F.col("id").alias("doc_id"))
        out = audio_fingerprint_plan(synth_tone_wav_payloads(df)).collect()
        assert len(out) == 60
        for r in out:
            assert r["afp"] == audio_energy_fingerprint(
                real_decode_pcm(bytes(r["payload"]))
            )
        by_g = {}
        for r in out:
            by_g.setdefault(r["doc_id"] % 29, set()).add(r["afp"])
        assert all(len(s) == 1 for s in by_g.values())


class TestMathSanity:
    def test_mock_vec_cosine_self_zero(self):
        v = mock_embed_py("x", 8)
        dot = sum(a * a for a in v)
        assert abs(1 - dot) < 1e-8


class TestResize:
    def test_resize_stub_and_fake(self, spark):
        from cli_rag_spark.operators.multimodal import fake_resize_image, resize_images

        df = spark.createDataFrame(
            [(0, b"img-bytes-aaaa"), (1, b"img-bytes-bbbb")], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match="NotImplementedError|real image resize"):
            resize_images(df, 64, 48).collect()
        rows = {r.doc_id: r for r in resize_images(df, 64, 48, resizer=fake_resize_image).collect()}
        assert rows[0].out_width == 64 and rows[0].out_height == 48
        assert len(rows[0].resized) == 64 * 48 // 64
        # deterministic + payload-sensitive
        again = {r.doc_id: r for r in resize_images(df, 64, 48, resizer=fake_resize_image).collect()}
        assert bytes(rows[0].resized) == bytes(again[0].resized)
        assert bytes(rows[0].resized) != bytes(rows[1].resized)


class TestAviSampler:
    """Dependency-free RIFF/AVI container round-trips — the video
    sibling of TestRealCodecs (late r6): frame sampling over real
    bytes, junk-chunk walking, alignment, honest non-AVI refusal."""

    def test_avi_roundtrip_and_sampling(self):
        from cli_rag_spark.operators.multimodal import avi_encode, real_sample_frames

        d = real_sample_frames(avi_encode(32, 48, 11), every_k=4)
        assert (d["width"], d["height"], d["n_frames"]) == (32, 48, 11)
        # frames 0,4,8 with sizes 64, 96, 128 (64 + 8j)
        assert d["frames"] == [(0, 64), (4, 96), (8, 128)]

    def test_avi_odd_frame_sizes_word_aligned(self):
        from cli_rag_spark.operators.multimodal import avi_encode, real_sample_frames

        d = real_sample_frames(
            avi_encode(16, 16, 3, frame_sizes=[7, 8, 9]), every_k=1
        )
        assert d["frames"] == [(0, 7), (1, 8), (2, 9)]

    def test_avi_every_k_one_keeps_all(self):
        from cli_rag_spark.operators.multimodal import avi_encode, real_sample_frames

        d = real_sample_frames(avi_encode(16, 32, 5), every_k=1)
        assert [i for i, _ in d["frames"]] == [0, 1, 2, 3, 4]

    def test_non_avi_raises_not_implemented(self):
        from cli_rag_spark.operators.multimodal import real_sample_frames

        with pytest.raises(NotImplementedError, match="AVI"):
            real_sample_frames(b"\x00\x00\x00\x20ftypisom-mp4-data", 4)

    def test_bad_every_k_raises(self):
        from cli_rag_spark.operators.multimodal import avi_encode, real_sample_frames

        with pytest.raises(ValueError, match="every_k"):
            real_sample_frames(avi_encode(16, 16, 2), every_k=0)

    def test_spark_sampler_matches_closed_form(self, spark):
        from cli_rag_spark.operators.multimodal import (
            sample_video_frames,
            synth_avi_payloads,
        )

        ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
        rows = sample_video_frames(synth_avi_payloads(ids), every_k=4).collect()
        assert len(rows) == 40
        for r in rows:
            i = r["doc_id"]
            n = 8 + i % 24
            m = (n + 3) // 4
            assert r["width"] == 16 * (1 + i % 4)
            assert r["height"] == 16 * (1 + i % 3)
            assert (r["n_frames"], r["n_sampled"]) == (n, m)
            assert r["sampled_bytes"] == 64 * m + 16 * m * (m - 1)

    def test_interleaved_audio_does_not_shift_frame_index(self):
        from cli_rag_spark.operators.multimodal import avi_encode, real_sample_frames

        plain = real_sample_frames(avi_encode(16, 16, 9), every_k=2)
        muxed = real_sample_frames(
            avi_encode(16, 16, 9, interleave_audio=True), every_k=2
        )
        assert muxed["frames"] == plain["frames"]
        assert muxed["n_frames"] == 9


class TestSceneCuts:
    """Temporal video analysis over real AVI bytes (r7): per-frame
    byte-sum signatures + luma-difference shot-boundary detection."""

    def test_frame_signatures_read_actual_bytes(self):
        from cli_rag_spark.operators.multimodal import (
            avi_encode,
            real_frame_signatures,
        )

        d = real_frame_signatures(
            avi_encode(32, 16, 3, frame_sizes=[4, 5, 6], frame_fills=[10, 20, 30])
        )
        assert (d["width"], d["height"], d["n_frames"]) == (32, 16, 3)
        assert d["frames"] == [(0, 4, 40), (1, 5, 100), (2, 6, 180)]

    def test_signatures_skip_interleaved_audio(self):
        from cli_rag_spark.operators.multimodal import (
            avi_encode,
            real_frame_signatures,
        )

        d = real_frame_signatures(
            avi_encode(16, 16, 3, frame_fills=[5, 5, 5], interleave_audio=True)
        )
        assert [i for i, _, _ in d["frames"]] == [0, 1, 2]
        # audio chunk bytes (zeros) must not leak into video sums
        assert [bs for _, sz, bs in d["frames"]] == [5 * sz for _, sz, _ in d["frames"]]

    def test_non_avi_signatures_raise(self):
        from cli_rag_spark.operators.multimodal import real_frame_signatures

        with pytest.raises(NotImplementedError, match="AVI"):
            real_frame_signatures(b"\x00\x00\x00\x20ftypisom-mp4-data")

    def test_cut_threshold_semantics(self, spark):
        from cli_rag_spark.operators.multimodal import avi_encode, detect_scene_cuts

        # diffs: 3 (no cut at T=4), 5 (cut), 0, 100 (cut)
        payload = avi_encode(16, 16, 5, frame_fills=[10, 13, 18, 18, 118])
        df = spark.createDataFrame([(1, bytearray(payload))], ["doc_id", "payload"])
        row = detect_scene_cuts(df, threshold=4).collect()[0]
        assert (row.n_cuts, row.cut_idx_sum) == (2, 2 + 4)
        # threshold is strict 'greater than': T=5 drops the diff-5 cut
        row5 = detect_scene_cuts(df, threshold=5).collect()[0]
        assert (row5.n_cuts, row5.cut_idx_sum) == (1, 4)

    def test_single_frame_and_validation(self, spark):
        from cli_rag_spark.operators.multimodal import avi_encode, detect_scene_cuts

        df = spark.createDataFrame(
            [(1, bytearray(avi_encode(16, 16, 1, frame_fills=[7])))],
            ["doc_id", "payload"],
        )
        row = detect_scene_cuts(df, threshold=0).collect()[0]
        assert (row.n_frames, row.n_cuts, row.cut_idx_sum) == (1, 0, 0)
        with pytest.raises(ValueError, match="threshold"):
            detect_scene_cuts(df, threshold=-1)

    def test_scene_synth_matches_closed_form(self, spark):
        from cli_rag_spark.operators.multimodal import (
            detect_scene_cuts,
            synth_avi_scene_payloads,
        )

        ids = [0, 3, 7, 12, 19, 31]
        df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
        got = {
            r.doc_id: (r.n_frames, r.n_cuts, r.cut_idx_sum)
            for r in detect_scene_cuts(
                synth_avi_scene_payloads(df), threshold=4
            ).collect()
        }
        for i in ids:
            n = 12 + i % 20
            L = 3 + i % 5
            k = (n - 1) // L
            assert got[i] == (n, k, L * k * (k + 1) // 2), i


class TestVdbDistributed:
    """read_vdb_distributed (VERDICT r9 #7a): executor-side parse must
    be row-for-row identical to the driver-side codec, at any
    partitioning, for both vector types."""

    def _roundtrip(self, spark, tmp_path, rows, vec_type, parts):
        from cli_rag_spark.sources.vdb import (
            read_vdb,
            read_vdb_distributed,
            write_vdb,
        )

        df = spark.createDataFrame(
            rows, "id long, embedding array<double>, text string"
        )
        path = os.path.join(str(tmp_path), f"dist_{vec_type}_{parts}.vdb")
        write_vdb(df, path, vec_type=vec_type)
        want = [tuple(r) for r in read_vdb(spark, path).orderBy("id").collect()]
        got = [
            tuple(r)
            for r in read_vdb_distributed(spark, path, num_partitions=parts)
            .orderBy("id")
            .collect()
        ]
        assert got == want
        return got

    def test_double_vectors_match_driver_codec(self, spark, tmp_path):
        rows = [
            (i, [float(i), float(i) / 2, -1.5, 0.0], f"doc-{i} with ünïcode")
            for i in range(37)
        ]
        # 1 partition (degenerate), uneven split, more parts than rows
        for parts in (1, 4, 64):
            got = self._roundtrip(spark, tmp_path, rows, 1, parts)
            assert len(got) == 37 and got[0][0] == 0

    def test_binary_vectors_match_driver_codec(self, spark, tmp_path):
        from cli_rag_spark.sources.vdb import BINARY_VECTOR

        rows = [
            (i, [float((i >> b) & 1) for b in range(9)], f"b{i}")
            for i in range(17)
        ]
        self._roundtrip(spark, tmp_path, rows, BINARY_VECTOR, 5)

    def test_empty_texts_and_long_texts(self, spark, tmp_path):
        rows = [
            (0, [1.0, 2.0], ""),
            (1, [3.0, 4.0], "x" * 10_000),
            (2, [5.0, 6.0], ""),
        ]
        self._roundtrip(spark, tmp_path, rows, 1, 3)

    def test_bad_magic_raises(self, spark, tmp_path):
        import pytest

        from cli_rag_spark.sources.vdb import read_vdb_distributed

        p = os.path.join(str(tmp_path), "junk.vdb")
        with open(p, "wb") as f:
            f.write(b"NOPE" + b"\x00" * 30)
        with pytest.raises(ValueError, match="bad magic"):
            read_vdb_distributed(spark, p)

    def test_distributed_migration_helper(self, spark, tmp_path):
        from cli_rag_spark.sources.vdb import vdb_to_parquet, write_vdb

        rows = [(i, [float(i)] * 3, f"t{i}") for i in range(11)]
        df = spark.createDataFrame(
            rows, "id long, embedding array<double>, text string"
        )
        vdb = os.path.join(str(tmp_path), "mig.vdb")
        write_vdb(df, vdb)
        out = os.path.join(str(tmp_path), "mig.parquet")
        vdb_to_parquet(spark, vdb, out, distributed=True)
        back = spark.read.parquet(out)
        assert back.count() == 11
        assert {r["id"] for r in back.select("id").collect()} == set(range(11))


def test_vdb_distributed_corruption_guards(spark, tmp_path):
    """ADVICE r10: a truncated/corrupt .vdb must raise ValueError
    naming the byte offset during the driver offset walk — never an
    opaque struct.error or executor-side garbage from seeking past
    EOF."""
    import pytest

    from cli_rag_spark.sources.vdb import read_vdb_distributed, write_vdb

    rows = [(i, [float(i), 2.0], f"text-{i}") for i in range(5)]
    df = spark.createDataFrame(
        rows, "id long, embedding array<double>, text string"
    )
    path = os.path.join(str(tmp_path), "ok.vdb")
    write_vdb(df, path, vec_type=1)
    raw = open(path, "rb").read()

    # header shorter than 21 bytes
    p1 = os.path.join(str(tmp_path), "shorthead.vdb")
    open(p1, "wb").write(raw[:12])
    with pytest.raises(ValueError, match="truncated .vdb header"):
        read_vdb_distributed(spark, p1)

    # vector section truncated: header claims more bytes than the file
    p2 = os.path.join(str(tmp_path), "shortvec.vdb")
    open(p2, "wb").write(raw[:30])
    with pytest.raises(ValueError, match="file is only"):
        read_vdb_distributed(spark, p2)

    # text section truncated mid length-prefix
    p3 = os.path.join(str(tmp_path), "shorttext.vdb")
    open(p3, "wb").write(raw[:len(raw) - len(raw[21 + 5 * 16:]) + 3])
    with pytest.raises(ValueError, match="truncated text-length prefix"):
        read_vdb_distributed(spark, p3)

    # oversized text length seeks past EOF -> named offset, not garbage
    p4 = os.path.join(str(tmp_path), "badlen.vdb")
    import struct as _struct
    text_base = 21 + 5 * 16
    bad = bytearray(raw)
    bad[text_base:text_base + 8] = _struct.pack("<Q", 1 << 40)
    open(p4, "wb").write(bytes(bad))
    with pytest.raises(ValueError, match="past EOF"):
        read_vdb_distributed(spark, p4)


class TestStageFusion:
    """r15 _map_stage fusion: directly-chained payload stages collapse
    into one MapInPandas node, values identical to the unfused plan."""

    def _docs(self, spark):
        return spark.createDataFrame([(i,) for i in range(12)], "doc_id long")

    def test_fused_chain_single_python_node(self, spark):
        from cli_rag_spark.operators.multimodal import synth_wav_payloads

        fused = decode_audio(synth_wav_payloads(self._docs(spark)))
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1

    def test_fused_values_match_unfused(self, spark):
        from cli_rag_spark.operators.multimodal import synth_wav_payloads

        docs = self._docs(spark)
        fused = decode_audio(synth_wav_payloads(docs))
        # select("*") returns a fresh DataFrame wrapper without the
        # fusion marker -> the decode runs as its own MapInPandas node
        unfused_in = synth_wav_payloads(docs).select("*")
        assert not hasattr(unfused_in, "_clirag_fusable_stage")
        unfused = decode_audio(unfused_in)
        plan = unfused._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 2
        cols = ["doc_id", "sample_rate", "channels", "duration_sec"]
        a = sorted(tuple(r) for r in fused.select(*cols).collect())
        b = sorted(tuple(r) for r in unfused.select(*cols).collect())
        assert a == b
        assert len(a) == 12

    def test_three_stage_chain_fuses_and_matches(self, spark):
        from cli_rag_spark.operators.multimodal import synth_bmp_payloads

        docs = self._docs(spark)
        chained = extract_features(
            decode_images(synth_bmp_payloads(docs), decoder=fake_decode_image),
            dim=4,
        )
        plan = chained._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        rows = {r["doc_id"]: r for r in chained.collect()}
        base = {
            r["doc_id"]: r
            for r in extract_features(
                decode_images(
                    synth_bmp_payloads(docs).select("*"), decoder=fake_decode_image
                ).select("*"),
                dim=4,
            ).collect()
        }
        assert len(rows) == 12
        for k in rows:
            assert rows[k]["features"] == base[k]["features"]
            assert rows[k]["width"] == base[k]["width"]

    def test_project_stage_prunes_payload_inside_fused_node(self, spark):
        """r16 (VERDICT r15 #5): project_stage folds the downstream
        projection into the fused Python node — the payload column is
        absent from the node's OUTPUT schema (it never re-crosses the
        Arrow boundary), the chain stays one MapInPandas node, and
        values equal the plain JVM select."""
        from cli_rag_spark.operators.multimodal import (
            project_stage,
            synth_wav_payloads,
        )

        docs = self._docs(spark)
        cols = ["doc_id", "sample_rate", "channels", "duration_sec"]
        pruned = project_stage(decode_audio(synth_wav_payloads(docs)), cols)
        assert pruned.columns == cols  # payload gone from the contract
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "payload" not in plan  # never emitted above the node
        base = decode_audio(synth_wav_payloads(docs)).select(*cols)
        a = sorted(tuple(r) for r in pruned.collect())
        b = sorted(tuple(r) for r in base.collect())
        assert a == b
        assert len(a) == 12

    def test_project_stage_plain_dataframe_is_select(self, spark):
        from cli_rag_spark.operators.multimodal import project_stage

        docs = self._docs(spark).withColumn("x", F.col("doc_id") * 2)
        out = project_stage(docs.select("*"), ["x"])
        assert out.columns == ["x"]
        assert sorted(r["x"] for r in out.collect()) == [
            2 * i for i in range(12)
        ]
