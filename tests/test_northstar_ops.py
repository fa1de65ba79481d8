"""North-star operator quality: dedup estimators, ANN recall,
multimodal plumbing, SQL function registration.

These pin the semantics the DuckDB oracles can't express: MinHash/LSH
candidate recall against exact Jaccard, approximate-NN recall against
the brute-force top-k, SimHash locality, and the multimodal byte
plumbing's determinism and shapes.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestDedupQuality:
    def test_minhash_lsh_recall_against_exact_jaccard(self, spark, docs):
        """Every pair with true 3-gram Jaccard ≥ 0.7 must be recalled by
        the banded LSH at threshold 0.5 (32 hashes / 8 bands s-curve
        puts ~0.59 at the 50% point, so ≥0.7 pairs are near-certain)."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        docs1 = docs.withColumn("source", F.lit("all"))  # unblocked truth
        truth = {
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard_pairs(docs1, n=3, threshold=0.7, block_col="source").collect()
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(
                docs, n_hashes=32, bands=8, threshold=0.5, shingle_n=3
            ).collect()
        }
        assert truth, "fixture should contain at least one true near-dup pair"
        missed = truth - got
        assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"

    def test_minhash_output_verified(self, spark, docs):
        """Everything LSH emits must genuinely clear the Jaccard bar."""
        from textract_farmdata_pipeline_spark.operators.dedup import minhash_lsh_pairs

        out = minhash_lsh_pairs(docs, n_hashes=32, bands=8, threshold=0.5, shingle_n=3)
        assert out.filter(F.col("jaccard") < 0.5).count() == 0

    def test_simhash_locality(self, spark, docs):
        """Near-dup pairs (high Jaccard) must have smaller mean SimHash
        hamming distance than random pairs."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            ngram_jaccard_pairs,
            simhash,
        )

        sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}

        def hamming(a, b):
            return bin(a ^ b).count("1")

        docs1 = docs.withColumn("source", F.lit("all"))
        near = [
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard_pairs(docs1, n=1, threshold=0.8, block_col="source").collect()
        ]
        assert near
        ids = sorted(sh)
        random_pairs = [(ids[i], ids[(i * 7 + 3) % len(ids)]) for i in range(len(ids))]
        random_pairs = [(a, b) for a, b in random_pairs if a != b]
        near_mean = sum(hamming(sh[a], sh[b]) for a, b in near) / len(near)
        rand_mean = sum(hamming(sh[a], sh[b]) for a, b in random_pairs) / len(random_pairs)
        assert near_mean < rand_mean

    def test_exact_dedup_deterministic_representative(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import exact_dedup_by_hash

        df = spark.createDataFrame(
            [(3, "x"), (1, "x"), (2, "y"), (7, "x")], "doc_id long, text string"
        )
        rows = {r["keep_doc_id"]: r["group_size"] for r in exact_dedup_by_hash(df).collect()}
        assert rows == {1: 3, 2: 1}

    def test_soft_dedup_unit_mass_per_distinct_text(self, spark):
        """Soft dedup keeps EVERY row and assigns 1/n per copy, so each
        distinct text carries exactly unit total weight — the invariant
        that makes downweighting equivalent in expectation to keeping
        one copy."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            soft_dedup_weights,
        )

        df = spark.createDataFrame(
            [(3, "x"), (1, "x"), (2, "y"), (7, "x")], "doc_id long, text string"
        )
        rows = {
            r["doc_id"]: (r["n_copies"], r["weight"])
            for r in soft_dedup_weights(df).collect()
        }
        assert set(rows) == {1, 2, 3, 7}  # nothing dropped
        assert rows[2] == (1, 1.0)
        assert rows[1] == (3, 1.0 / 3) == rows[3] == rows[7]
        mass: dict = {}
        for d, (n, w) in rows.items():
            mass["x" if d != 2 else "y"] = mass.get("x" if d != 2 else "y", 0.0) + w
        assert abs(mass["x"] - 1.0) < 1e-12 and mass["y"] == 1.0

    def test_canonical_url_normalizations(self, spark):
        """Each normalization rung collapses its variant onto the
        canonical form; genuinely different pages stay distinct."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.dedup import (
            canonical_url,
        )

        cases = [
            # (input, expected canonical)
            ("https://Example.com/a/b?b=2&a=1", "https://example.com/a/b?a=1&b=2"),
            ("HTTPS://www.example.com/a/b/?a=1&b=2#frag", "https://example.com/a/b?a=1&b=2"),
            ("https://example.com:443/a/b?a=1&b=2", "https://example.com/a/b?a=1&b=2"),
            ("http://example.com:80/x", "http://example.com/x"),
            ("http://example.com:8080/x", "http://example.com:8080/x"),  # non-default port kept
            ("https://example.com", "https://example.com"),  # no path
            ("https://example.com/", "https://example.com"),  # root slash == root
            ("https://example.com/A/B", "https://example.com/A/B"),  # path case significant
            # non-absolute inputs pass through verbatim (no '://' junk key)
            ("example.com/a/b?b=2&a=1", "example.com/a/b?b=2&a=1"),
            ("not a url", "not a url"),
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [
            r["c"]
            for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
        ]
        assert got == [want for _, want in cases]

    def test_url_dedup_keep_first(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import url_dedup

        df = spark.createDataFrame(
            [
                (5, "https://Example.com/p?b=2&a=1"),
                (2, "https://www.example.com/p/?a=1&b=2"),
                (9, "https://example.com:443/p?a=1&b=2#x"),
                (1, "https://example.com/other"),
            ],
            "doc_id long, url string",
        )
        rows = {r["doc_id"]: r for r in url_dedup(df).collect()}
        assert [rows[d]["keep"] for d in (2, 5, 9)] == [True, False, False]
        assert rows[1]["keep"] and rows[1]["n_copies"] == 1
        assert {rows[d]["n_copies"] for d in (2, 5, 9)} == {3}


class TestAnnRecall:
    @pytest.fixture(scope="class")
    def truth(self, spark, emb):
        from textract_farmdata_pipeline_spark.operators.similarity import cosine_topk

        exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)
        truth: dict[int, set[int]] = {}
        for r in exact.collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return truth

    def _recall(self, approx_rows, truth):
        got: dict[int, set[int]] = {}
        for r in approx_rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    def test_ivf_recall(self, spark, emb, truth):
        """The fixture embeddings are near-uniform on the sphere (no
        cluster structure), the hardest case for IVF — so pin the
        mechanism (recall strictly grows with probes, scan fraction is
        the knob) plus a modest floor rather than a high absolute bar."""
        from textract_farmdata_pipeline_spark.operators.similarity import ann_topk_ivf

        q = emb.filter(F.col("vec_id") < 20)
        recalls = {
            probe: self._recall(ann_topk_ivf(emb, q, k=5, n_probe=probe).collect(), truth)
            for probe in (2, 4, 8)
        }
        assert recalls[2] <= recalls[4] <= recalls[8]
        assert recalls[4] >= 0.3
        assert recalls[8] >= 0.6

    def test_lsh_recall(self, spark, emb, truth):
        """8 OR-amplified tables of 4 planes: ≥0.6 recall on the
        structureless fixture (single-table recall is ~0.17)."""
        from textract_farmdata_pipeline_spark.operators.similarity import ann_topk_lsh

        rows = ann_topk_lsh(
            emb, emb.filter(F.col("vec_id") < 20), k=5, n_planes=4, n_tables=8
        ).collect()
        assert self._recall(rows, truth) >= 0.6

    def test_ivf_scores_match_exact_where_found(self, spark, emb):
        """IVF may miss neighbors but must never mis-score one."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ann_topk_ivf,
            cosine_topk,
        )

        q = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_topk(emb, q, k=50).collect()
        }
        for r in ann_topk_ivf(emb, q, k=5).collect():
            key = (r["query_id"], r["neighbor_id"])
            if key in exact:
                assert r["cosine"] == exact[key]


class TestMultimodal:
    def test_metadata_matches_payload(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.multimodal import attach_media

        media = attach_media(docs)
        bad = media.filter(
            (F.length("media") != F.col("media_meta.n_bytes"))
            | (F.col("media_meta.width") < 64)
            | (F.col("media_meta.width") >= 576)
            | ~F.col("media_meta.format").isin("png", "jpeg", "webp")
        )
        assert bad.count() == 0

    def test_image_features_deterministic_and_bounded(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            image_features,
        )

        media = attach_media(docs.limit(50))
        a = sorted(map(tuple, image_features(media).collect()))
        b = sorted(map(tuple, image_features(media).collect()))
        assert a == b
        for row in a:
            _doc, n_bytes, mean_b, max_b, min_b, entropy = row
            assert 0 < n_bytes
            assert 0 <= min_b <= mean_b <= max_b <= 255
            assert 0 < entropy <= 1

    def test_frame_sample_fanout(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            frame_sample,
        )

        n = 25
        media = attach_media(docs.limit(n))
        frames = frame_sample(media, n_frames=4)
        assert frames.count() == n * 4
        per_doc = frames.groupBy("doc_id").agg(
            F.count("*").alias("n"), F.sum(F.length("frame")).alias("total_bytes")
        )
        assert per_doc.filter(F.col("n") != 4).count() == 0
        # slices cover at most the payload and are non-empty overall
        joined = per_doc.join(media.select("doc_id", F.length("media").alias("sz")), "doc_id")
        assert joined.filter(F.col("total_bytes") > F.col("sz")).count() == 0
        assert joined.filter(F.col("total_bytes") == 0).count() == 0

    def test_decode_stub_contract(self):
        from textract_farmdata_pipeline_spark.operators.multimodal import decode_image_stub

        with pytest.raises(NotImplementedError):
            decode_image_stub(b"bytes", "png")

    def test_real_decoder_through_seam(self, spark):
        """ENV-GATED real-codec drive of the decoder seam (the
        protobuf-skip pattern): if PIL is importable, decode a tiny
        generated PNG through a seam-conformant decoder and run the
        UNCHANGED gradient/packing stage (image_dhash) over the
        decoded luma bytes — proving the Spark-side plumbing needs no
        change when a codec lands.

        Re-probed 2026-08-16 (round 13 session start, same result as
        round 12): ``import PIL``
        still raises ModuleNotFoundError in this container and
        installs remain disallowed, so this skips.  The gate's
        remaining coverage shrank again in r13: BMP/PPM decode in pure
        bytes (TestRasterDecode) and PNG — a REAL compressed format —
        decodes via stdlib zlib + numpy un-filtering (TestPngDecode,
        including the raster dHash over a genuine PNG), so only the
        lossy codec formats (JPEG/WebP) still hide behind PIL.  When
        PIL IS present this test additionally cross-validates our PNG
        decoder against a second implementation."""
        PIL_Image = pytest.importorskip(
            "PIL.Image", reason="no image codec in this container"
        )
        import io

        import numpy as np

        # a 12x10 horizontal-gradient RGB image, round-tripped as PNG
        w, h = 12, 10
        arr = np.zeros((h, w, 3), dtype=np.uint8)
        arr[:, :, 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
        buf = io.BytesIO()
        PIL_Image.fromarray(arr).save(buf, format="PNG")
        payload = buf.getvalue()

        def decode_image_real(b: bytes, fmt: str):
            """Seam contract: (payload, format) -> HxWx3 uint8."""
            img = PIL_Image.open(io.BytesIO(b)).convert("RGB")
            return np.asarray(img, dtype=np.uint8)

        decoded = decode_image_real(payload, "png")
        assert decoded.shape == (h, w, 3) and decoded.dtype == np.uint8
        assert (decoded == arr).all()  # PNG is lossless — exact bytes
        # cross-validate the in-repo stdlib PNG decoder against the
        # codec library on a PIL-ENCODED file (TestPngDecode covers the
        # self-encoded path; this pins a second encoder's output)
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        assert (decode_image(payload) == arr).all()
        # the same gradient/packing stage runs over real luma bytes
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            image_dhash,
        )

        luma = decoded.mean(axis=2).astype(np.uint8).tobytes()
        df = spark.createDataFrame(
            [(1, bytearray(luma))], "doc_id long, media binary"
        )
        sig = image_dhash(df).collect()[0]["sig"]
        assert len(sig) == 2 and all(s >= 0 for s in sig)
        assert sig != [0, 0]  # a gradient image has gradient bits


def _make_bmp24(arr):
    """Minimal 24-bit uncompressed BMP writer (test-side ground truth):
    bottom-up rows, 4-byte padding, BGR — the format the pure-bytes
    decoder must invert exactly."""
    import struct

    import numpy as np

    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    pix = bytearray()
    for r in range(h - 1, -1, -1):           # bottom-up
        row = arr[r][:, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        pix += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    size = off + len(pix)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return bytes(header + info + pix)


def _make_ppm(arr):
    import numpy as np

    h, w = arr.shape[:2]
    return b"P6\n# test raster\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


class TestRasterDecode:
    """The NON-skipped real-image path: pure-bytes BMP/PPM decoding
    through the decode_image seam, and resize/dHash running end to end
    on a genuine raster (round-11 directive #6 — the seam had never
    executed on a real image)."""

    @staticmethod
    def _gradient(h=10, w=12):
        import numpy as np

        arr = np.zeros((h, w, 3), dtype=np.uint8)
        # non-monotonic ramp (mod-wraparound) so the dHash gradient
        # bits are a mix of 0s and 1s, not the all-descending zero hash
        arr[:, :, 0] = (np.arange(w) * 37 % 256).astype(np.uint8)[None, :]
        arr[:, :, 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
        arr[:, :, 2] = 7
        return arr

    def test_bmp_and_ppm_roundtrip_exact(self):
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        arr = self._gradient()
        for payload in (_make_bmp24(arr), _make_ppm(arr)):
            out = decode_image(payload)
            assert out.shape == arr.shape and out.dtype == np.uint8
            assert (out == arr).all()  # both formats are lossless

    def test_bmp_padding_and_odd_width(self):
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        arr = self._gradient(h=3, w=5)  # stride 15 -> padded to 16
        out = decode_image(_make_bmp24(arr))
        assert (out == arr).all()

    def test_codec_formats_still_route_to_seam(self):
        import pytest as _pytest

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        # JPEG/WebP need a real codec and stay behind the seam; PNG now
        # decodes with the stdlib, so a malformed PNG raises ValueError
        # from the decoder, not NotImplementedError from the seam.
        with _pytest.raises(NotImplementedError):
            decode_image(b"\xff\xd8\xff\xe0....", "jpeg")
        with _pytest.raises(NotImplementedError):
            decode_image(b"RIFF....WEBPVP8 ", "webp")
        with _pytest.raises(ValueError):
            decode_image(b"\x89PNG\r\n\x1a\n....", "png")

    def test_resize_and_dhash_on_real_raster(self, spark):
        """End-to-end through Spark: real BMP/PPM payloads in a binary
        column, resize_image(decode='raster') emits a valid PPM at the
        target dims, image_dhash(decode='raster') hashes the true luma
        — and the resized image re-decodes through the same seam."""
        import numpy as np

        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
            image_dhash,
            luma_u8,
            resize_image,
        )

        arr = self._gradient(h=20, w=30)
        rows = [
            (1, bytearray(_make_bmp24(arr)), {"n_bytes": 0, "width": 30, "height": 20, "format": "bmp"}),
            (2, bytearray(_make_ppm(arr)), {"n_bytes": 0, "width": 30, "height": 20, "format": "ppm"}),
        ]
        media = spark.createDataFrame(
            rows,
            "doc_id long, media binary, media_meta struct<n_bytes:long,width:int,height:int,format:string>",
        )
        resized = {
            r["doc_id"]: r
            for r in resize_image(media, target_w=8, target_h=6, decode="raster").collect()
        }
        for d in (1, 2):
            out = decode_image(bytes(resized[d]["media"]))  # re-enters the seam
            assert out.shape == (6, 8, 3)
            assert resized[d]["media_meta"]["format"] == "ppm"
        # identical source raster in two containers -> identical resize
        assert bytes(resized[1]["media"]) == bytes(resized[2]["media"])

        sigs = {
            r["doc_id"]: r["sig"]
            for r in image_dhash(media, decode="raster").collect()
        }
        assert sigs[1] == sigs[2] != [0, 0]  # format-invariant, non-trivial
        # the hash is the documented function of the true luma grid
        g = luma_u8(arr)
        ri = np.minimum((np.arange(8) * (20 / 8.0)).astype(int), 19)
        ci = np.minimum((np.arange(9) * (30 / 9.0)).astype(int), 29)
        px = g[ri][:, ci]
        bits = (px[:, :-1] > px[:, 1:]).astype(np.int64).ravel()
        w0 = int((bits[:32] << np.arange(32)).sum())
        w1 = int((bits[32:] << np.arange(32)).sum())
        assert sigs[1] == [w0, w1]


class TestPngDecode:
    """The REAL-compressed-format path (r13): PNG decoded with stdlib
    zlib + numpy un-filtering, no codec library.  The encoder here is
    an independent implementation (explicit per-row filter choice +
    CRC), so round-trip equality cross-checks both directions."""

    @staticmethod
    def _chunk(ctype: bytes, data: bytes) -> bytes:
        import struct
        import zlib

        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    @classmethod
    def _png(cls, arr, color=2, filters=None) -> bytes:
        """Encode HxWxC uint8 (C=1 gray, 3 RGB, 4 RGBA) with a chosen
        filter type per row — exercising Sub/Up/Average/Paeth, not
        just filter 0."""
        import struct
        import zlib

        import numpy as np

        h, w, c = arr.shape
        filters = filters or [0] * h
        stride = w * c
        flat = arr.reshape(h, stride).astype(np.int64)
        lines = bytearray()
        prev = np.zeros(stride, dtype=np.int64)
        for r in range(h):
            ft = filters[r]
            cur = flat[r]
            enc = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - c] if i >= c else 0
                up = prev[i]
                if ft == 0:
                    enc[i] = cur[i]
                elif ft == 1:
                    enc[i] = cur[i] - a
                elif ft == 2:
                    enc[i] = cur[i] - up
                elif ft == 3:
                    enc[i] = cur[i] - (a + up) // 2
                else:
                    cc = prev[i - c] if i >= c else 0
                    p = a + up - cc
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (up if pb <= pc else cc)
                    enc[i] = cur[i] - pred
            lines.append(ft)
            lines.extend((enc & 0xFF).astype(np.uint8).tobytes())
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + cls._chunk(b"IHDR", ihdr)
            + cls._chunk(b"IDAT", zlib.compress(bytes(lines)))
            + cls._chunk(b"IEND", b"")
        )

    def test_rgb_all_filters_roundtrip(self):
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        rng = np.arange(5 * 7 * 3, dtype=np.int64)
        arr = ((rng * 31 + (rng // 7) * 13) % 256).astype(np.uint8).reshape(5, 7, 3)
        png = self._png(arr, color=2, filters=[0, 1, 2, 3, 4])
        got = decode_image(png)
        assert got.shape == (5, 7, 3)
        assert (got == arr).all()

    def test_gray_and_rgba(self):
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        g = (np.arange(4 * 6, dtype=np.int64) * 41 % 256).astype(
            np.uint8
        ).reshape(4, 6, 1)
        got = decode_image(self._png(g, color=0, filters=[4, 1, 3, 2]))
        assert got.shape == (4, 6, 3)
        assert (got[:, :, 0] == g[:, :, 0]).all()
        assert (got[:, :, 1] == g[:, :, 0]).all()
        rgba = (np.arange(3 * 4 * 4, dtype=np.int64) * 17 % 256).astype(
            np.uint8
        ).reshape(3, 4, 4)
        got = decode_image(self._png(rgba, color=6, filters=[2, 4, 1]))
        assert got.shape == (3, 4, 3)
        assert (got == rgba[:, :, :3]).all()

    def test_corrupt_and_unsupported_raise(self):
        import struct
        import zlib

        import numpy as np
        import pytest

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        arr = np.zeros((2, 2, 3), dtype=np.uint8)
        png = self._png(arr)
        # flip one IDAT byte: CRC must catch it (silent pixel corruption
        # is the failure mode a training pipeline can't detect later)
        bad = bytearray(png)
        idat_at = png.index(b"IDAT") + 4
        bad[idat_at] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            decode_image(bytes(bad))
        # interlaced: declared unsupported, loudly
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        inter = (
            b"\x89PNG\r\n\x1a\n"
            + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"IDAT", zlib.compress(b"\x00" * 14))
            + self._chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="interlaced"):
            decode_image(inter)

    def test_raster_dhash_over_real_png(self, spark):
        """The UNCHANGED image_dhash raster path consumes a genuine
        compressed PNG end to end — the claim the PIL-gated test was
        reserving for a codec library, now un-gated."""
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            image_dhash,
            luma_u8,
            _nn_grid,
        )

        h, w = 20, 30
        rng = np.arange(h * w * 3, dtype=np.int64)
        arr = ((rng * 7 + (rng // 5) * 3) % 256).astype(np.uint8).reshape(h, w, 3)
        png = self._png(arr, color=2, filters=[i % 5 for i in range(h)])
        docs = spark.createDataFrame(
            [(1, bytearray(png))], "doc_id long, media binary"
        )
        sigs = {
            r["doc_id"]: list(r["sig"])
            for r in image_dhash(docs, decode="raster").collect()
        }
        g = luma_u8(arr)
        px = _nn_grid(g, 8, 9)
        bits = (px[:, :-1] > px[:, 1:]).astype(np.int64).ravel()
        w0 = int((bits[:32] << np.arange(32)).sum())
        w1 = int((bits[32:] << np.arange(32)).sum())
        assert sigs[1] == [w0, w1]


class TestWavDecode:
    """The NON-skipped real-audio path (round-12 directive #4): a
    RIFF/WAV PCM container parsed in pure bytes through the
    decode_audio seam — the audio twin of TestRasterDecode's BMP/PPM
    precedent — and the UNCHANGED byte-level fingerprint stage run
    over the decoded samples."""

    @staticmethod
    def _wav(data: bytes, *, bits=8, channels=1, rate=8000,
             extra_chunk=True) -> bytes:
        """Minimal WAV writer: RIFF header, an unknown LIST chunk (to
        prove the parser WALKS the chunk list instead of assuming
        fmt/data at fixed offsets — odd-sized, to exercise the spec's
        even-byte padding), fmt, data."""
        import struct

        chunks = []
        if extra_chunk:
            body = b"INFOxyz"  # 7 bytes: odd size forces a pad byte
            chunks.append(b"LIST" + struct.pack("<I", len(body)) + body + b"\x00")
        block = channels * bits // 8
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, rate * block, block, bits
        )
        chunks.append(b"fmt " + struct.pack("<I", len(fmt)) + fmt)
        chunks.append(
            b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        payload = b"WAVE" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(payload)) + payload

    def test_pcm8_roundtrip_and_chunk_walk(self):
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_audio,
        )

        data = bytes(range(251))  # odd length: data chunk gets padded
        samples, rate = decode_audio(self._wav(data))
        assert rate == 8000
        assert samples.shape == (251, 1)
        assert samples.dtype == np.uint8
        assert samples[:, 0].tobytes() == data

    def test_pcm16_stereo(self):
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_audio,
        )

        frames = np.array(
            [[-32768, 32767], [0, -1], [12345, -12345]], dtype="<i2"
        )
        samples, rate = decode_audio(
            self._wav(frames.tobytes(), bits=16, channels=2, rate=44100)
        )
        assert rate == 44100
        assert samples.shape == (3, 2)
        assert (samples == frames).all()

    def test_compressed_and_foreign_delegate_to_seam(self):
        import pytest

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            decode_audio,
        )

        with pytest.raises(NotImplementedError):
            decode_audio(b"\xff\xfb\x90\x00 not a riff stream")
        # a float-PCM WAV is a REAL container this parser must refuse
        # loudly (wrong samples would be silent corruption), not seam
        import struct

        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
        wav = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 0)
        )
        with pytest.raises(ValueError, match="format tag 3"):
            decode_audio(wav)

    def test_fingerprint_unchanged_over_decoded_pcm(self, spark):
        """8-bit mono PCM: the decoded sample bytes ARE the stream the
        byte-level fingerprint frames, so audio_fingerprint over
        WAV-decoded samples equals audio_fingerprint over the raw
        payload — a real container flows through the seam and the
        UNCHANGED operator (fingerprint oracle untouched)."""
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            audio_fingerprint,
            decode_audio,
        )

        texts = [(1, "abcdefgh" * 70), (2, "za" * 20)]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        raw_fp = {
            r["doc_id"]: r["fp"]
            for r in audio_fingerprint(attach_media(docs)).collect()
        }
        decoded_rows = []
        for doc_id, text in texts:
            wav = self._wav(text.encode())
            samples, _ = decode_audio(wav)
            decoded_rows.append((doc_id, bytearray(samples[:, 0].tobytes())))
        decoded = spark.createDataFrame(
            decoded_rows, "doc_id long, media binary"
        )
        wav_fp = {
            r["doc_id"]: r["fp"]
            for r in audio_fingerprint(decoded).collect()
        }
        assert wav_fp == raw_fp


class TestSqlRegistration:
    def test_registered_functions_compose_in_sql(self, spark):
        from textract_farmdata_pipeline_spark.functions.register import (
            register_sql_functions,
        )

        register_sql_functions(spark)
        row = spark.sql(
            """
            SELECT
              is_header_text('Wayne County census') AS h,
              is_numeric_token('$1,234') AS n,
              starts_with_name('John Smith, 12') AS s,
              is_continuation_line('12, -, 450') AS c,
              parse_name_line('John Smith, 12, 34').name AS pname,
              extract_continuation_values('12, -, 450') AS vals,
              merge_positional(array('-', '7', '-', '-', '-'),
                               array('1', '2', '3', '4')) AS merged
            """
        ).collect()[0]
        assert row["h"] is True
        assert row["n"] is True
        assert row["s"] is True
        assert row["c"] is True
        assert row["pname"] == "John Smith"
        assert row["vals"] == ["12", "-", "450"]
        # cursor merge: dash slots consume continuation values in order,
        # the filled slot '7' is skipped without consuming
        assert row["merged"] == ["1", "7", "2", "3", "4"]

    def test_sql_twin_agrees_with_column_form(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.fixtures import load_ocr_lines
        from textract_farmdata_pipeline_spark.functions.register import (
            register_sql_functions,
        )
        from textract_farmdata_pipeline_spark.functions.predicates import (
            starts_with_name_col,
        )

        register_sql_functions(spark)
        lines = load_ocr_lines(spark, sf_dir).filter(F.col("block_type") == "LINE").limit(500)
        disagree = lines.withColumn("a", starts_with_name_col(F.col("text"))).withColumn(
            "b", F.expr("starts_with_name(text)")
        )
        assert disagree.filter(F.col("a") != F.col("b")).count() == 0


class TestSimhashPairs:
    def test_banding_is_exact_vs_brute_force(self, spark, docs):
        """Pigeonhole banding must find EXACTLY the pairs brute-force
        hamming finds (it is a complete candidate generator for
        max_hamming < n_bands, and verification is exact)."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            simhash,
            simhash_near_dup_pairs,
        )

        sub = docs.limit(120)
        got = sorted(
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_dup_pairs(sub, max_hamming=6, n_bands=8).collect()
        )
        sh = {r["doc_id"]: r["simhash"] for r in simhash(sub).collect()}
        ids = sorted(sh)
        want = sorted(
            (a, b, bin(sh[a] ^ sh[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sh[a] ^ sh[b]).count("1") <= 6
        )
        assert got == want


class TestTwoPhaseCountDistinct:
    def test_null_values_excluded_like_count_distinct(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            count_distinct_two_phase,
        )

        df = spark.createDataFrame(
            [("a", "x"), ("a", "x"), ("a", None), ("a", "y"),
             ("b", None), ("b", None), ("c", "z")],
            "k string, v string",
        )
        got = {
            r["k"]: r["n"]
            for r in count_distinct_two_phase(df, key="k", value_cols={"v": "n"}).collect()
        }
        want = {
            r["k"]: r["n"]
            for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
        }
        # NULLs don't count as a value, and an all-NULL key still
        # appears with count 0 — exactly countDistinct's semantics.
        assert got == want == {"a": 2, "b": 0, "c": 1}


class TestSaltedJoin:
    def test_matches_plain_join_on_skewed_data(self, spark):
        from textract_farmdata_pipeline_spark.operators.skew import salted_join

        # hot key 7: 5000 of 6000 rows
        left = spark.range(6000).select(
            F.when(F.col("id") < 5000, F.lit(7)).otherwise(F.col("id") % 40).alias("k"),
            F.col("id").alias("lval"),
        )
        right = spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("rval")
        )
        fast = salted_join(left, right, on=("k",), salt=8)
        plain = left.join(right, "k")
        assert fast.count() == plain.count()
        a = sorted((r["k"], r["lval"], r["rval"]) for r in fast.collect())
        b = sorted((r["k"], r["lval"], r["rval"]) for r in plain.collect())
        assert a == b

    def test_left_join_keeps_unmatched(self, spark):
        from textract_farmdata_pipeline_spark.operators.skew import salted_join

        left = spark.range(10).select((F.col("id") % 5).alias("k"), F.col("id").alias("lv"))
        right = spark.range(2).select(F.col("id").alias("k"), F.lit("hit").alias("tag"))
        out = salted_join(left, right, on=("k",), salt=4, how="left")
        assert out.count() == 10
        assert out.filter(F.col("tag").isNull()).count() == 6

    def test_rejects_outer(self, spark):
        import pytest as _pytest

        from textract_farmdata_pipeline_spark.operators.skew import salted_join

        left = spark.range(1).select(F.col("id").alias("k"))
        with _pytest.raises(ValueError):
            salted_join(left, left, on=("k",), how="full")


class TestConnectedComponents:
    def test_two_components_and_chain(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            connected_components,
        )

        # component {1,2,3,4} as a worst-case chain + component {10,11}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
        )
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_label_is_component_min_regardless_of_direction(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            connected_components,
        )

        # min id appears only on the right-hand side
        pairs = spark.createDataFrame([(5, 1), (5, 9)], "doc_a long, doc_b long")
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == {1: 1, 5: 1, 9: 1}


class TestSketchProfile:
    def test_error_bounds_vs_exact(self, spark):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        sf = "/root/testdata/sf0.01"
        got = {r["event_type"]: r for r in
               QUERIES["events_sketch_profile"](spark, sf).collect()}
        ev = spark.read.parquet(f"{sf}/events.parquet")
        from pyspark.sql import functions as F

        exact = {
            r["event_type"]: r
            for r in ev.groupBy("event_type")
            .agg(
                F.countDistinct("user_id").alias("users"),
                F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("pcts"),
            )
            .collect()
        }
        assert set(got) == set(exact)
        for et, e in exact.items():
            g = got[et]
            # HLL++ at rsd=0.02: allow 3 sigma
            assert abs(g["approx_users"] - e["users"]) <= max(3, 0.06 * e["users"])
            approx_pcts = [g["value_p50"], g["value_p95"], g["value_p99"]]
            for approx_p, exact_p in zip(approx_pcts, e["pcts"]):
                # t-digest with 10k accuracy on ~20k rows/group: tight
                assert abs(approx_p - exact_p) <= max(0.05 * abs(exact_p), 0.05)


class TestScd2Merge:
    def test_all_transition_kinds(self, spark):
        from textract_farmdata_pipeline_spark.operators.scd import scd2_merge

        current = spark.createDataFrame(
            [
                (1, "A", 0, 500),   # closed history row: untouched
                (1, "B", 500, None),  # open, update changes -> close + reopen
                (2, "X", 0, None),  # open, identical update -> stays open
                (3, "Y", 0, None),  # open, no update -> stays open
            ],
            "k long, attr string, valid_from long, valid_to long",
        )
        updates = spark.createDataFrame(
            [(1, "C", 900), (2, "X", 900), (4, "NEW", 900)],
            "k long, attr string, ts long",
        )
        got = sorted(
            map(tuple, scd2_merge(current, updates, "k", ["attr"]).collect())
        )
        assert got == sorted(
            [
                (1, "A", 0, 500),
                (1, "B", 500, 900),
                (1, "C", 900, None),
                (2, "X", 0, None),
                (3, "Y", 0, None),
                (4, "NEW", 900, None),
            ]
        )

    def test_null_safe_attr_compare(self, spark):
        from textract_farmdata_pipeline_spark.operators.scd import scd2_merge

        current = spark.createDataFrame(
            [(1, None, 0, None)], "k long, attr string, valid_from long, valid_to long"
        )
        updates = spark.createDataFrame([(1, None, 50)], "k long, attr string, ts long")
        got = scd2_merge(current, updates, "k", ["attr"]).collect()
        # NULL <=> NULL is a match: nothing closes, nothing opens
        assert [tuple(r) for r in got] == [(1, None, 0, None)]


class TestSequencePacking:
    BUDGET = 128

    def test_span_packing_partitions_token_stream(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.packing import (
            pack_token_spans,
        )

        spans = pack_token_spans(docs, budget=self.BUDGET, bucket_docs=64)
        rows = spans.collect()
        total_tokens = sum(r["n_tokens"] for r in rows)
        n_docs = docs.count()
        want_tokens = docs.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).collect()[0]["t"]
        # every token lands in exactly one span
        assert total_tokens == want_tokens
        # each sequence holds exactly budget tokens except the last
        per_seq = {}
        for r in rows:
            per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_tokens"]
        last = max(per_seq)
        assert set(per_seq) == set(range(last + 1))
        assert all(v == self.BUDGET for s, v in per_seq.items() if s != last)
        assert 0 < per_seq[last] <= self.BUDGET
        # spans of one doc are contiguous from offset 0
        by_doc = {}
        for r in sorted(rows, key=lambda r: (r["doc_id"], r["tok_start"])):
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert len(by_doc) == n_docs
        for doc_rows in by_doc.values():
            assert doc_rows[0]["tok_start"] == 0
            for a, b in zip(doc_rows, doc_rows[1:]):
                assert b["tok_start"] == a["tok_start"] + a["n_tokens"]

    def test_span_packing_bucket_size_invariant(self, spark, docs):
        """The two-level prefix sum must give identical placement for
        any bucket size (the oracle is the single-cumsum semantics)."""
        from textract_farmdata_pipeline_spark.operators.packing import (
            pack_token_spans,
        )

        a = sorted(map(tuple, pack_token_spans(docs, 128, bucket_docs=7).collect()))
        b = sorted(map(tuple, pack_token_spans(docs, 128, bucket_docs=10**6).collect()))
        assert a == b

    def test_partitioned_packing_equals_per_partition_packing(self, spark, docs):
        """partition_col packs each partition value as its own token
        stream: the output must equal running pack_token_spans
        separately on each partition's docs — and therefore no
        sequence can contain docs of two partitions (the cross-split
        leakage guarantee corpus_jsonl_split relies on)."""
        from textract_farmdata_pipeline_spark.operators.packing import (
            pack_token_spans,
        )

        labeled = docs.withColumn(
            "split",
            F.when(F.col("doc_id") % 3 == 0, "val").otherwise("train"),
        )
        got = sorted(
            map(
                tuple,
                pack_token_spans(
                    labeled, 128, bucket_docs=7, partition_col="split"
                ).collect(),
            )
        )
        want = []
        for s in ("train", "val"):
            part = labeled.filter(F.col("split") == s)
            for r in pack_token_spans(part, 128, bucket_docs=7).collect():
                want.append((r["doc_id"], s, r["seq_id"], r["tok_start"], r["n_tokens"]))
        assert got == sorted(want)
        # no (split, seq) mixes partitions, by construction of `want`;
        # and each split's stream still chunks at exactly the budget
        per = {}
        for doc_id, s, seq, _, n in got:
            per[(s, seq)] = per.get((s, seq), 0) + n
        for s in ("train", "val"):
            seqs = sorted(k[1] for k in per if k[0] == s)
            assert seqs == list(range(len(seqs)))
            assert all(per[(s, q)] == 128 for q in seqs[:-1])

    def test_greedy_packs_respect_budget(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.packing import pack_greedy

        out = pack_greedy(docs, budget=self.BUDGET, n_shards=8).collect()
        assert len(out) == docs.count()  # every doc assigned exactly once
        packs = {}
        for r in out:
            packs.setdefault((r["shard"], r["pack_id"]), []).append(r["n_tokens"])
        for sizes in packs.values():
            # a pack either fits the budget or is a single oversized doc
            assert sum(sizes) <= self.BUDGET or len(sizes) == 1

    def test_greedy_is_deterministic_and_dense(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.packing import pack_greedy

        a = sorted(map(tuple, pack_greedy(docs, 128, n_shards=8).collect()))
        b = sorted(map(tuple, pack_greedy(docs, 128, n_shards=8).collect()))
        assert a == b
        # pack ids are dense per shard starting at 0
        per_shard = {}
        for (doc_id, shard, pack_id, n) in a:
            per_shard.setdefault(shard, set()).add(pack_id)
        for ids in per_shard.values():
            assert ids == set(range(max(ids) + 1))


class TestParquetMergeTable:
    def _make(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

        base = (
            spark.range(0, 1000)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 10).cast("double").alias("price"),
            )
            .repartition(8)  # several files → pruning is observable
        )
        tbl = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        assert tbl.create(base) == 1
        return tbl, base

    def test_merge_upsert_delete_and_time_travel(self, spark, tmp_path):
        tbl, base = self._make(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, 999.0), (5, -1.0), (2000, 7.0)], "k long, price double"
        )
        v = tbl.merge(src, key="k", delete_condition=F.col("s.price") < 0)
        assert v == 2
        now = {r["k"]: r["price"] for r in tbl.read().collect()}
        assert now[3] == 999.0          # update applied
        assert 5 not in now             # delete applied
        assert now[2000] == 7.0         # insert applied
        assert len(now) == 1000         # 1000 - 1 delete + 1 insert
        assert now[7] == 70.0           # untouched row intact
        # time travel: v1 still readable and unmodified
        v1 = {r["k"]: r["price"] for r in tbl.read(version=1).collect()}
        assert v1[3] == 30.0 and 5 in v1 and 2000 not in v1

    def test_validation_raises_real_exceptions(self, spark, tmp_path):
        """Validation must survive ``python -O``: a merge whose source
        schema differs from the table's raises ValueError, and create()
        over an existing table raises FileExistsError."""
        tbl, base = self._make(spark, tmp_path)
        with pytest.raises(ValueError, match="schemas must align"):
            tbl.merge(
                spark.createDataFrame([(3, "x")], "k long, price string"), key="k"
            )
        with pytest.raises(FileExistsError):
            tbl.create(base)
        assert tbl.latest_version() == 1

    def test_merge_rewrites_only_touched_files(self, spark, tmp_path):
        tbl, _ = self._make(spark, tmp_path)
        m1 = set(tbl._read_manifest(1)["files"])
        tbl.merge(
            spark.createDataFrame([(3, 999.0)], "k long, price double"), key="k"
        )
        m2 = set(tbl._read_manifest(2)["files"])
        carried = m1 & m2
        rewritten = m1 - m2
        # with 8 files and one touched key, most files carry forward
        assert len(rewritten) == 1
        assert len(carried) == len(m1) - 1

    def test_read_changes_feed(self, spark, tmp_path):
        tbl, _ = self._make(spark, tmp_path)
        tbl.merge(
            spark.createDataFrame(
                [(3, 999.0), (5, -1.0), (2000, 7.0)], "k long, price double"
            ),
            key="k",
            delete_condition=F.col("s.price") < 0,
        )
        tbl.merge(
            spark.createDataFrame([(2000, 8.0)], "k long, price double"), key="k"
        )
        ch = tbl.read_changes(from_version=2).collect()
        by_type = {}
        for r in ch:
            by_type.setdefault(r["_change_type"], []).append((r["k"], r["_commit_version"]))
        assert by_type["insert"] == [(2000, 2)]
        assert by_type["delete"] == [(5, 2)]
        assert sorted(by_type["update_postimage"]) == [(3, 2), (2000, 3)]

    def test_pure_insert_touches_nothing(self, spark, tmp_path):
        tbl, _ = self._make(spark, tmp_path)
        m1 = set(tbl._read_manifest(1)["files"])
        tbl.merge(
            spark.createDataFrame([(5000, 1.0)], "k long, price double"), key="k"
        )
        m2 = set(tbl._read_manifest(2)["files"])
        assert m1 <= m2                 # every old file carried forward
        assert tbl.read().count() == 1001

    def test_upsert_or_matches_generic_merge(self, spark, tmp_path):
        """The bit_or-specialized upsert must be observably identical
        to the generic path it replaces in the Bloom words commit:
        merge(read() ∪ delta groupBy bit_or, key) — same snapshot rows,
        same changelog classification — and idempotent (re-applying a
        delta yields an empty changelog)."""
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )

        base = spark.createDataFrame(
            [(0, 0b0011), (1, 0b0100), (2, 0b1000)], "word_id long, bits long"
        )
        delta = spark.createDataFrame(
            # 0: adds a bit (update); 1: already set (unchanged);
            # 7: new word (insert)
            [(0, 0b0101), (1, 0b0100), (7, 0b0010)], "word_id long, bits long"
        )
        generic = ParquetMergeTable(spark, str(tmp_path / "generic"))
        generic.create(base)
        merged = (
            generic.read()
            .unionByName(delta)
            .groupBy("word_id")
            .agg(F.bit_or("bits").alias("bits"))
        )
        generic.merge(merged, key="word_id")

        fast = ParquetMergeTable(spark, str(tmp_path / "fast"))
        fast.create(base)
        assert fast.upsert_or(delta, key="word_id") == 2

        snap = lambda t: sorted(map(tuple, t.read().select("word_id", "bits").collect()))
        chg = lambda t: sorted(
            (r["word_id"], r["bits"], r["_change_type"])
            for r in t.read_changes(from_version=2, to_version=2).collect()
        )
        assert snap(fast) == snap(generic)
        assert chg(fast) == chg(generic)
        assert chg(fast) == [
            (0, 0b0011, "update_preimage"),
            (0, 0b0111, "update_postimage"),
            (7, 0b0010, "insert"),
        ]
        # idempotence: the same delta OR'd again changes nothing
        fast.upsert_or(delta, key="word_id")
        assert snap(fast) == snap(generic)
        assert fast.read_changes(from_version=3, to_version=3).count() == 0


class TestMergeTableMaintenance:
    def _make(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

        base = (
            spark.range(0, 1000)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 10).cast("double").alias("price"),
            )
            .repartition(8)
        )
        tbl = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        tbl.create(base)
        return tbl

    def test_compact_bins_small_files_data_identical(self, spark, tmp_path):
        tbl = self._make(spark, tmp_path)
        before = {(r["k"], r["price"]) for r in tbl.read().collect()}
        v0 = tbl.latest_version()
        n_before = len(tbl._read_manifest(v0)["files"])
        v = tbl.compact(target_file_bytes=64 * 1024 * 1024)
        assert v == v0 + 1
        m = tbl._read_manifest(v)["files"]
        assert len(m) < n_before                       # fewer files
        after = {(r["k"], r["price"]) for r in tbl.read().collect()}
        assert after == before                         # byte-identical data
        # OPTIMIZE-style commit: no changelog for this version
        import os as _os

        assert not _os.path.isdir(str(tmp_path / "tbl" / "_changes" / f"v{v}"))
        # previous snapshot still time-travels
        assert tbl.read(version=v0).count() == 1000

    def test_compact_noop_when_single_small_file(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

        tbl = ParquetMergeTable(spark, str(tmp_path / "one"))
        tbl.create(spark.range(5).coalesce(1))
        assert tbl.compact() == 1                      # nothing to do

    def test_vacuum_removes_expired_files_keeps_retained(self, spark, tmp_path):
        import os as _os

        tbl = self._make(spark, tmp_path)
        tbl.merge(
            spark.createDataFrame([(3, 999.0)], "k long, price double"), key="k"
        )
        tbl.compact(target_file_bytes=64 * 1024 * 1024)
        latest = tbl.latest_version()
        all_files = lambda: sum(  # noqa: E731
            len([f for f in _os.listdir(_os.path.join(str(tmp_path / "tbl"), "files", d))
                 if f.endswith(".parquet")])
            for d in _os.listdir(_os.path.join(str(tmp_path / "tbl"), "files"))
        )
        n_before = all_files()
        deleted = tbl.vacuum(retain_last=1)
        assert deleted > 0
        assert all_files() == n_before - deleted
        # latest still fully readable; expired versions fail fast
        assert tbl.read().count() == 1000
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            tbl._read_manifest(1)
        # CDC history survives vacuum
        assert tbl.read_changes(from_version=2, to_version=2).count() > 0
        assert tbl.latest_version() == latest

    def test_stream_upsert_applies_cdc_per_batch(self, spark, tmp_path):
        import os as _os

        tbl = self._make(spark, tmp_path)
        d = str(tmp_path / "cdc")
        # two files → two micro-batches; batch 2 replays key 3 with a
        # newer seq plus an out-of-order older seq that must LOSE
        spark.createDataFrame(
            [(3, 111.0, 1), (2000, 7.0, 1)], "k long, price double, seq long"
        ).coalesce(1).write.mode("append").parquet(d)
        spark.createDataFrame(
            [(3, 222.0, 3), (3, 555.0, 2), (5, -1.0, 3)],
            "k long, price double, seq long",
        ).coalesce(1).write.mode("append").parquet(d)

        stream = (
            spark.readStream.schema("k long, price double, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            tbl.stream_upsert(
                stream,
                key="k",
                order_by="seq",
                delete_condition=F.col("s.price") < 0,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-up"))
            .start()
        )
        q.awaitTermination(120)
        now = {r["k"]: r["price"] for r in tbl.read().collect()}
        assert now[3] == 222.0      # newest seq won, replay updated in place
        assert now[2000] == 7.0     # insert from batch 1
        assert 5 not in now         # delete condition applied
        assert len(now) == 1000     # 1000 - 1 delete + 1 insert
        assert tbl.latest_version() >= 3  # one commit per non-empty batch


class TestIncrementalDedup:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_batch_vs_corpus_and_within_batch(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            incremental_minhash_dedup,
        )

        base = "the quick brown fox jumps over the lazy dog again and again " * 6
        novel = "completely different content about spark physical plans " * 6
        corpus = self._docs(spark, [(1, base), (2, novel)])
        new = self._docs(
            spark,
            [
                (10, base + "extra tail"),      # near-dup of corpus doc 1
                (11, "unique fresh text nothing shares these tokens " * 6),
                (12, novel + "slight change"),  # near-dup of corpus doc 2
                (13, novel + "slight change"),  # within-batch dup of 12
            ],
        )
        got = {
            r["doc_id"]: r["dup_of"]
            for r in incremental_minhash_dedup(corpus, new, threshold=0.5).collect()
        }
        assert got == {10: 1, 11: None, 12: 2, 13: 2}

    def test_exact_set_fast_path_at_threshold_one(self, spark):
        """threshold=1.0 takes the sorted-shingle-set fast path; its
        decisions must be exactly 'equal non-empty shingle sets link':
        exact copies and permuted-equal sets match, strict subsets and
        blank/NULL texts never do, first arrival (min id) wins."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            incremental_minhash_dedup,
        )

        base = " ".join(["alpha beta gamma delta epsilon zeta"] * 4)
        # same 3-shingle SET as base, different text (cyclic rotation:
        # every trigram of either repetition is one of the 6 cyclic
        # trigrams, and both contain all 6)
        cyc = " ".join(["beta gamma delta epsilon zeta alpha"] * 4)
        corpus = self._docs(spark, [(1, base), (2, "plain corpus text " * 8)])
        new = self._docs(
            spark,
            [
                (10, base),                 # exact copy of corpus 1
                (11, cyc),                  # set-equal to corpus 1 (rotation)
                (12, base + "extra tail"),  # strict superset: must NOT link
                (13, "fresh " + base),      # strict superset: must NOT link
                (14, "totally novel content " * 8),
                (15, "totally novel content " * 8),  # within-batch dup of 14
                (16, ""),                   # blank
                (17, ""),                   # blank twin: {''} sets are equal
                (18, None),                 # NULL text: no shingle links,
                (19, None),                 # but NULLs are one text group
            ],
        )
        got = {
            r["doc_id"]: r["dup_of"]
            for r in incremental_minhash_dedup(corpus, new, threshold=1.0).collect()
        }
        assert got == {
            10: 1,
            11: 1,
            12: None,
            13: None,
            14: None,
            15: 14,
            16: None,
            17: 16,  # identical blank text: same text group
            18: None,
            19: 18,  # NULL texts collapse into one text group (both paths)
        }

    def test_exact_set_fast_path_with_stored_corpus_keys(self, spark):
        """The stored-key form of the exact-set path (corpus_keys =
        pre-computed sorted_shingle_key per corpus row, what the
        streaming state tables persist) must decide identically to the
        tokenize-from-text form on the full fast-path fixture — and the
        keys-only path must reject non-1.0 thresholds loudly."""
        import pytest

        from textract_farmdata_pipeline_spark.operators.dedup import (
            incremental_minhash_dedup,
            sorted_shingle_key,
        )

        base = " ".join(["alpha beta gamma delta epsilon zeta"] * 4)
        cyc = " ".join(["beta gamma delta epsilon zeta alpha"] * 4)
        corpus = self._docs(spark, [(1, base), (2, "plain corpus text " * 8)])
        new = self._docs(
            spark,
            [
                (10, base),
                (11, cyc),
                (12, base + "extra tail"),
                (14, "totally novel content " * 8),
                (15, "totally novel content " * 8),
                (16, ""),
                (18, None),
            ],
        )
        keys = corpus.select(
            "doc_id", sorted_shingle_key(F.col("text"), 3, "xxhash64").alias("k")
        )
        want = {
            r["doc_id"]: r["dup_of"]
            for r in incremental_minhash_dedup(corpus, new, threshold=1.0).collect()
        }
        got = {
            r["doc_id"]: r["dup_of"]
            for r in incremental_minhash_dedup(
                corpus, new, threshold=1.0, corpus_keys=keys
            ).collect()
        }
        assert got == want
        assert want[10] == 1 and want[11] == 1 and want[12] is None
        with pytest.raises(ValueError, match="corpus_keys"):
            incremental_minhash_dedup(corpus, new, threshold=0.5, corpus_keys=keys)

    def test_recall_matches_full_lsh_on_fixture(self, spark, docs):
        """Splitting the fixture into corpus/new must reproduce exactly
        the cross-split pairs the full self-join LSH finds."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            incremental_minhash_dedup,
            minhash_lsh_pairs,
        )

        new = docs.filter(F.col("doc_id") % 5 == 0)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        full = minhash_lsh_pairs(docs, n_hashes=32, bands=8, threshold=0.5)
        # pairs with exactly one side in the new batch, keyed by new doc
        want_new_docs = {
            (r["doc_b"] if r["doc_b"] % 5 == 0 else r["doc_a"])
            for r in full.collect()
            if (r["doc_a"] % 5 == 0) != (r["doc_b"] % 5 == 0)
        } | {
            max(r["doc_a"], r["doc_b"])
            for r in full.collect()
            if r["doc_a"] % 5 == 0 and r["doc_b"] % 5 == 0
        }
        got = {
            r["doc_id"]
            for r in incremental_minhash_dedup(corpus, new, threshold=0.5).collect()
            if r["dup_of"] is not None
        }
        assert got == want_new_docs


class TestNearDupClusters:
    def test_linear_output_and_exact_dup_collapse(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import near_dup_clusters

        base = "the quick brown fox jumps over the lazy dog again " * 8
        other = "totally unrelated prose about catalyst plan rewrites " * 8
        rows = (
            [(i, base) for i in range(1, 6)]            # 5 identical copies
            + [(10, base + " tiny tail")]               # near-dup of the group
            + [(20, other), (21, other + " v2 tail")]   # second cluster
            + [(30, "a one-off snowflake document with no twin anywhere " * 8)]
        )
        out = near_dup_clusters(
            spark.createDataFrame(rows, "doc_id long, text string"), threshold=0.5
        )
        got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert len(got) == len(rows)                    # one row per doc
        assert {got[i] for i in (1, 2, 3, 4, 5, 10)} == {1}
        assert got[20] == got[21] == 20
        assert got[30] == 30

    def test_matches_pair_based_components_on_fixture(self, spark, docs):
        """Cluster labels from the linear path must equal min-label
        connected components over the quadratic pair path (exact dups
        pair at Jaccard 1.0, so both partitions merge identically)."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            connected_components,
            minhash_lsh_pairs,
            near_dup_clusters,
        )

        pairs = minhash_lsh_pairs(docs, n_hashes=32, bands=8, threshold=0.5)
        cc = {
            r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()
        }
        want = {
            r["doc_id"]: cc.get(r["doc_id"], r["doc_id"])
            for r in docs.select("doc_id").collect()
        }
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters(docs, threshold=0.5).collect()
        }
        assert got == want


class TestKmeansIvf:
    @pytest.fixture(scope="class")
    def trained(self, spark, emb):
        from textract_farmdata_pipeline_spark.operators.similarity import kmeans_train

        return kmeans_train(emb, k=16, max_iter=5, persist=False)

    def test_objective_monotone_nondecreasing(self, trained):
        """Spherical Lloyd: summed best-dot objective never decreases."""
        _, history = trained
        assert len(history) >= 2
        assert all(b >= a - 1e-9 for a, b in zip(history, history[1:]))

    def test_centroids_unit_norm_and_deterministic(self, spark, emb, trained):
        from textract_farmdata_pipeline_spark.operators.similarity import kmeans_train

        cents, _ = trained
        for c in cents:
            assert abs(sum(x * x for x in c) - 1.0) < 1e-9
        again, _ = kmeans_train(emb, k=16, max_iter=5, persist=False)
        assert cents == again  # no RNG anywhere

    def test_partition_count_invariance(self, spark, emb, trained):
        """Driver-side reduce of per-partition partials must not depend
        on how rows are split across partitions (counts are exact;
        float sums agree to addition-reorder tolerance)."""
        from textract_farmdata_pipeline_spark.operators.similarity import kmeans_train

        cents, _ = trained
        other, _ = kmeans_train(
            emb.repartition(7), k=16, max_iter=5, persist=False
        )
        flat = [x for c in cents for x in c]
        oflat = [x for c in other for x in c]
        assert max(abs(a - b) for a, b in zip(flat, oflat)) < 1e-8

    def test_trained_centroids_balance_and_recall(self, spark, emb):
        """A fitted codebook must (a) yield inverted lists no worse
        balanced than the sampled one, and (b) keep the probe-recall
        mechanism intact when plugged into ann_topk_ivf."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ann_topk_ivf,
            cosine_topk,
            ivf_cluster_profile,
            kmeans_train,
        )

        cents, _ = kmeans_train(emb, k=16, max_iter=5, persist=False)
        sizes = [
            r["n_members"] for r in ivf_cluster_profile(emb, cents).collect()
        ]
        n = emb.count()
        assert sum(sizes) == n
        assert max(sizes) <= n // 2  # no degenerate mega-cluster

        q = emb.filter(F.col("vec_id") < 20)
        exact: dict[int, set[int]] = {}
        for r in cosine_topk(emb, q, k=5).collect():
            exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rows = ann_topk_ivf(emb, q, k=5, n_probe=8, centroids=cents).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(k_, set()) & t) for k_, t in exact.items())
        assert hits / sum(len(t) for t in exact.values()) >= 0.6


class TestMultimodalResizeAudio:
    def test_resize_payload_tracks_target_and_meta(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            resize_image,
        )

        media = attach_media(docs.limit(30))
        out = resize_image(media, target_w=16, target_h=8)
        rows = out.collect()
        assert len(rows) == 30
        for r in rows:
            assert len(r["media"]) == 16 * 8
            assert r["media_meta"]["width"] == 16
            assert r["media_meta"]["height"] == 8
            assert r["media_meta"]["n_bytes"] == 16 * 8

    def test_resize_deterministic_and_content_derived(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            resize_image,
        )

        media = attach_media(docs.limit(20))
        a = {r["doc_id"]: bytes(r["media"]) for r in resize_image(media, 8, 8).collect()}
        b = {r["doc_id"]: bytes(r["media"]) for r in resize_image(media, 8, 8).collect()}
        assert a == b
        # strided take preserves source bytes (first output byte = first source byte)
        src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
        for did, payload in a.items():
            assert payload[0] == src[did][0]

    def test_audio_windows_energy_golden(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            audio_windows,
        )

        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        out = audio_windows(attach_media(docs), window_bytes=2).collect()
        by_idx = {r["window_idx"]: r for r in out}
        assert by_idx[0]["energy"] == 97 * 97 + 98 * 98  # 'a','b'
        assert by_idx[0]["peak"] == 98 and by_idx[0]["n_samples"] == 2
        assert by_idx[1]["energy"] == 99 * 99 and by_idx[1]["n_samples"] == 1

    def test_audio_window_fanout_count(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            audio_windows,
        )

        media = attach_media(docs.limit(40))
        got = audio_windows(media, window_bytes=100).groupBy("doc_id").count()
        want = media.select(
            "doc_id",
            F.greatest(F.ceil(F.length("media") / 100), F.lit(1)).alias("w"),
        )
        j = got.join(want, "doc_id").filter(F.col("count") != F.col("w"))
        assert j.count() == 0


class TestImageDhash:
    """Perceptual dHash + Hamming-banded near-dup over the media
    column — bit-exactness vs a pure-Python mirror, perturbation
    locality, and the pigeonhole capture guarantee at radius 7/8."""

    @staticmethod
    def _py_dhash(text: str) -> list[int]:
        b = text.encode()
        if not b:
            return [0, 0]
        n = len(b)
        # the same IEEE tree as the product/oracle: k * (n / 72.0)
        # floored — NOT integer k*n//72, which differs at e.g. n=148
        px = [b[min(int(k * (n / 72.0)), n - 1)] for k in range(72)]
        bits = [
            1 if px[r * 9 + c] > px[r * 9 + c + 1] else 0
            for r in range(8)
            for c in range(8)
        ]
        w0 = sum(bits[i] << i for i in range(32))
        w1 = sum(bits[32 + i] << i for i in range(32))
        return [w0, w1]

    def test_hash_matches_python_mirror(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            image_dhash,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog " * 8),
            (2, "short text"),
            (3, ""),
            (4, "x" * 71),  # shorter than the 72-byte grid
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: list(r["sig"])
            for r in image_dhash(attach_media(docs)).collect()
        }
        assert got == {i: self._py_dhash(t) for i, t in rows}

    def test_same_length_perturbation_is_local(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            dhash_pairs,
            image_dhash,
        )

        base = "the quick brown fox jumps over the lazy dog " * 8
        rows = [(1, base), (2, base), (3, "~" + base[1:]),
                (4, "completely different words with other content here " * 7)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        media = attach_media(docs)
        sigs = {r["doc_id"]: list(r["sig"]) for r in image_dhash(media).collect()}
        # exact dup -> identical sig; first-byte edit preserves the
        # sampling grid so at most 2 gradient bits can flip
        assert sigs[1] == sigs[2]
        flips = bin(
            (sigs[1][0] ^ sigs[3][0]) | (sigs[1][1] ^ sigs[3][1]) << 32
        ).count("1")
        assert flips <= 2
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dhash_pairs(media, max_hamming=7).collect()
        }
        assert pairs[(1, 2)] == 0
        assert (1, 3) in pairs and (2, 3) in pairs
        assert all(a != 4 and b != 4 for a, b in pairs)

    def test_pigeonhole_capture_is_exact_at_radius_7(self, spark):
        """Construct a sig pair at EXACTLY hamming 7 spread over 7
        different chunks — the adversarial worst case for 8-bit bands
        — and verify the banded gate still captures it (≤7 flips can
        touch at most 7 of 8 chunks)."""
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            dhash_pairs,
        )
        from textract_farmdata_pipeline_spark.operators.similarity import (
            hamming,
            sig_chunk_bands,
        )

        a = [0, 0]
        # flip bit 0 of 7 of the 8 chunks: bits 0,8,16,24,32,40,48
        b = [
            (1 << 0) | (1 << 8) | (1 << 16) | (1 << 24),
            (1 << 0) | (1 << 8) | (1 << 16),
        ]
        sig = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, sig array<bigint>"
        )
        ham = sig.alias("x").join(sig.alias("y")).filter("x.doc_id < y.doc_id")
        d = ham.select(
            hamming(F.col("x.sig"), F.col("y.sig")).alias("d")
        ).collect()[0]["d"]
        assert d == 7
        bands = sig_chunk_bands(sig, 8, id_col="doc_id")
        shared = (
            bands.alias("p")
            .join(
                bands.alias("q"),
                (F.col("p.band") == F.col("q.band"))
                & (F.col("p.chunk") == F.col("q.chunk"))
                & (F.col("p.doc_id") < F.col("q.doc_id")),
            )
            .count()
        )
        assert shared >= 1

    def test_empty_payloads_collapse_to_zero_sig(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            dhash_pairs,
        )

        docs = spark.createDataFrame(
            [(1, ""), (2, ""), (3, "real content here with words")],
            "doc_id long, text string",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dhash_pairs(attach_media(docs)).collect()
        }
        assert pairs.get((1, 2)) == 0

    def test_clusters_keep_min_and_chain_transitively(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            dhash_clusters,
        )

        base = "the quick brown fox jumps over the lazy dog " * 8
        docs = spark.createDataFrame(
            [(1, base), (2, base), (3, "~" + base[1:]),
             (4, "all other tokens live here in different words " * 8)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dhash_clusters(attach_media(docs)).collect()}
        # 1,2,3 one component (1=2 exact; 3 within radius) -> keep min
        assert out[1]["keep"] and out[1]["dup_of"] is None
        assert not out[2]["keep"] and out[2]["dup_of"] == 1
        assert not out[3]["keep"] and out[3]["dup_of"] == 1
        assert out[4]["keep"] and out[4]["dup_of"] is None

    def test_incremental_matches_min_corpus_doc_without_corpus_rescan(
        self, spark
    ):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            image_dhash,
            incremental_dhash_dedup,
        )

        base = "the quick brown fox jumps over the lazy dog " * 8
        corpus = spark.createDataFrame(
            [(10, base), (11, base), (12, "some unrelated corpus text here " * 9)],
            "doc_id long, text string",
        )
        stored = image_dhash(attach_media(corpus))
        batch = spark.createDataFrame(
            [(20, "~" + base[1:]),          # near-dup of 10 and 11 -> min = 10
             (21, "a brand new batch document with novel words " * 8)],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["dup_of"], r["is_new"])
            for r in incremental_dhash_dedup(
                stored, attach_media(batch)
            ).collect()
        }
        assert out[20] == (10, False)
        assert out[21] == (None, True)
        # and the plan consumes the STORED sigs, not corpus payloads:
        # only the batch side contains a mapInPandas (image_dhash)
        df = incremental_dhash_dedup(stored, attach_media(batch))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("mapInPandas") <= 2  # batch hash (reused twice at most)


class TestPageRank:
    def _ranks(self, spark, edges, **kw):
        from textract_farmdata_pipeline_spark.operators.graph import pagerank

        df = spark.createDataFrame(edges, "src long, dst long")
        return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}

    def test_mass_conserved_with_dangling_sinks(self, spark):
        # 1,2,3 all point at 4; 4 is a pure sink (dangling)
        got = self._ranks(spark, [(1, 4), (2, 4), (3, 4)], iterations=8)
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_sink_with_more_inlinks_ranks_higher(self, spark):
        got = self._ranks(spark, [(1, 4), (2, 4), (3, 4), (3, 5)], iterations=8)
        assert got[4] > got[5]
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_symmetric_cycle_is_uniform(self, spark):
        # ring: every node same in/out degree -> uniform ranks
        ring = [(1, 2), (2, 3), (3, 1)]
        got = self._ranks(spark, ring, iterations=10)
        for v in got.values():
            assert abs(v - 1.0 / 3) < 1e-9

    def test_converges_geometrically(self, spark):
        """Power iteration contracts at ~damping^t: successive
        iteration gaps must shrink (the convergence mechanism), and the
        late gap must be well below the early one."""
        edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
        r4 = self._ranks(spark, edges, iterations=4)
        r8 = self._ranks(spark, edges, iterations=8)
        r12 = self._ranks(spark, edges, iterations=12)
        d_early = max(abs(r8[n] - r4[n]) for n in r4)
        d_late = max(abs(r12[n] - r8[n]) for n in r8)
        assert d_late < d_early
        assert d_late < 0.01


class TestNearDupPairsLsh:
    """The LSH-gated near-dup product path vs the O(n²) oracle anchor."""

    def _pairs(self, rows):
        return {(r["id_a"], r["id_b"], r["cosine"]) for r in rows}

    def test_pair_set_equals_brute_force_with_pinned_params(self, spark, emb):
        """(3 planes, 20 tables) was pinned by an offline sweep of the
        deterministic plane family as recall=1 on the fixtures at the
        low-selectivity 0.4 threshold — so the gated form must agree
        with brute force exactly (same ids, same rounded cosines)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            near_dup_pairs,
            near_dup_pairs_lsh,
        )

        brute = self._pairs(near_dup_pairs(emb, threshold=0.4).collect())
        gated = self._pairs(
            near_dup_pairs_lsh(
                emb, threshold=0.4, n_planes=3, n_tables=20
            ).collect()
        )
        assert gated == brute and len(brute) > 0

    def test_high_threshold_subset_and_exact_scores(self, spark, emb):
        """At any parameterization the gate may only *miss* pairs, never
        invent or mis-score one: results ⊆ brute force with identical
        rounded cosines (precision 1 by exact verification)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            near_dup_pairs,
            near_dup_pairs_lsh,
        )

        brute = self._pairs(near_dup_pairs(emb, threshold=0.35).collect())
        gated = self._pairs(
            near_dup_pairs_lsh(
                emb, threshold=0.35, n_planes=4, n_tables=6
            ).collect()
        )
        assert gated <= brute

    def test_duplicated_corpus_stays_exact_and_collapsed(self, spark, emb):
        """The duplication-safety mechanism (exact-collapse → rep-level
        LSH → membership expansion): on a corpus where every vector
        appears twice (ids shifted by 10⁶), the pair set must still
        equal brute force — copy-pairs at cosine 1.0, cross-pairs
        carrying the rep-level result — while the LSH bucket join only
        ever sees one row per distinct vector."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            near_dup_pairs,
            near_dup_pairs_lsh,
        )

        doubled = emb.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
        )
        brute = self._pairs(near_dup_pairs(doubled, threshold=0.4).collect())
        gated = self._pairs(
            near_dup_pairs_lsh(
                doubled, threshold=0.4, n_planes=3, n_tables=20
            ).collect()
        )
        assert gated == brute
        # every vector got a copy: each of the 500 identical pairs
        # scores exactly 1.0
        assert sum(1 for (_, _, c) in gated if c == 1.0) >= 500

    def test_skewed_duplication_and_zero_vectors(self, spark):
        """Adversarial corpus for the collapse path: one vector
        duplicated 40×, several singletons, and all-zero vectors (NaN
        cosine).  Gated must equal brute force: zero-vector pairs are
        excluded by both (NaN fails every >= threshold), the hot group
        collapses to one rep, and singleton near-dups survive."""
        import math

        from textract_farmdata_pipeline_spark.operators.similarity import (
            near_dup_pairs,
            near_dup_pairs_lsh,
        )

        dim = 64

        def vec(seed, scale=1.0):
            return [
                scale * math.sin(0.1 * seed + 0.37 * d) for d in range(dim)
            ]

        rows = [(i, vec(7)) for i in range(40)]                 # hot group
        rows += [(100 + i, vec(100 + i)) for i in range(6)]     # singletons
        rows += [(200, [0.0] * dim), (201, [0.0] * dim)]        # zero vectors
        rows += [(300, vec(3)), (301, vec(3, scale=2.0))]       # parallel pair
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        brute = self._pairs(near_dup_pairs(df, threshold=0.4).collect())
        gated = self._pairs(
            near_dup_pairs_lsh(df, threshold=0.4, n_planes=3, n_tables=20).collect()
        )
        assert gated == brute
        # the hot group contributes all C(40,2) exact pairs at 1.0
        assert sum(1 for a, b, c in gated if a < 40 and b < 40 and c == 1.0) == 780
        # zero vectors never pair with anything (NaN cosine)
        assert not any(a in (200, 201) or b in (200, 201) for a, b, _ in gated)
        # the scaled-parallel pair survives at cosine 1.0 across groups
        assert any(a == 300 and b == 301 for a, b, _ in gated)

    def test_plan_has_no_broadcast_nested_loop(self, spark, emb):
        """The whole point of the gate: candidate generation is an
        equality-keyed join on (table, bucket), so the physical plan
        must not contain a BroadcastNestedLoopJoin over the corpus —
        that's the O(n²) shape that cannot survive an unbroadcastable
        corpus.  (The brute-force anchor's plan does contain one.)"""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            near_dup_pairs,
            near_dup_pairs_lsh,
        )

        gated_plan = near_dup_pairs_lsh(
            emb, threshold=0.4, n_planes=3, n_tables=20
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in gated_plan
        brute_plan = near_dup_pairs(emb, threshold=0.4)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in brute_plan


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def books(self, spark, emb):
        from textract_farmdata_pipeline_spark.operators.similarity import pq_train

        return pq_train(emb, m=8, ks=16, max_iter=4, persist=False)

    def test_codebook_shape_and_determinism(self, spark, emb, books):
        from textract_farmdata_pipeline_spark.operators.similarity import pq_train

        assert len(books) == 8 and all(len(b) == 16 for b in books)
        assert all(len(c) == 8 for b in books for c in b)  # 64 / m
        again = pq_train(emb, m=8, ks=16, max_iter=4, persist=False)
        flat = [x for b in books for c in b for x in c]
        oflat = [x for b in again for c in b for x in c]
        assert flat == oflat  # no RNG anywhere

    def test_indivisible_dim_raises(self, spark, emb):
        from textract_farmdata_pipeline_spark.operators.similarity import pq_train

        with pytest.raises(ValueError, match="not divisible"):
            pq_train(emb, m=7, ks=4, max_iter=1, persist=False)  # dim 64 % 7 != 0

    def test_partition_count_invariance(self, spark, emb, books):
        from textract_farmdata_pipeline_spark.operators.similarity import pq_train

        other = pq_train(emb.repartition(7), m=8, ks=16, max_iter=4, persist=False)
        flat = [x for b in books for c in b for x in c]
        oflat = [x for b in other for c in b for x in c]
        assert max(abs(a - b) for a, b in zip(flat, oflat)) < 1e-8

    def test_codes_shape_and_range(self, spark, emb, books):
        from textract_farmdata_pipeline_spark.operators.similarity import pq_encode

        rows = pq_encode(emb, books).collect()
        assert len(rows) == emb.count()
        for r in rows:
            assert len(r["codes"]) == 8
            assert all(0 <= c < 16 for c in r["codes"])

    def test_adc_separates_true_neighbors(self, spark, emb, books):
        """The quantizer can't be exact on near-uniform sphere data, but
        ADC scores must still *order* the space: the true top-5 set's
        mean ADC score beats the corpus mean ADC score for every query."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            cosine_topk,
            pq_encode,
            pq_topk,
        )

        q = emb.filter(F.col("vec_id") < 20)
        truth: dict[int, set[int]] = {}
        for r in cosine_topk(emb, q, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        codes = pq_encode(emb, books)
        n = emb.count()
        all_scored = pq_topk(codes, books, q, k=n, round_digits=6).collect()
        per_q: dict[int, list] = {}
        for r in all_scored:
            per_q.setdefault(r["query_id"], []).append(r)
        for qid, rows in per_q.items():
            scores = {r["neighbor_id"]: r["adc_score"] for r in rows}
            mean_all = sum(scores.values()) / len(scores)
            mean_true = sum(scores[nb] for nb in truth[qid]) / len(truth[qid])
            assert mean_true > mean_all

    def test_adc_only_recall_floor(self, spark, emb, books):
        """32-bit codes on near-uniform sphere data: ADC alone is a
        coarse pruner (measured 0.16 here) — pin a loose floor; the
        real recall contract is the re-rank test below."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            cosine_topk,
            pq_encode,
            pq_topk,
        )

        q = emb.filter(F.col("vec_id") < 20)
        truth: dict[int, set[int]] = {}
        for r in cosine_topk(emb, q, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        codes = pq_encode(emb, books)
        got: dict[int, set[int]] = {}
        for r in pq_topk(codes, books, q, k=5).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(k_, set()) & t) for k_, t in truth.items())
        recall = hits / sum(len(t) for t in truth.values())
        assert recall >= 0.10, recall

    def test_rerank_recall(self, spark, emb):
        """The production two-stage shape (ADC shortlist → exact
        re-rank): recall equals shortlist capture — ≥0.85 with 8×64
        codebooks and a 10% shortlist on this corpus (measured 0.91),
        and every returned cosine is the EXACT score (re-ranked rows
        are a subset of the brute-force ranking)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            cosine_topk,
            pq_encode,
            pq_topk_rerank,
            pq_train,
        )

        q = emb.filter(F.col("vec_id") < 20)
        exact = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_topk(emb, q, k=emb.count()).collect()
        }
        truth: dict[int, set[int]] = {}
        for r in cosine_topk(emb, q, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        books = pq_train(emb, m=8, ks=64, max_iter=4, persist=False)
        codes = pq_encode(emb, books)
        rows = pq_topk_rerank(codes, books, emb, q, k=5, shortlist=50).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            assert r["cosine"] == exact[(r["query_id"], r["neighbor_id"])]
        hits = sum(len(got.get(k_, set()) & t) for k_, t in truth.items())
        recall = hits / sum(len(t) for t in truth.values())
        assert recall >= 0.85, recall


class TestIvfAdc:
    """IVF-gated PQ retrieval: recall vs the full ADC scan, the pruned
    scan fraction, and cell-assignment agreement with the shared
    nearest_cell semantics."""

    @pytest.fixture(scope="class")
    def fitted(self, spark, emb):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            kmeans_train,
            pq_encode_ivf,
            pq_train,
        )

        cents, _ = kmeans_train(emb, k=16, max_iter=4)
        books = pq_train(emb, m=8, ks=16, max_iter=4, persist=False)
        codes = pq_encode_ivf(emb, books, cents)
        codes.cache().count()
        return cents, books, codes

    def test_recall_vs_full_adc_on_clustered_corpus(self, spark):
        """Recall >= 0.9 at n_probe=4 over 16 cells on a corpus WITH
        cluster structure (the regime IVF exists for — the sf fixture's
        embeddings are near-uniform random, where no cell pruning can
        keep neighbors together; planting clusters makes this a pin of
        the operator, not of the fixture's entropy)."""
        import math

        from textract_farmdata_pipeline_spark.operators.similarity import (
            kmeans_train,
            pq_encode,
            pq_encode_ivf,
            pq_ivf_topk,
            pq_topk,
            pq_train,
        )

        def lcg(seed):
            x = seed
            while True:
                x = (1103515245 * x + 12345) % (1 << 31)
                yield x / (1 << 31)

        rnd = lcg(7)
        dim, n_clusters, per = 64, 12, 40
        centers = [
            [next(rnd) * 2 - 1 for _ in range(dim)] for _ in range(n_clusters)
        ]
        rows = []
        vid = 0
        for c in centers:
            for _ in range(per):
                v = [x + (next(rnd) - 0.5) * 0.15 for x in c]
                rows.append((vid, v))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents, _ = kmeans_train(df, k=16, max_iter=6)
        books = pq_train(df, m=8, ks=16, max_iter=4, persist=False)
        codes = pq_encode_ivf(df, books, cents)
        queries = df.orderBy("vec_id").limit(10)
        full = pq_topk(pq_encode(df, books), books, queries, k=10)
        gated = pq_ivf_topk(codes, books, cents, queries, k=10, n_probe=4)
        truth = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
        got = {(r["query_id"], r["neighbor_id"]) for r in gated.collect()}
        assert len(truth) == 100
        recall = len(truth & got) / len(truth)
        assert recall >= 0.9, f"IVF-gated recall {recall} < 0.9 at n_probe=4"

    def test_scan_fraction_is_pruned(self, spark, emb, fitted):
        """The candidate set actually scored must be the probed cells'
        members only — n_probe/k_coarse of the corpus, not all of it."""
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.similarity import (
            unit_vector,
        )

        cents, books, codes = fitted
        n_probe, nq = 4, 10
        cell_sizes = {
            r["cell"]: r["n"]
            for r in codes.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }
        total = sum(cell_sizes.values())
        C = np.array([list(c) for c in cents])
        q_rows = (
            emb.orderBy("vec_id").limit(nq)
            .select("vec_id", unit_vector(F.col("embedding")).alias("v"))
            .collect()
        )
        scanned = 0
        for r in q_rows:
            probed = np.argsort(-(C @ np.array(r["v"])), kind="stable")[:n_probe] + 1
            scanned += sum(cell_sizes.get(int(c), 0) for c in probed)
        frac = scanned / (total * nq)
        assert frac < 0.55, f"probed scan fraction {frac} — cells too unbalanced"

    def test_gated_plan_joins_on_cell_not_cross(self, spark, emb, fitted):
        from textract_farmdata_pipeline_spark.operators.similarity import pq_ivf_topk

        cents, books, codes = fitted
        queries = emb.orderBy("vec_id").limit(3)
        plan = pq_ivf_topk(
            codes, books, cents, queries, k=5, n_probe=4
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan

    def test_query_lut_build_is_distributed_and_bit_identical(
        self, spark, emb, fitted
    ):
        """The per-query ADC LUT table must come from a mapInPandas
        stage over the queries DataFrame — NOT a driver ``collect()``
        loop (a 10⁵-query production batch has to partition like any
        other table) — and its rows must be bit-identical to the
        driver-side gemv loop it replaced (reproduced inline here):
        same unit vector, same ``B[s] @ q_slice`` matmul shape, same
        stable-argsort cell probing."""
        import numpy as np

        from textract_farmdata_pipeline_spark.operators.similarity import (
            _query_luts,
            unit_vector,
        )

        cents, books, codes = fitted
        n_probe = 4
        queries = emb.orderBy("vec_id").limit(7)
        luts = _query_luts(queries, books, cents, n_probe)
        plan = luts._jdf.queryExecution().analyzed().toString()
        assert "mapInPandas" in plan or "MapInPandas" in plan
        assert "LocalRelation" not in plan  # nothing was collected
        got = {(r["query_id"], r["cell"]): r["lut"] for r in luts.collect()}

        B = np.array([[list(c) for c in b] for b in books])
        C = np.array([list(c) for c in cents])
        mm, kk, dd = B.shape
        q_rows = queries.select(
            F.col("vec_id").alias("query_id"),
            unit_vector(F.col("embedding")).alias("v"),
        ).collect()
        want = {}
        for r in q_rows:
            q = np.array(r["v"])
            lut = [
                [float(x) for x in (B[s] @ q[s * dd : (s + 1) * dd])]
                for s in range(mm)
            ]
            for cell in np.argsort(-(C @ q), kind="stable")[:n_probe] + 1:
                want[(r["query_id"], int(cell))] = lut
        assert got.keys() == want.keys()
        for key, lut in want.items():
            assert got[key] == lut  # exact float equality, row by row

    def test_ungated_lut_build_is_distributed(self, spark, emb, fitted):
        """Same contract for the ungated :func:`pq_topk` path: LUTs
        come back one row per query from the distributed build, with
        no probed-cell column and no LocalRelation in the plan."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            _query_luts,
        )

        cents, books, codes = fitted
        queries = emb.orderBy("vec_id").limit(5)
        luts = _query_luts(queries, books)
        assert "LocalRelation" not in luts._jdf.queryExecution().analyzed().toString()
        rows = luts.collect()
        assert sorted(r["query_id"] for r in rows) == [0, 1, 2, 3, 4]
        assert all(len(r["lut"]) == 8 and len(r["lut"][0]) == 16 for r in rows)

    def test_cells_match_shared_nearest_cell_semantics(self, spark, emb, fitted):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            centroid_scores,
            nearest_cell,
            unit_vector,
        )

        cents, books, codes = fitted
        jvm = {
            r["vec_id"]: r["cell"]
            for r in emb.select(
                "vec_id",
                nearest_cell(
                    centroid_scores(unit_vector(F.col("embedding")), cents)
                ).cast("int").alias("cell"),
            ).collect()
        }
        got = {r["vec_id"]: r["cell"] for r in codes.select("vec_id", "cell").collect()}
        assert got == jvm


class TestSemanticDedup:
    def _run(self, spark, rows, centroids, threshold=0.95):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            semantic_dedup,
        )

        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        return {
            r["vec_id"]: r
            for r in semantic_dedup(df, centroids, threshold=threshold).collect()
        }

    def test_within_cell_dups_collapse_to_min_id(self, spark):
        cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9999, 0.001, 0.0, 0.0]),      # ~cos 1.0 with id 1
            (3, [0.7, 0.7, 0.0, 0.0]),           # same cell, cos ~0.7: kept
            (4, [0.0, 1.0, 0.0, 0.0]),
            (5, [0.0, 2.0, 0.0, 0.0]),           # scale-invariant dup of 4
        ]
        out = self._run(spark, rows, cents)
        assert out[1]["keep"] and out[1]["dup_of"] is None
        assert not out[2]["keep"] and out[2]["dup_of"] == 1
        assert out[3]["keep"] and out[3]["dup_of"] is None
        assert out[4]["keep"] and not out[5]["keep"] and out[5]["dup_of"] == 4

    def test_cross_cell_near_dups_survive_by_design(self, spark):
        """SemDeDup's documented trade: a near-dup pair split across
        cells is not compared — both survive (the paper accepts this
        for the Σc² cost bound)."""
        cents = [[1.0, 0.0], [0.707, 0.707]]
        rows = [(1, [0.924, 0.383]), (2, [0.920, 0.392])]  # ~cos 1, cells differ
        out = self._run(spark, rows, cents, threshold=0.99)
        if out[1]["cell_id"] != out[2]["cell_id"]:
            assert out[1]["keep"] and out[2]["keep"]

    def test_transitive_chain_single_cluster(self, spark):
        """a~b and b~c above threshold but a~c below: connected
        components still one cluster (min-id representative)."""
        import math

        cents = [[1.0, 0.0]]
        th = math.cos(math.radians(10))
        rows = [
            (7, [math.cos(math.radians(0)), math.sin(math.radians(0))]),
            (8, [math.cos(math.radians(9)), math.sin(math.radians(9))]),
            (9, [math.cos(math.radians(18)), math.sin(math.radians(18))]),
        ]
        out = self._run(spark, rows, cents, threshold=th)
        assert out[7]["keep"]
        assert out[8]["dup_of"] == 7 and out[9]["dup_of"] == 7

    def test_no_pairs_all_kept(self, spark):
        cents = [[1.0, 0.0]]
        rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
        out = self._run(spark, rows, cents, threshold=0.99)
        assert all(r["keep"] and r["dup_of"] is None for r in out.values())

    def test_hot_cell_cap_splits_dominant_cell(self, spark):
        """Adversarial one-cell-dominant corpus: 240 DISTINCT vectors all
        landing in one coarse cell (sub-structure of 6 tight bundles).
        With max_cell_size the cell must be re-clustered so the
        pair-join input Σ c_i² collapses from ~240² to the bundled
        sizes, while the within-bundle dup verdicts are preserved."""
        import math

        from textract_farmdata_pipeline_spark.operators.similarity import (
            semantic_dedup,
        )

        # one coarse centroid pointing at +x: everything lands in cell 1
        cents = [[1.0, 0.0, 0.0], [-1.0, 0.0, 0.0]]
        rows = []
        vid = 0
        for b in range(6):
            # bundles fan out in the (x, y, z) plane, 12 deg apart,
            # members 0.2 deg apart -> within-bundle cosine > 0.999,
            # across-bundle < 0.99
            base = math.radians(12 * b)
            for m in range(40):
                a = base + math.radians(0.2) * m / 40
                rows.append((vid, [math.cos(a), math.sin(a) * 0.8, math.sin(a) * 0.6]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        capped = semantic_dedup(
            df, cents, threshold=0.999, max_cell_size=80, split_k=8
        )
        out = {r["vec_id"]: r for r in capped.collect()}
        # Σc² bound: no post-split cell may exceed ~2 bundles
        from collections import Counter

        sizes = Counter(r["cell_id"] for r in out.values())
        assert max(sizes.values()) <= 80, f"hot cell not split: {sizes}"
        assert sum(n * n for n in sizes.values()) < 240 * 240 / 4
        # semantics: dedup still happens inside each bundle.  A split
        # boundary may cut a bundle (the documented recall trade), so
        # allow at most 2 keepers per 40-member bundle and require every
        # rejected member to point at a keeper from ITS OWN bundle.
        for b in range(6):
            ids = set(range(b * 40, b * 40 + 40))
            keeps = {i for i in ids if out[i]["keep"]}
            assert 1 <= len(keeps) <= 2, f"bundle {b}: {sorted(keeps)}"
            assert min(keeps) == min(ids)
            for i in ids - keeps:
                assert out[i]["dup_of"] in keeps

    def test_cap_noop_when_cells_small(self, spark):
        """max_cell_size larger than every cell: identical output to the
        uncapped run (the cap must be a pure guard, not a behavior
        change)."""
        cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9999, 0.001, 0.0, 0.0]),
            (3, [0.7, 0.7, 0.0, 0.0]),
            (4, [0.0, 1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        from textract_farmdata_pipeline_spark.operators.similarity import (
            semantic_dedup,
        )

        plain = {
            (r["vec_id"], r["keep"], r["dup_of"])
            for r in semantic_dedup(df, cents, threshold=0.99).collect()
        }
        capped = {
            (r["vec_id"], r["keep"], r["dup_of"])
            for r in semantic_dedup(
                df, cents, threshold=0.99, max_cell_size=100
            ).collect()
        }
        assert plain == capped


class TestCountMinSketch:
    def test_exact_on_collision_free_fixture(self, spark):
        """Few distinct bigrams vs 4×1024 buckets: the deterministic md5
        family places them collision-free, so every estimate is exact."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            cms_estimate,
            cms_sketch,
        )

        df = spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b x y")], "doc_id long, text string"
        )
        # bigrams: doc1 -> [a b][b a][a b][b c], doc2 -> [a b][b x][x y]
        sk = cms_sketch(df, n=2)
        cand = spark.createDataFrame(
            [("a b",), ("b a",), ("x y",)], "shingle string"
        )
        got = {r["shingle"]: r["cms_estimate"] for r in cms_estimate(sk, cand).collect()}
        assert got == {"a b": 3, "b a": 1, "x y": 1}

    def test_never_undercounts_on_corpus(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.corpus import (
            ngram_shingles,
        )
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            cms_estimate,
            cms_sketch,
        )

        sh = ngram_shingles(docs, 2)
        exact = {
            r["shingle"]: r["cnt"]
            for r in sh.groupBy("shingle").agg(F.count("*").alias("cnt")).collect()
        }
        total = sum(exact.values())
        sk = cms_sketch(docs, n=2)
        cand = sh.select("shingle").distinct()
        est = {
            r["shingle"]: r["cms_estimate"]
            for r in cms_estimate(sk, cand).collect()
        }
        assert set(est) == set(exact)
        overs = [est[s] - exact[s] for s in exact]
        assert min(overs) >= 0  # CMS never undercounts
        # standard guarantee: P(over > 2·total/width) < (1/2)^depth per
        # query; as a fixture-deterministic pin, the MAX observed
        # overcount stays within 4·total/width
        assert max(overs) <= 4 * total / 1024

    def test_sketch_is_mergeable(self, spark):
        """cms(A ∪ B) must equal the cellwise sum of cms(A) and cms(B) —
        the property that lets 1000 executors sketch independently and
        merge depth·width numbers."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            cms_sketch,
        )

        a = spark.createDataFrame([(1, "p q r p q")], "doc_id long, text string")
        b = spark.createDataFrame([(2, "p q z")], "doc_id long, text string")
        both = a.union(b)
        cell = lambda df: {
            (r["row"], r["bucket"]): r["cnt"] for r in cms_sketch(df, n=2).collect()
        }
        ca, cb, cu = cell(a), cell(b), cell(both)
        merged: dict = {}
        for d in (ca, cb):
            for k, v in d.items():
                merged[k] = merged.get(k, 0) + v
        assert merged == cu


class TestBpeTrain:
    @staticmethod
    def _reference_bpe(word_counts: dict, n_merges: int, min_count: int = 2):
        """Classic in-memory BPE (Sennrich et al. 2016) as the oracle."""
        state = {tuple(w): c for w, c in word_counts.items()}
        merges = []
        for rank in range(n_merges):
            pairs: dict = {}
            for syms, c in state.items():
                for x, y in zip(syms, syms[1:]):
                    pairs[(x, y)] = pairs.get((x, y), 0) + c
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), cnt = best
            if cnt < min_count:
                break
            merges.append((rank, a, b, a + b, cnt))
            new_state: dict = {}
            for syms, c in state.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                key = tuple(out)
                new_state[key] = new_state.get(key, 0) + c
            state = new_state
        return merges

    def test_matches_reference_on_classic_corpus(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
        text = " ".join(w for w, c in counts.items() for _ in range(c))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = bpe_train(df, n_merges=10, checkpoint_every=3)
        want = self._reference_bpe(counts, 10)
        assert got == want
        assert len(got) >= 5  # the classic corpus yields a real merge chain

    def test_merge_application_is_greedy_left_to_right(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        # "aaaa" x3: first merge (a,a) cnt=3*3=9; after greedy apply each
        # word is [aa, aa] -> second merge (aa, aa) cnt 3
        df = spark.createDataFrame(
            [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
        )
        got = bpe_train(df, n_merges=2)
        assert got[0][1:] == ("a", "a", "aa", 9)
        assert got[1][1:] == ("aa", "aa", "aaaa", 3)

    def test_early_stop_below_min_count(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        df = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
        assert bpe_train(df, n_merges=5, min_pair_count=2) == []

    def test_matches_reference_on_fixture_corpus(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        sample = docs.limit(30)
        counts: dict = {}
        for r in sample.collect():
            for w in r["text"].split(" "):
                if w:
                    counts[w] = counts.get(w, 0) + 1
        got = bpe_train(sample, n_merges=8)
        want = self._reference_bpe(counts, 8)
        assert got == want

    def test_batched_equals_sequential_on_interacting_corpus(self, spark):
        """Disjoint batching must be an optimization, not an
        approximation: on a corpus engineered so merges interact (the
        top pair's merge spawns high-count successor pairs sharing its
        symbols, plus cross-pair count ties), batch_merges=8 must
        produce the identical merge table to batch_merges=1 and to the
        in-memory reference."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        # 'abab'-family words make (a,b) -> then (ab,ab) chains; the
        # tie between (a,b) and (b,a) inside 'abab' plus the unrelated
        # (x,y) pair exercises the strict-dominance cutoff.
        counts = {"abab": 7, "abc": 5, "xy": 5, "xyxy": 2, "bca": 3}
        text = " ".join(w for w, c in counts.items() for _ in range(c))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        batched = bpe_train(df, n_merges=12, batch_merges=8, checkpoint_every=2)
        sequential = bpe_train(df, n_merges=12, batch_merges=1, checkpoint_every=2)
        want = self._reference_bpe(counts, 12)
        assert batched == sequential == want
        assert len(want) >= 6  # the chain is deep enough to interact

    def test_truncated_slice_respects_min_pair_count(self, spark):
        """Review regression: with a truncated ranked slice, the batch
        cutoff floor must never drop below min_pair_count - 1 — a
        count-2 runner-up behind 33+ singleton pairs must NOT become a
        merge when min_pair_count=3 (sequential training stops after
        the count-5 winner)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        import string

        alpha = string.ascii_letters + string.digits
        counts = {"ab": 5, "cd": 2}
        # 40 distinct singleton words -> 40 distinct count-1 pairs,
        # forcing len(ranked) == top_m (33) for batch_merges=8
        for i in range(40):
            counts[alpha[10 + (2 * i) % 50] + alpha[11 + (2 * i + 17) % 50] + alpha[(3 * i) % 50]] = 1
        text = " ".join(w for w, c in counts.items() for _ in range(c))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = bpe_train(df, n_merges=12, min_pair_count=3, batch_merges=8)
        want = self._reference_bpe(counts, 12, min_count=3)
        assert got == want
        assert all(m[4] >= 3 for m in got)

    def test_backslash_e_symbols_survive_quoting(self, spark):
        """Review regression: merged symbols containing a literal \\E
        must not terminate the \\Q..\\E regex quoting early (java
        Pattern.quote split semantics)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        counts = {"\\E\\E": 7, "\\EX": 4, "qr": 3}
        text = " ".join(w for w, c in counts.items() for _ in range(c))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = bpe_train(df, n_merges=6, batch_merges=4)
        want = self._reference_bpe(counts, 6)
        assert got == want
        assert any("\\E" in m[3] for m in got)  # the hazard actually occurs

    def test_batched_fixture_corpus_matches_reference(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_train

        sample = docs.limit(30)
        counts: dict = {}
        for r in sample.collect():
            for w in r["text"].split(" "):
                if w:
                    counts[w] = counts.get(w, 0) + 1
        got = bpe_train(sample, n_merges=16, batch_merges=8)
        assert got == self._reference_bpe(counts, 16)


class TestTfidfVectors:
    def test_hand_computed_weights(self, spark):
        import math

        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            tfidf_vectors,
        )

        df = spark.createDataFrame(
            [(1, "cat cat dog"), (2, "cat fish"), (3, "dog dog")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["embedding"] for r in tfidf_vectors(df, vocab_size=3).collect()}
        # df: cat=2, dog=2, fish=1 -> vocab order (df desc, term asc):
        # cat(0), dog(1), fish(2); N=3
        w_cat, w_dog, w_fish = math.log(3 / 2), math.log(3 / 2), math.log(3 / 1)
        assert out[1] == [2 * w_cat, 1 * w_dog, 0.0]
        assert out[2] == [1 * w_cat, 0.0, 1 * w_fish]
        assert out[3] == [0.0, 2 * w_dog, 0.0]

    def test_vocab_miss_yields_zero_vector(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            tfidf_vectors,
        )

        df = spark.createDataFrame(
            [(1, "aa aa aa"), (2, "zz")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["embedding"] for r in tfidf_vectors(df, vocab_size=1).collect()}
        assert out[2] == [0.0]  # 'zz' cut from the 1-term vocabulary
        assert len(out) == 2

    def test_deterministic_and_dim_stable(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            tfidf_vectors,
        )

        sample = docs.limit(40)
        a = {r["doc_id"]: r["embedding"] for r in tfidf_vectors(sample, 16).collect()}
        b = {r["doc_id"]: r["embedding"] for r in tfidf_vectors(sample, 16).collect()}
        assert a == b
        assert all(len(v) == 16 for v in a.values())
        assert len(a) == 40

    def test_clusters_compose(self, spark, docs):
        """The registered composition must produce a sane profile: every
        document assigned, cluster ids within range, coherence valid."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_cluster_profile,
            kmeans_train,
        )
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            tfidf_vectors,
        )

        vecs = tfidf_vectors(docs.limit(60), vocab_size=16).withColumnRenamed(
            "doc_id", "vec_id"
        )
        cents, hist = kmeans_train(vecs, k=4, max_iter=3)
        prof = ivf_cluster_profile(vecs, cents).collect()
        assert sum(r["n_members"] for r in prof) == 60
        assert all(1 <= r["cluster_id"] <= 4 for r in prof)


class TestPortableHashFamily:
    """The md5_long hash family must be bit-identical across engines and
    preserve the dedup semantics of the xxhash64 product path."""

    def test_md5_long_matches_duckdb(self, spark):
        """Spark's conv(substr(md5..)) == DuckDB's CAST('0x'||substr..)
        on adversarial inputs (empty-ish, unicode, long)."""
        import duckdb

        from textract_farmdata_pipeline_spark.operators.dedup import md5_long

        samples = ["a", "hello world", "naïve café ß", "x" * 500, "0", " "]
        sdf = spark.createDataFrame([(s,) for s in samples], ["s"])
        got = {
            r["s"]: r["h"]
            for r in sdf.select("s", md5_long(F.col("s"), "mh3|").alias("h")).collect()
        }
        con = duckdb.connect()
        for s in samples:
            want = con.execute(
                "SELECT CAST(('0x' || substr(md5('mh3|' || ?), 1, 15)) AS BIGINT)", [s]
            ).fetchone()[0]
            assert got[s] == want, f"hash mismatch for {s!r}"

    def test_portable_pairs_equal_oracle(self, spark, docs, sf_dir):
        """The registered portable pair query matches its DuckDB oracle
        exactly (the same comparison the driver runs, pinned in pytest
        so a hash-family regression fails fast locally)."""
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r) for r in QUERIES["dedup_minhash_portable"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["dedup_minhash_portable"]).fetchall())
        assert srows == drows
        assert srows, "fixture should contain at least one near-dup pair"

    def test_portable_clusters_linear_and_converged(self, spark, docs, sf_dir):
        """Cluster output is one row per input doc; exact duplicates land
        in one cluster; and the unrolled-CC oracle depth suffices (round
        4 == round 5 would be the SQL-side check — here we pin the Spark
        fixpoint groups exact-duplicate docs identically)."""
        from textract_farmdata_pipeline_spark.operators.dedup import near_dup_clusters

        n = docs.count()
        out = near_dup_clusters(
            docs,
            n_hashes=8,
            bands=4,
            threshold=0.5,
            shingle_n=3,
            max_bucket_size=None,
            hash_family="md5",
        )
        rows = out.collect()
        assert len(rows) == n
        cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
        dup_groups = (
            docs.groupBy("text")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") > 1)
            .collect()
        )
        for g in dup_groups:
            labels = {cluster[i] for i in g["ids"]}
            assert len(labels) == 1, f"exact duplicates split: {g['ids']}"

    def test_portable_simhash_identical_for_identical_text(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import simhash

        df = spark.createDataFrame(
            [(1, "spark shuffles the sorted rows"), (2, "spark shuffles the sorted rows")],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r["simhash"] for r in simhash(df, hash_family="md5").collect()}
        assert got[1] == got[2]
        assert 0 <= got[1] < (1 << 48)

    def test_portable_incremental_equals_oracle(self, spark, docs, sf_dir):
        """The crawl-admission annotate contract (dup_of) matches the
        DuckDB oracle at the pytest scale too (driver checks sf0.01)."""
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["dedup_incremental_portable"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["dedup_incremental_portable"]).fetchall())
        assert srows == drows
        assert any(r[1] is not None for r in srows), "fixture should contain dups"

    def test_portable_simhash_pairs_equal_oracle(self, spark, docs, sf_dir):
        """Banded hamming-ball pair set matches the DuckDB oracle at the
        pytest scale (driver checks sf0.01)."""
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["dedup_simhash_pairs_portable"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["dedup_simhash_pairs_portable"]).fetchall())
        assert srows == drows
        assert srows, "fixture should contain at least one hamming-ball pair"

    def test_unknown_hash_family_raises(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            minhash_signatures,
            simhash,
        )

        with pytest.raises(ValueError):
            minhash_signatures(docs, hash_family="sha1")
        with pytest.raises(ValueError):
            simhash(docs, hash_family="sha1")


class TestBpeEncode:
    """bpe_encode must implement the CLASSICAL greedy pairwise merge —
    the bracket-encoding trick makes literal replacement equal it."""

    def _counts(self, spark, rows, merges):
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_encode

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {
            r["doc_id"]: (r["n_chars"], r["n_bpe_tokens"])
            for r in bpe_encode(df, merges).collect()
        }

    def test_greedy_pairwise_on_runs(self, spark):
        """'lllll' + (l,l) → ll,ll,l = 3 tokens (the case a consuming
        single-marker encoding gets wrong)."""
        got = self._counts(spark, [(1, "lllll"), (2, "llll"), (3, "lll")], [("l", "l")])
        assert got[1] == (5, 3)
        assert got[2] == (4, 2)
        assert got[3] == (3, 2)

    def test_rank_order_chaining(self, spark):
        """(t,h) then (th,e): 'the' collapses to ONE token only because
        the second merge consumes the first merge's output."""
        got = self._counts(spark, [(1, "the thee et")], [("t", "h"), ("th", "e")])
        # 'the'→[the]=1, 'thee'→[the,e]=2, 'et'→[e,t]=2 → 5 tokens, 9 chars
        assert got[1] == (9, 5)

    def test_word_boundaries_not_crossed(self, spark):
        """'t h' must stay 2 tokens: merges never span the space."""
        got = self._counts(spark, [(1, "t h"), (2, "th")], [("t", "h")])
        assert got[1] == (2, 2)
        assert got[2] == (2, 1)

    def test_marker_bytes_stripped_defensively(self, spark):
        got = self._counts(spark, [(1, "a\x1eb\x1fc")], [])
        assert got[1] == (3, 3)

    def test_compression_metric(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_encode

        df = spark.createDataFrame([(1, "the the"), (2, "   ")], ["doc_id", "text"])
        rows = {
            r["doc_id"]: r
            for r in bpe_encode(df, [("t", "h"), ("th", "e")]).collect()
        }
        assert rows[1]["compression"] == 3.0  # 6 chars / 2 tokens
        assert rows[2]["n_bpe_tokens"] == 0 and rows[2]["compression"] is None

    def test_matches_reference_bpe(self, spark):
        """Cross-check against a tiny in-memory classical BPE encoder on
        the fixture's first documents."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_encode

        merges = [("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n")]

        def ref_encode(word):
            syms = list(word)
            for a, b in merges:
                out = []
                i = 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(
                ["the rain in spain", "an anther and another", "ererer er",
                 "in inn innin", "than then thin"]
            )],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_encode(docs, merges).collect()}
        for i, t in enumerate(
            ["the rain in spain", "an anther and another", "ererer er",
             "in inn innin", "than then thin"]
        ):
            want = sum(len(ref_encode(w)) for w in t.split(" ") if w)
            assert got[i] == want, f"doc {i}: {got[i]} != {want}"


class TestHashedClassifier:
    """Learned-quality-gate inference: dyadic weights make the float
    aggregate exact, so results are partitioning-independent."""

    def test_partitioning_invariance(self, spark, docs):
        """Same logits at 1 partition and 32 partitions — the dyadic
        exactness claim, tested rather than asserted."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            hashed_classifier_score,
        )

        a = {
            r["doc_id"]: r["logit"]
            for r in hashed_classifier_score(docs.coalesce(1)).collect()
        }
        b = {
            r["doc_id"]: r["logit"]
            for r in hashed_classifier_score(docs.repartition(32)).collect()
        }
        assert a == b  # bitwise equality, not approx

    def test_logit_range_and_gate(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            hashed_classifier_score,
        )

        rows = hashed_classifier_score(docs).collect()
        assert len(rows) == docs.filter("text <> ''").count()
        for r in rows:
            assert -1.0 <= r["logit"] <= 1.0  # mean of weights in [-1, 1]
            assert r["passes"] == (r["logit"] >= 0.0)

    def test_single_token_doc_weight(self, spark):
        """A one-token doc's logit IS that token's bucket weight —
        cross-checked against the md5 formula in python."""
        import hashlib

        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            hashed_classifier_score,
        )

        df = spark.createDataFrame([(1, "spark")], ["doc_id", "text"])
        got = hashed_classifier_score(df).collect()[0]
        bucket = int(hashlib.md5(b"qc|spark").hexdigest()[:8], 16) % 256
        w = (int(hashlib.md5(f"qw{bucket}".encode()).hexdigest()[:15], 16) % 2049 - 1024) / 1024.0
        assert got["logit"] == w
        assert got["n_tokens"] == 1


class TestBpePacking:
    def test_pack_bpe_budget_and_coverage(self, spark, docs, sf_dir):
        """Every doc packed exactly once; packs respect the BPE-token
        budget unless a single document alone exceeds it."""
        from textract_farmdata_pipeline_spark.registry import QUERIES

        rows = QUERIES["doc_pack_bpe"](spark, sf_dir).collect()
        assert len(rows) == docs.count()
        packs = {}
        for r in rows:
            packs.setdefault((r["shard"], r["pack_id"]), []).append(r["n_tokens"])
        for (shard, pid), sizes in packs.items():
            if len(sizes) > 1:
                assert sum(sizes) <= 256, f"pack {(shard, pid)} over budget: {sizes}"

    def test_pack_unit_is_bpe_not_whitespace(self, spark):
        """A doc whose BPE count differs from its word count must be
        budgeted by the BPE count."""
        from textract_farmdata_pipeline_spark.operators.packing import pack_greedy
        from textract_farmdata_pipeline_spark.operators.text_analysis import bpe_encode

        # "the" = 1 BPE token under (t,h)+(th,e) but 3 chars
        df = spark.createDataFrame(
            [(i, "the " * 10) for i in range(4)], ["doc_id", "text"]
        )
        counts = bpe_encode(df, [("t", "h"), ("th", "e")]).select(
            "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
        )
        out = pack_greedy(df, budget=25, n_shards=1, counts=counts).collect()
        # each doc = 10 bpe tokens; budget 25 fits 2 docs per pack
        by_pack = {}
        for r in out:
            assert r["n_tokens"] == 10
            by_pack.setdefault(r["pack_id"], 0)
            by_pack[r["pack_id"]] += 1
        assert sorted(by_pack.values()) == [2, 2]


class TestKnBigramLm:
    def test_hand_computed_kn(self, spark):
        """'a b a b a c' → KN values verified against the formula by
        hand: c(a,b)=2, c(a,c)=1, c(b,a)=2, c1(a)=3, N1+(a,.)=2,
        N1+(.,b)=1, N1+(.,a)=1, N1+(.,c)=1, types=3."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_bigram_lm,
        )

        df = spark.createDataFrame([(1, "a b a b a c")], ["doc_id", "text"])
        got = {(r["w1"], r["w2"]): r for r in kn_bigram_lm(df).collect()}
        assert got[("a", "b")]["pair_count"] == 2
        # P(b|a) = (2-.75)/3 + (.75*2/3)*(1/3)
        assert abs(got[("a", "b")]["p_kn"] - ((2 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3))) < 1e-15
        # P(c|a) = (1-.75)/3 + (.75*2/3)*(1/3)
        assert abs(got[("a", "c")]["p_kn"] - ((1 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3))) < 1e-15
        # P(a|b) = (2-.75)/2 + (.75*1/2)*(1/3)
        assert abs(got[("b", "a")]["p_kn"] - ((2 - 0.75) / 2 + (0.75 * 1 / 2) * (1 / 3))) < 1e-15

    def test_probabilities_valid(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_bigram_lm,
        )

        rows = kn_bigram_lm(docs, top=200).collect()
        assert len(rows) == 200
        for r in rows:
            assert 0.0 < r["p_kn"] <= 1.0

    def test_seen_mass_at_most_one(self, spark):
        """Sum of P(.|w1) over SEEN continuations stays < 1 (the
        discounted mass funds unseen words via the backoff term)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_bigram_lm,
        )

        df = spark.createDataFrame(
            [(1, "x y x z x y z y x")], ["doc_id", "text"]
        )
        rows = kn_bigram_lm(df, top=100).collect()
        by_w1 = {}
        for r in rows:
            by_w1.setdefault(r["w1"], 0.0)
            by_w1[r["w1"]] += r["p_kn"]
        for w1, mass in by_w1.items():
            assert mass <= 1.0 + 1e-12, f"{w1}: {mass}"


class TestDedupReport:
    def test_report_invariants(self, spark, docs, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        r = QUERIES["corpus_dedup_report"](spark, sf_dir).collect()[0]
        n = docs.count()
        assert r["total_docs"] == n
        assert r["distinct_texts"] + r["exact_dup_docs"] == n
        assert 0 <= r["dup_groups"] <= r["distinct_texts"]
        assert r["cross_source_dup_groups"] <= r["dup_groups"]
        assert r["largest_group"] >= 1
        assert abs(r["dup_rate"] - r["exact_dup_docs"] / n) < 1e-15


class TestPortableHll:
    def test_accuracy_within_bound(self, spark):
        """Raw HLL estimate on 5000 distinct keys (well past the
        2.5m small-range zone for m=64) lands within 3·(1.04/sqrt(m))
        ≈ 39% of truth — generous, but this pins 'is an estimator',
        while the oracle pins exactness of every emitted value."""
        from textract_farmdata_pipeline_spark.operators.approx import hll_distinct

        n = 5000
        df = spark.range(n).select(F.col("id").alias("k"))
        est = hll_distinct(df, "k", m=64).collect()[0]["hll_estimate"]
        assert abs(est - n) / n < 3 * (1.04 / 64**0.5)

    def test_merge_equals_rebuild(self, spark):
        """Register tables from two halves, unioned then max-folded,
        equal the single-pass registers — the mergeability that lets
        each executor sketch its partition independently at 100 TB."""
        from textract_farmdata_pipeline_spark.operators.approx import (
            hll_estimate,
            hll_registers,
        )

        df = spark.range(2000).select(F.col("id").alias("k"))
        a = hll_registers(df.filter(F.col("k") < 1200), "k")
        b = hll_registers(df.filter(F.col("k") >= 800), "k")  # overlap on purpose
        merged = (
            a.unionByName(b)
            .groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
        )
        one = hll_estimate(hll_registers(df, "k")).collect()[0]
        two = hll_estimate(merged).collect()[0]
        assert one == two

    def test_group_columns_independent(self, spark):
        from textract_farmdata_pipeline_spark.operators.approx import hll_distinct

        df = spark.range(600).select(
            (F.col("id") % 2).cast("string").alias("g"), F.col("id").alias("k")
        )
        rows = {r["g"]: r for r in hll_distinct(df, "k", ["g"]).collect()}
        assert set(rows) == {"0", "1"}
        # disjoint key sets (evens vs odds) -> different register tables
        assert rows["0"]["hll_estimate"] != rows["1"]["hll_estimate"]

    def test_linear_counting_correction_small_range(self, spark):
        """At tiny cardinality (n=30 ≪ 2.5m) the raw HLL formula is
        badly biased and the corrected estimate must (a) take the
        linear-counting branch, (b) sit within Mitchell's documented
        bias of the TRUE m·ln(m/V) — ≤ 0.0861·ln2·m ≈ 3.8 counts at
        m=64 — and (c) beat the raw estimate's error against truth."""
        import math

        from textract_farmdata_pipeline_spark.operators.approx import hll_distinct

        n = 30
        df = spark.range(n).select(F.col("id").alias("k"))
        r = hll_distinct(df, "k", m=64, correction=True).collect()[0]
        v = r["n_zero_registers"]
        assert v > 0 and r["hll_estimate"] <= 2.5 * 64
        assert r["hll_corrected"] == r["lc_estimate"]
        true_lc = 64 * math.log(64 / v)
        assert 0 <= r["lc_estimate"] - true_lc <= 0.0861 * math.log(2.0) * 64
        assert abs(r["hll_corrected"] - n) <= abs(r["hll_estimate"] - n)

    def test_large_range_keeps_raw_estimate(self, spark):
        """Past the 2.5m zone the switch must leave the raw estimate
        untouched (lc may be NULL when every register is hit)."""
        from textract_farmdata_pipeline_spark.operators.approx import hll_distinct

        df = spark.range(5000).select(F.col("id").alias("k"))
        r = hll_distinct(df, "k", m=64, correction=True).collect()[0]
        assert r["hll_corrected"] == r["hll_estimate"]


class TestPortableBloom:
    def test_no_false_negatives_and_bounded_fp(self, spark):
        """Every inserted key probes positive (the Bloom guarantee);
        false-positive rate over non-members stays under ~3x the
        theoretical (1-e^(-kn/m))^k for n=300, m=4096, k=4 (≈ 0.9%)."""
        import math

        from textract_farmdata_pipeline_spark.operators.approx import (
            bloom_build,
            bloom_probe,
        )

        members = spark.range(300).select(F.col("id").alias("key"))
        others = spark.range(300, 2300).select(F.col("id").alias("key"))
        bf = bloom_build(members, "key", m_bits=4096, k=4)
        m_rows = bloom_probe(members, bf, "key", m_bits=4096, k=4).collect()
        assert all(r["bloom_member"] for r in m_rows)
        o_rows = bloom_probe(others, bf, "key", m_bits=4096, k=4).collect()
        fp = sum(1 for r in o_rows if r["bloom_member"]) / len(o_rows)
        theo = (1 - math.exp(-4 * 300 / 4096)) ** 4
        assert fp <= 3 * theo + 0.01, (fp, theo)

    def test_filter_is_fixed_size(self, spark):
        from textract_farmdata_pipeline_spark.operators.approx import bloom_build

        big = spark.range(50_000).select(F.col("id").alias("key"))
        words = bloom_build(big, "key", m_bits=1024, k=4).collect()
        assert len(words) <= 1024 // 32


class TestRrfFusion:
    def test_hand_computed_fusion(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import rrf_fuse

        a = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
        b = spark.createDataFrame([(2, 1), (3, 2)], ["doc_id", "rank"])
        got = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60, top=10).collect()}
        assert got[2]["rrf_score"] == 1.0 / 62 + 1.0 / 61  # both lists
        assert got[1]["rrf_score"] == 1.0 / 61  # list a only
        assert got[3]["rrf_score"] == 1.0 / 62  # list b only
        assert got[1]["rank_1"] is None and got[3]["rank_0"] is None

    def test_consensus_doc_wins(self, spark):
        """A doc ranked mid-list by BOTH rankers outscores a doc that
        tops one list and misses the other once ranks pass k-ish —
        the consensus property RRF exists for."""
        from textract_farmdata_pipeline_spark.operators.similarity import rrf_fuse

        a = spark.createDataFrame([(9, 1), (5, 30)], ["doc_id", "rank"])
        b = spark.createDataFrame([(5, 30), (7, 1)], ["doc_id", "rank"])
        top = rrf_fuse([a, b], k=60, top=1).collect()[0]
        assert top["doc_id"] == 5  # 2/90 > 1/61


class TestKnDocScore:
    def test_hand_computed_self_scored(self, spark):
        """One-doc corpus 'a b a b a c': every bigram is in-model, so
        kn_num/kn_den must equal the c1-weighted mean of the exact
        hand-computed KN probabilities."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_doc_score,
        )

        df = spark.createDataFrame([(1, "a b a b a c")], ["doc_id", "text"])
        r = kn_doc_score(df).collect()[0]
        assert r["n_bigrams"] == 5 and r["n_oov"] == 0
        # probabilities: p(b|a) twice, p(a|b) twice, p(c|a) once; all
        # contexts here have c1 = 3 (a) or 2 (b); N = 3 types
        p_ab = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3)
        p_ba = (2 - 0.75) / 2 + (0.75 * 1 / 2) * (1 / 3)
        p_ac = (1 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3)
        num = 2 * (4 * 3 * 3) * p_ab + 2 * (4 * 3 * 2) * p_ba + (4 * 3 * 3) * p_ac
        den = 2 * (4 * 3 * 3) + 2 * (4 * 3 * 2) + (4 * 3 * 3)
        assert abs(r["kn_score"] - num / den) < 1e-12
        assert r["kn_den"] == den

    def test_oov_and_backoff_paths(self, spark):
        """Score a doc against a model trained on OTHER text: novel
        contexts count as OOV; a seen-context/unseen-pair bigram gets
        only the backoff mass (positive, below any seen pair's p)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_doc_score,
        )

        train = spark.createDataFrame([(1, "a b a c")], ["doc_id", "text"])
        score = spark.createDataFrame(
            [(2, "a b"), (3, "a a"), (4, "q z")], ["doc_id", "text"]
        )
        rows = {r["doc_id"]: r for r in kn_doc_score(score, train=train).collect()}
        assert rows[2]["n_oov"] == 0  # seen pair
        assert rows[3]["n_oov"] == 0  # seen context 'a', unseen pair 'a a'
        assert rows[4]["n_oov"] == 1 and rows[4]["kn_score"] is None  # OOV ctx
        assert 0 < rows[3]["kn_score"] < rows[2]["kn_score"] <= 1.0

    def test_en_trained_separates_languages(self, spark, docs, sf_dir):
        """The registered query's CCNet signal: averaged over the
        fixture, 'en' docs score higher under the en-trained LM than
        'zh' docs (disjoint scripts → mostly backoff/OOV)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_doc_score,
        )

        scored = kn_doc_score(docs, train=docs.filter(F.col("lang") == "en"))
        by_lang = {
            r["lang"]: r
            for r in scored.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(
                F.avg("kn_score").alias("avg_score"),
                F.avg(F.col("n_oov") / F.col("n_bigrams")).alias("oov_frac"),
            )
            .collect()
        }
        for lang, r in by_lang.items():
            if lang != "en":
                assert by_lang["en"]["avg_score"] > r["avg_score"], lang
                # the synthetic fixture shares one token vocabulary
                # across langs, so OOV can only tie, never invert
                assert by_lang["en"]["oov_frac"] <= r["oov_frac"], lang

    def test_ccnet_buckets_per_lang_ntile(self, spark, docs):
        """Per-language NTILE invariants: within each language bucket
        sizes differ by at most one, earlier buckets are never smaller,
        and every bucket-1 (head) score >= every bucket-3 (tail) score
        in the same language."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            ccnet_perplexity_buckets,
        )

        out = ccnet_perplexity_buckets(
            docs, train=docs.filter(F.col("lang") == "en"), n_buckets=3
        )
        per = (
            out.groupBy("lang", "bucket")
            .agg(
                F.count("*").alias("n"),
                F.min("kn_score").alias("lo"),
                F.max("kn_score").alias("hi"),
            )
            .collect()
        )
        by_lang: dict = {}
        for r in per:
            by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
        assert by_lang
        for lang, b in by_lang.items():
            sizes = [b[i]["n"] for i in sorted(b)]
            assert max(sizes) - min(sizes) <= 1, lang
            assert sizes == sorted(sizes, reverse=True), lang  # extras go first
            if 1 in b and 3 in b:
                assert b[1]["lo"] >= b[3]["hi"], lang  # head >= tail


class TestClassifierTrain:
    def test_separable_corpus_learns_perfect_gate(self, spark):
        """Two disjoint vocabularies: the trained gate must separate
        them essentially perfectly at threshold 0, and the loss curve
        must fall monotonically (the preconditioned-Newton stability
        bound lr <= 0.25)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            classifier_train,
            hashed_classifier_score,
        )

        rows = []
        for i in range(40):
            rows.append((i, " ".join(f"good{j}" for j in range(8)), 1))
            rows.append((100 + i, " ".join(f"bad{j}" for j in range(8)), 0))
        docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
        w, b, losses = classifier_train(docs, "label", iterations=25, lr=0.25)
        assert all(
            losses[i + 1] <= losses[i] + 1e-9 for i in range(len(losses) - 1)
        ), losses
        assert losses[-1] < 0.2 < losses[0]
        got = {
            r["doc_id"]: r["passes"]
            for r in hashed_classifier_score(docs, weights=w, bias=b).collect()
        }
        acc = sum(
            1 for (i, _t, y) in rows if got[i] == bool(y)
        ) / len(rows)
        assert acc >= 0.95, acc

    def test_corpus_touched_once_then_iterates_on_features(self, spark):
        """Training must not rescan text per iteration: hashed_features
        output is bounded by min(tokens, buckets) rows per doc, and
        feeding classifier_train a pre-exploded corpus twice the size
        only changes constants, not the loop structure.  Structural
        pin: the feature table row count is what the docstring bounds."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            hashed_features,
        )

        docs = spark.createDataFrame(
            [(1, " ".join(["tok"] * 500)), (2, " ".join(f"w{i}" for i in range(500)))],
            "doc_id long, text string",
        )
        n = hashed_features(docs, n_buckets=64).groupBy("doc_id").count().collect()
        counts = {r["doc_id"]: r["count"] for r in n}
        assert counts[1] == 1          # 500 copies of one token -> one bucket
        assert counts[2] <= 64         # 500 distinct tokens -> <= n_buckets

    def test_trained_weights_flow_into_inference_twin(self, spark):
        """hashed_classifier_score(weights=...) must reproduce the
        training-time logit exactly (same bucketing, same mean pooling)
        — the contract that lets a gate trained here score 100 TB with
        the oracle-checked inference plan."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            classifier_train,
            hashed_classifier_score,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta", 1), (2, "gamma delta", 0), (3, "alpha delta", 1)],
            "doc_id long, text string, label int",
        )
        w, b, _ = classifier_train(docs, "label", iterations=5, lr=0.25)
        logits = {
            r["doc_id"]: r["logit"]
            for r in hashed_classifier_score(docs, weights=w, bias=b).collect()
        }
        # recompute doc 1's logit by hand from the returned model
        from textract_farmdata_pipeline_spark.operators.corpus import md5_bucket
        hand = spark.createDataFrame([("alpha",), ("beta",)], "t string").select(
            md5_bucket(F.col("t"), 256, seed="qc|").alias("b")
        ).collect()
        expect = b + sum(w[r["b"]] for r in hand) / 2
        assert abs(logits[1] - expect) < 1e-12

    def test_bad_weight_length_raises(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            hashed_classifier_score,
        )

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            hashed_classifier_score(docs, weights=[0.0] * 10)


class TestHardNegatives:
    def test_band_semantics(self, spark):
        """Neighbors at/above the near-dup bound are excluded, below-lo
        excluded, in-band kept and ranked by cosine desc."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            hard_negatives,
        )

        rows = [
            (0, [1.0, 0.0]),            # query
            (1, [1.0, 0.0]),            # cosine 1.0 — near-dup, excluded
            (2, [1.0, 0.4]),            # cosine ~0.93 — above hi, excluded
            (3, [1.0, 1.0]),            # cosine ~0.71 — in band
            (4, [0.5, 1.0]),            # cosine ~0.45 — below lo, excluded
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = hard_negatives(
            df, df.filter(F.col("vec_id") == 0), lo=0.5, hi=0.9, k=5
        ).collect()
        assert [(r["neighbor_id"], r["rank"]) for r in got] == [(3, 1)]

    def test_disjoint_from_near_dup_band(self, spark, emb):
        """The mined negatives must all fall strictly below the repo's
        0.4 near-dup threshold — no false negatives by construction."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            hard_negatives,
        )

        got = hard_negatives(
            emb, emb.filter(F.col("vec_id") < 5), lo=0.15, hi=0.4, k=5
        ).collect()
        assert got and all(0.15 <= r["cosine"] < 0.4 for r in got)


class TestBm25MaxP:
    def test_equals_doc_bm25_when_docs_fit_one_chunk(self, spark):
        """chunk_size >= every doc length -> the passage collection IS
        the document collection, so MaxP scores equal document BM25
        exactly (same stats, same components)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            bm25_maxp,
            bm25_topk,
        )

        rows = [
            (1, "hash scan merge join"),
            (2, "hash hash filter sort"),
            (3, "group order window limit"),
            (4, "scan scan scan probe"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        terms = ("hash", "scan")
        maxp = {
            r["doc_id"]: r["bm25_maxp"]
            for r in bm25_maxp(df, terms, chunk_size=64, k=10).collect()
        }
        doc = {
            r["doc_id"]: r["bm25"]
            for r in bm25_topk(df, terms, k=10).collect()
        }
        assert maxp == doc and set(maxp) == {1, 2, 4}

    def test_concentration_beats_dilution(self, spark):
        """MaxP's point: a doc whose best PASSAGE is term-dense must
        outrank a longer doc with the same total term count diluted
        one-per-chunk."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            bm25_maxp,
        )

        filler = lambda n, tag: " ".join(f"{tag}{i:02d}" for i in range(n))
        dense = f"hash hash hash {filler(5, 'd')}"            # one hot chunk
        diluted = " ".join(f"hash {filler(7, f'x{c}')}" for c in range(3))
        df = spark.createDataFrame(
            [(1, dense), (2, diluted)], "doc_id long, text string"
        )
        got = bm25_maxp(df, ("hash",), chunk_size=8, k=2).collect()
        assert got[0]["doc_id"] == 1


class TestPortableMathTwins:
    """Pure-Python reference twins of the portable md5 math: the Spark
    operators must reproduce these EXACTLY (integer/bit equality), the
    same contract the DuckDB oracles check from the SQL side."""

    @staticmethod
    def _md5_32(seed: str, key) -> int:
        import hashlib

        return int(hashlib.md5(f"{seed}{key}".encode()).hexdigest()[:8], 16)

    def test_hll_registers_match_python(self, spark):
        from textract_farmdata_pipeline_spark.operators.approx import hll_registers

        keys = list(range(123))
        want: dict[int, int] = {}
        import hashlib

        for k in keys:
            h = hashlib.md5(f"hll|{k}".encode()).hexdigest()
            reg = int(h[:8], 16) % 64
            w = int(h[8:16], 16)
            rho = 33 if w == 0 else 33 - w.bit_length()
            want[reg] = max(want.get(reg, 0), rho)
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        got = {
            r["register"]: r["max_rho"]
            for r in hll_registers(df, "k", m=64).collect()
        }
        assert got == want

    def test_bloom_words_match_python(self, spark):
        from textract_farmdata_pipeline_spark.operators.approx import bloom_build

        keys = list(range(50, 90))
        want: dict[int, int] = {}
        for k in keys:
            for i in range(4):
                pos = self._md5_32(f"bloom|{i}|", k) % 1024
                want[pos // 32] = want.get(pos // 32, 0) | (1 << (pos % 32))
        df = spark.createDataFrame([(k,) for k in keys], "key long")
        got = {
            r["word_id"]: r["bits"]
            for r in bloom_build(df, "key", m_bits=1024, k=4).collect()
        }
        assert got == want

    def test_kn_doc_score_matches_fraction_arithmetic(self, spark):
        """Exact rational reference: recompute kn_num/kn_den with
        Python ints from first principles (KN formula scaled by
        4·N·c1) on a corpus with seen pairs, backoff pairs, and an OOV
        context — the Spark BIGINT sums must match exactly."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_doc_score,
        )

        train_text = "a b a c b a"
        score_text = "a b b b q a"  # seen (a,b); unseen pair (b,b); OOV (q,a)? q unseen ctx
        # build reference stats
        tb = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "b"), ("b", "a")]
        pairs: dict = {}
        for w1, w2 in tb:
            pairs[(w1, w2)] = pairs.get((w1, w2), 0) + 1
        c1: dict = {}
        n1f: dict = {}
        n1b: dict = {}
        for (w1, w2), c in pairs.items():
            c1[w1] = c1.get(w1, 0) + c
            n1f[w1] = n1f.get(w1, 0) + 1
            n1b[w2] = n1b.get(w2, 0) + 1
        N = len(pairs)
        num = den = 0
        n_oov = 0
        doc_bigrams = [("a", "b"), ("b", "b"), ("b", "b"), ("b", "q"), ("q", "a")]
        for w1, w2 in doc_bigrams:
            if w1 not in c1:
                n_oov += 1
                continue
            backoff = 3 * n1f[w1] * n1b.get(w2, 0)
            if (w1, w2) in pairs:
                num += N * (4 * pairs[(w1, w2)] - 3) + backoff
            else:
                num += backoff
            den += 4 * N * c1[w1]
        train = spark.createDataFrame([(1, train_text)], "doc_id long, text string")
        score = spark.createDataFrame([(2, score_text)], "doc_id long, text string")
        r = kn_doc_score(score, train=train).collect()[0]
        assert (r["kn_num"], r["kn_den"], r["n_oov"]) == (num, den, n_oov)
        assert r["kn_score"] == num / den


class TestGroupedKmeans:
    def test_matches_per_group_training(self, spark):
        """Grouped Lloyd must produce the same codebook per group as
        training each group alone with kmeans_train (same seeds, same
        assignment/update rules) on well-separated data."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            kmeans_train,
            kmeans_train_grouped,
        )

        import math

        rows = []
        # group 0: two tight clusters on axes x and y; group 1: on -x, -y
        for i in range(20):
            e = 0.01 * (i % 5)
            rows.append((0, i, [1.0, e, 0.0]))
            rows.append((0, 100 + i, [e, 1.0, 0.0]))
            rows.append((1, 200 + i, [-1.0, -e, 0.0]))
            rows.append((1, 300 + i, [-e, -1.0, 0.0]))
        df = spark.createDataFrame(rows, "g int, rid long, v array<double>")
        grouped = kmeans_train_grouped(df, "g", k=2, max_iter=6)
        for g in (0, 1):
            solo, _ = kmeans_train(
                df.filter(F.col("g") == g).select(
                    F.col("rid").alias("vec_id"), F.col("v").alias("embedding")
                ),
                k=2,
                max_iter=6,
                persist=False,
            )
            for a, b in zip(grouped[g], solo):
                assert math.dist(a, b) < 1e-9, (g, a, b)

    def test_empty_input_returns_empty(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            kmeans_train_grouped,
        )

        df = spark.createDataFrame([], "g int, rid long, v array<double>")
        assert kmeans_train_grouped(df, "g", k=2) == {}


class TestCurriculumNtile:
    @staticmethod
    def _phases_via_registry(spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        return {
            r["phase"]: r["n_docs"]
            for r in QUERIES["doc_curriculum_phases"](spark, sf_dir).collect()
        }

    def test_closed_form_matches_sql_ntile(self, spark, sf_dir):
        """The distributed two-phase rank + closed-form bucket must
        equal plain NTILE(4) over the same total order — checked via
        Spark's own ntile on the same scored set (covers the
        n % 4 != 0 big-buckets-first rule at the fixture's n)."""
        from pyspark.sql.window import Window

        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            kn_doc_score,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        scored = kn_doc_score(docs, train=docs.filter(F.col("lang") == "en")).filter(
            F.col("kn_score").isNotNull()
        )
        want = {
            r["phase"]: r["n"]
            for r in scored.select(
                F.ntile(4)
                .over(Window.orderBy(F.asc("kn_score"), F.asc("doc_id")))
                .alias("phase")
            )
            .groupBy("phase")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        got = self._phases_via_registry(spark, sf_dir)
        assert got == want

    def test_ntile_closed_form_all_remainders(self, spark):
        """The closed-form bucket rule vs SQL NTILE for every n % 4:
        first (n mod 4) buckets get the extra row."""
        for n, want_sizes in [
            (8, [2, 2, 2, 2]),
            (9, [3, 2, 2, 2]),
            (10, [3, 3, 2, 2]),
            (11, [3, 3, 3, 2]),
        ]:
            q, r = divmod(n, 4)
            sizes = [0, 0, 0, 0]
            for rn in range(1, n + 1):
                big = r * (q + 1)
                if rn <= big:
                    phase = -(-rn // (q + 1))
                else:
                    phase = r + (-(-(rn - big) // max(q, 1)))
                sizes[phase - 1] += 1
            assert sizes == want_sizes, (n, sizes)


class TestSqAnn:
    """SQ8 scalar-quantization ANN: code bounds, the constant-dimension
    guard, shortlist recall with exact-cosine rerank, and exact parity
    with the DuckDB oracle (the driver's own comparison, pinned so a
    portability regression fails fast locally)."""

    def test_codes_bounds_and_constant_dim(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            sq_encode,
            sq_train,
        )

        rows = [
            (1, [0.0, 5.0, -2.0]),
            (2, [10.0, 5.0, 2.0]),
            (3, [5.0, 5.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        mins, maxs = sq_train(df)
        assert mins == [0.0, 5.0, -2.0] and maxs == [10.0, 5.0, 2.0]
        codes = {r["vec_id"]: r["codes"] for r in sq_encode(df, mins, maxs).collect()}
        # extremes land on 0 / 255; the constant dim (index 1) encodes 0
        assert codes[1] == [0, 0, 0]
        assert codes[2] == [255, 0, 255]
        assert codes[3][0] == 127 and codes[3][1] == 0
        assert all(0 <= c <= 255 for cs in codes.values() for c in cs)
        with pytest.raises(ValueError, match="mismatch"):
            sq_encode(df, mins, maxs[:2])

    def test_recall_and_exact_rerank(self, spark, emb):
        """Two-stage SQ recall vs brute force (measured 1.0 on the
        fixture with a 50-deep code-cosine shortlist — pin ≥ 0.9), and
        every returned cosine is the EXACT brute-force score."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.similarity import (
            cosine_topk,
            sq_topk,
        )

        q = emb.filter(F.col("vec_id") < 20)
        exact = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_topk(emb, q, k=emb.count()).collect()
        }
        truth: dict[int, set[int]] = {}
        for r in cosine_topk(emb, q, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        got: dict[int, set[int]] = {}
        for r in sq_topk(emb, q, k=5, shortlist=50).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            assert r["cosine"] == exact[(r["query_id"], r["neighbor_id"])]
        hits = sum(len(got.get(k_, set()) & t) for k_, t in truth.items())
        recall = hits / sum(len(t) for t in truth.values())
        assert recall >= 0.9, recall

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r) for r in QUERIES["embedding_sq_topk"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES["embedding_sq_topk"]).fetchall())
        assert srows == drows
        assert len(srows) == 100  # 20 queries x k=5


class TestSqIvf:
    """IVF-gated SQ8 (round-5 directive #1): recall vs the full
    compressed scan on clustered data, the pruned scan fraction, the
    no-cross-product plan, and exact DuckDB parity for the portable
    anchor-cell variant."""

    def _clustered(self, spark):
        def lcg(seed):
            x = seed
            while True:
                x = (1103515245 * x + 12345) % (1 << 31)
                yield x / (1 << 31)

        rnd = lcg(11)
        dim, n_clusters, per = 64, 12, 40
        centers = [
            [next(rnd) * 2 - 1 for _ in range(dim)] for _ in range(n_clusters)
        ]
        rows, vid = [], 0
        for c in centers:
            for _ in range(per):
                rows.append((vid, [x + (next(rnd) - 0.5) * 0.15 for x in c]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_recall_vs_full_scan_on_clustered_corpus(self, spark):
        """Recall >= 0.9 at n_probe=4 over 16 cells against the FULL
        sq_topk scan — on a corpus with cluster structure (the regime
        IVF exists for; the sf fixtures are near-uniform random)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            kmeans_train,
            sq_encode_ivf,
            sq_ivf_topk,
            sq_topk,
            sq_train,
        )

        df = self._clustered(spark)
        mins, maxs = sq_train(df)
        cents, _ = kmeans_train(df, k=16, max_iter=6)
        codes = sq_encode_ivf(df, mins, maxs, cents)
        queries = df.orderBy("vec_id").limit(10)
        full = sq_topk(df, queries, mins, maxs, k=10)
        gated = sq_ivf_topk(codes, cents, df, queries, mins, maxs, k=10, n_probe=4)
        truth = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
        got = {(r["query_id"], r["neighbor_id"]) for r in gated.collect()}
        assert len(truth) == 100
        recall = len(truth & got) / len(truth)
        assert recall >= 0.9, f"SQ-IVF recall {recall} < 0.9 at n_probe=4"

    def test_scan_fraction_is_pruned(self, spark, emb):
        """Rows entering the code-distance stage must be the probed
        cells' members only — ≈ n_probe/k_coarse of the corpus."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            centroid_scores,
            kmeans_train,
            sq_encode_ivf,
            sq_train,
            unit_vector,
            _probe_cells,
            _sq_gated_scan,
        )

        mins, maxs = sq_train(emb)
        cents, _ = kmeans_train(emb, k=16, max_iter=4)
        codes = sq_encode_ivf(emb, mins, maxs, cents)
        n_probe, nq = 4, 10
        queries = emb.orderBy("vec_id").limit(nq)
        cell_sizes = {
            r["cell"]: r["n"]
            for r in codes.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }
        total = sum(cell_sizes.values())
        probe = _probe_cells(
            queries,
            centroid_scores(F.col("embedding").cast("array<double>"), cents),
            n_probe,
            "vec_id",
        )
        scanned = sum(
            cell_sizes.get(r["cell"], 0) for r in probe.collect()
        )
        frac = scanned / (total * nq)
        assert frac < 0.55, f"probed scan fraction {frac} — cells too unbalanced"
        # and the candidate rows actually scored equal the probed-cell
        # membership minus self-matches — the gate is the join, not a
        # post-filter over a full scan
        from textract_farmdata_pipeline_spark.operators.similarity import sq_encode

        q_codes = sq_encode(queries, mins, maxs).select(
            F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
        )
        n_scored = _sq_gated_scan(codes, probe, q_codes).count()
        assert n_scored <= scanned

    def test_gated_plan_joins_on_cell_not_cross(self, spark, emb):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            kmeans_train,
            sq_encode_ivf,
            sq_ivf_topk,
            sq_train,
        )

        mins, maxs = sq_train(emb)
        cents, _ = kmeans_train(emb, k=16, max_iter=2)
        codes = sq_encode_ivf(emb, mins, maxs, cents)
        queries = emb.orderBy("vec_id").limit(3)
        plan = sq_ivf_topk(
            codes, cents, emb, queries, mins, maxs, k=5, n_probe=4
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan

    def test_portable_matches_oracle(self, spark, sf_dir):
        """Exact DuckDB parity for the anchor-cell gated scan — the
        driver's own hash comparison, pinned locally so a portability
        regression in ANY stage (bounds, codes, cell argmax, probe
        ranking, pruned candidates, rerank) fails fast."""
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["embedding_sq_ivf_portable"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES["embedding_sq_ivf_portable"]).fetchall())
        assert srows == drows
        assert len(srows) == 100  # 20 queries x k=5

    def test_portable_prunes_vs_full_sq(self, spark, emb):
        """The portable gate really prunes: rebuild the candidate set
        with the same stages ``sq_ivf_topk_portable`` composes and
        check every scored (query, neighbor) lies in a probed cell —
        the scored count is bounded by the probed-cell mass and
        strictly below the full |corpus|·|queries| cross size."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            _anchor_cell_scores,
            _probe_cells,
            _sq_gated_scan,
            sq_anchor_codes,
            sq_encode,
            sq_train,
        )

        mins, maxs = sq_train(emb)
        anchors = sq_anchor_codes(emb, mins, maxs, k_coarse=16)
        assert len(anchors) == 16
        assert all(len(a) == 64 for a in anchors)

        enc = sq_encode(emb, mins, maxs)
        codes = enc.select(
            "vec_id",
            F.array_position(
                (sc := _anchor_cell_scores(F.col("codes"), anchors)),
                F.array_max(sc),
            ).cast("int").alias("cell"),
            "codes",
        )
        n_q = 8
        q_enc = sq_encode(emb.orderBy("vec_id").limit(n_q), mins, maxs)
        probe = _probe_cells(
            q_enc, _anchor_cell_scores(F.col("codes"), anchors), 4, "vec_id"
        )
        q_codes = q_enc.select(
            F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
        )
        n_scored = _sq_gated_scan(codes, probe, q_codes).count()
        cell_sizes = {
            r["cell"]: r["n"]
            for r in codes.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }
        allowed = sum(cell_sizes.get(r["cell"], 0) for r in probe.collect())
        assert 0 < n_scored <= allowed
        assert n_scored < emb.count() * n_q


class TestPqAdc:
    """Frozen-codebook portable PQ ADC: exact DuckDB parity (the
    driver's hash check, pinned locally) and retrieval quality on
    clustered data (the frozen md5-sample codebook must still rank
    near-cluster neighbors first, or the portability win is moot)."""

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r) for r in QUERIES["embedding_pq_adc"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES["embedding_pq_adc"]).fetchall())
        assert srows == drows
        assert len(srows) == 100

    def test_quality_on_clustered_corpus(self, spark):
        """The honest contract of a frozen SAMPLE codebook (vs Lloyd
        training): within a tight cluster the quantization error
        exceeds the gap between the 10th and 40th neighbor, so exact
        top-10 membership is NOT promised.  What is promised — and
        pinned here on a 12-cluster corpus — is coarse retrieval:
        (a) ≥ 0.9 of ADC top-10 results come from the query's own
        40-member cluster, and (b) an ADC shortlist of 50 captures
        ≥ 0.9 of the exact cosine top-10, i.e. ADC + exact rerank
        (the sq_topk recipe) restores near-exact retrieval."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            cosine_topk,
            pq_adc_topk_portable,
        )

        df = TestSqIvf._clustered(TestSqIvf(), spark)
        queries = df.orderBy("vec_id").limit(10)
        per = 40  # planted cluster size; vec_id // per = cluster id
        top10 = pq_adc_topk_portable(df, queries, m=8, ks=16, k=10).collect()
        assert len(top10) == 100
        in_cluster = sum(
            1 for r in top10 if r["neighbor_id"] // per == r["query_id"] // per
        )
        assert in_cluster / len(top10) >= 0.9, f"cluster hit {in_cluster}/100"
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(df, queries, k=10).collect()
        }
        short = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_adc_topk_portable(df, queries, m=8, ks=16, k=50).collect()
        }
        capture = len(truth & short) / len(truth)
        assert capture >= 0.9, f"shortlist-50 capture {capture}"

    def test_ivf_gated_matches_oracle(self, spark, sf_dir):
        """The gated IVFADC twin: DuckDB replays cell assignment AND
        the pruned candidate set — a pruning regression (scanning the
        wrong cells) hash-mismatches, not just a scoring one."""
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["embedding_pq_ivf_portable"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(
            con.execute(ORACLES["embedding_pq_ivf_portable"]).fetchall()
        )
        assert srows == drows
        assert len(srows) == 100

    def test_ivf_gated_recall_vs_full_adc(self, spark):
        """On clustered data the n_probe=4/16 gate keeps ≥ 0.9 of the
        full portable ADC scan's top-10 — the IVF recall property for
        the frozen composition (mirrors TestIvfAdc for trained PQ)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            pq_adc_ivf_topk_portable,
            pq_adc_topk_portable,
        )

        df = TestSqIvf._clustered(TestSqIvf(), spark)
        queries = df.orderBy("vec_id").limit(10)
        full = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_adc_topk_portable(df, queries, m=8, ks=16, k=10).collect()
        }
        gated = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_adc_ivf_topk_portable(
                df, queries, m=8, ks=16, k=10, n_probe=4
            ).collect()
        }
        assert len(full) == 100
        recall = len(full & gated) / len(full)
        assert recall >= 0.9, f"gated-vs-full ADC recall {recall}"

    def test_codebook_shape_and_determinism(self, spark, emb):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            pq_anchor_codebooks,
        )

        b1 = pq_anchor_codebooks(emb, m=8, ks=16)
        b2 = pq_anchor_codebooks(emb, m=8, ks=16)
        assert b1 == b2  # byte-deterministic: literals can be re-injected
        assert len(b1) == 8 and all(len(b) == 16 for b in b1)
        assert all(len(c) == 8 for b in b1 for c in b)


class TestJaccardPrefixJoin:
    """Prefix-filtered exact Jaccard self-join: equals brute force on
    adversarial fixtures (threshold-boundary pairs, size-ratio edges),
    and matches the DuckDB oracle on the corpus fixture."""

    def _brute(self, rows, t):
        out = set()
        for i, (ida, sa) in enumerate(rows):
            for idb, sb in rows[i + 1 :]:
                a, b = set(sa), set(sb)
                if not a or not b:
                    continue
                j = len(a & b) / len(a | b)
                if j >= t:
                    out.add((min(ida, idb), max(ida, idb), round(j, 9)))
        return out

    @pytest.mark.parametrize("t", [0.5, 0.8])
    def test_matches_brute_force(self, spark, t):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            jaccard_prefix_join,
        )

        w = [f"w{i}" for i in range(9)]
        docs = [
            (1, " ".join(w)),                          # 9 tokens
            (2, " ".join(w[:8] + ["x1"])),             # J(1,2)=8/10=0.8 exact
            (3, " ".join(w[:7] + ["x2", "x3"])),       # J(1,3)=7/11≈0.64
            (4, " ".join(w)),                          # exact dup of 1
            (5, "w0 w1 w2"),                           # small set, size filter
            (6, "w0 w1 w2 w3"),                        # J(5,6)=3/4=0.75
            (7, "zz"),                                 # singleton
            (8, "zz"),                                 # J(7,8)=1.0
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in jaccard_prefix_join(df, threshold=t, shingle_n=1).collect()
        }
        toks = [(i, txt.split(" ")) for i, txt in docs]
        assert got == self._brute(toks, t)

    def test_boundary_pair_included(self, spark):
        """A pair at exactly J == t survives the ceil-based prefix and
        the length filter (the two places an off-by-one would drop it)."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            jaccard_prefix_join,
        )

        w = [f"w{i}" for i in range(8)]
        df = spark.createDataFrame(
            [(1, " ".join(w + ["a1"])), (2, " ".join(w + ["b1"]))],
            "doc_id long, text string",
        )
        rows = jaccard_prefix_join(df, threshold=0.8, shingle_n=1).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]
        assert rows[0]["jaccard"] == 0.8

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r) for r in QUERIES["dedup_jaccard_prefix"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["dedup_jaccard_prefix"]).fetchall())
        assert srows == drows and srows

    def test_float_boundary_threshold_not_dropped(self, spark):
        """Review regression: fl(0.07·100) = 7.000000000000001, so a
        naive ceil/length-filter drops the J = 7/100 = 0.07 pair that
        exact verification accepts.  The epsilon-slackened prefix and
        length filter must keep it."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            jaccard_prefix_join,
        )

        common = [f"c{i}" for i in range(7)]
        filler = [f"f{i}" for i in range(93)]
        df = spark.createDataFrame(
            [(1, " ".join(common + filler)), (2, " ".join(common))],
            "doc_id long, text string",
        )
        rows = jaccard_prefix_join(df, threshold=0.07, shingle_n=1).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]
        assert rows[0]["jaccard"] == 0.07

    def test_clusters_linear_and_exact(self, spark, docs):
        """The product twin: one output row per input doc; exact
        duplicates share a cluster; pairs above threshold land in one
        cluster (edges are the TRUE J >= t graph, not an LSH sample)."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.dedup import (
            jaccard_prefix_clusters,
            jaccard_prefix_join,
        )

        n = docs.count()
        out = jaccard_prefix_clusters(docs, threshold=0.8, shingle_n=3)
        rows = out.collect()
        assert len(rows) == n
        cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
        # every exact-dup pair must co-cluster
        for grp in (
            docs.groupBy("text")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") > 1)
            .collect()
        ):
            ids = grp["ids"]
            assert len({cluster[i] for i in ids}) == 1
        # every true J>=0.8 pair must co-cluster
        for r in jaccard_prefix_join(docs, threshold=0.8, shingle_n=3).collect():
            assert cluster[r["doc_a"]] == cluster[r["doc_b"]]

    def test_clusters_match_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["dedup_jaccard_clusters"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["dedup_jaccard_clusters"]).fetchall())
        assert srows == drows and srows


class TestContainmentJoin:
    """Directional set-containment near-dup: exact vs brute force on
    excerpt/truncation fixtures (the pairs Jaccard structurally
    misses), linear cover map vs the per-doc argmax, DuckDB parity."""

    def _brute(self, rows, t):
        out = set()
        for ida, sa in rows:
            for idb, sb in rows:
                if ida == idb:
                    continue
                a, b = set(sa), set(sb)
                if not a:
                    continue
                c = len(a & b) / len(a)
                if c >= t:
                    out.add((ida, idb, round(c, 9)))
        return out

    @pytest.mark.parametrize("t", [0.5, 0.8])
    def test_matches_brute_force(self, spark, t):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            containment_prefix_join,
        )

        w = [f"w{i}" for i in range(10)]
        docs = [
            (1, " ".join(w)),                     # the "big" doc
            (2, " ".join(w[:8])),                 # excerpt: C(2→1)=1.0, C(1→2)=0.8
            (3, " ".join(w[:4] + ["x1"])),        # C(3→1)=0.8 exact boundary
            (4, " ".join(w)),                     # exact dup of 1
            (5, "zz yy"),                         # disjoint
            (6, " ".join(w[:2] + ["zz", "yy"])),  # C(6→1)=0.5 boundary
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"], round(r["containment"], 9))
            for r in containment_prefix_join(df, threshold=t, shingle_n=1).collect()
        }
        toks = [(i, txt.split(" ")) for i, txt in docs]
        assert got == self._brute(toks, t)

    def test_catches_excerpt_jaccard_misses(self, spark):
        """The motivating case: a 10-token excerpt of a 100-token doc
        has containment 1.0 but Jaccard 0.1 — the directional join
        finds it at 0.8 while the symmetric join cannot."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            containment_prefix_join,
            jaccard_prefix_join,
        )

        big = [f"w{i}" for i in range(100)]
        df = spark.createDataFrame(
            [(1, " ".join(big)), (2, " ".join(big[:10]))],
            "doc_id long, text string",
        )
        cont = containment_prefix_join(df, threshold=0.8, shingle_n=1).collect()
        assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in cont] == [
            (2, 1, 1.0)
        ]
        assert jaccard_prefix_join(df, threshold=0.8, shingle_n=1).count() == 0

    def test_cover_map_linear_and_correct(self, spark):
        """One row per covered doc under duplication; rep covers
        members (1.0), the rep itself is covered by the second-smallest
        member; argmax equals brute force over all ordered pairs."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            containment_cover_map,
        )

        w = [f"w{i}" for i in range(10)]
        docs = [
            (1, " ".join(w)),
            (4, " ".join(w)),        # dup group {1, 4, 9}
            (9, " ".join(w)),
            (2, " ".join(w[:8])),    # excerpt of the group text
            (5, "zz yy"),            # uncovered
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["covered_by"], round(r["containment"], 9))
            for r in containment_cover_map(df, threshold=0.8, shingle_n=1).collect()
        }
        # brute-force argmax (containment desc, id asc), threshold 0.8
        toks = {i: set(t.split(" ")) for i, t in docs}
        expect = {}
        for a in toks:
            best = None
            for b in toks:
                if a == b or not toks[a]:
                    continue
                c = len(toks[a] & toks[b]) / len(toks[a])
                if best is None or (-c, b) < (-best[1], best[0]):
                    best = (b, c)
            if best and best[1] >= 0.8:
                expect[a] = (best[0], round(best[1], 9))
        assert got == expect
        assert 5 not in got and got[4] == (1, 1.0) and got[1] == (4, 1.0)

    def test_excerpt_drop_rule_and_survivor_guarantee(self, spark):
        """The corpus-build removal stage: a doc drops iff covered
        ≥ t by a doc strictly above it in the (set size ASC, id DESC)
        order — excerpts drop while their source survives, mutual
        covers keep the smaller id, and every cover cluster keeps at
        least one member.  Equals the brute-force rule."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            containment_excerpt_drop,
        )

        w = [f"w{i}" for i in range(10)]
        docs = [
            (1, " ".join(w)),                # big doc — survives
            (2, " ".join(w[:8])),            # excerpt of 1 → drops
            (3, " ".join(w[:8]) + " w7"),    # same SET as 2, bigger id → drops
            (5, "zz yy"),                    # disjoint — survives
            (7, " ".join(w[2:] + w[:2])),    # same set as 1, reordered → drops (id 1 wins)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]
            for r in containment_excerpt_drop(df, threshold=0.8, shingle_n=1).collect()
        }
        toks = {i: set(t.split(" ")) for i, t in docs}
        expect = set()
        for a in toks:
            for b in toks:
                if a == b:
                    continue
                c = len(toks[a] & toks[b]) / len(toks[a])
                above = (len(toks[b]), -b) > (len(toks[a]), -a)
                if c >= 0.8 and above:
                    expect.add(a)
        assert got == expect == {2, 3, 7}
        # survivor guarantee: the order-maximal doc of the cover
        # cluster (doc 1) and the disjoint doc are kept
        assert {1, 5} & got == set()

    def test_pair_and_map_match_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        for q in ("dedup_containment_prefix", "dedup_containment_map"):
            srows = sorted(tuple(r) for r in QUERIES[q](spark, sf_dir).collect())
            drows = sorted(con.execute(ORACLES[q]).fetchall())
            assert srows == drows and srows, q


class TestSourceOverlap:
    def test_known_overlap(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            source_shingle_overlap,
        )

        df = spark.createDataFrame(
            [
                (1, "a b c d", "s1"),
                (2, "c d e f", "s2"),   # shares shingles with s1 and s3
                (3, "e f g h", "s3"),   # shares with s2 only
                (4, "x y z q", "s4"),   # disjoint
            ],
            "doc_id long, text string, source string",
        )
        rows = {
            (r["source_a"], r["source_b"]): (r["n_shared"], r["containment"])
            for r in source_shingle_overlap(df, shingle_n=1).collect()
        }
        # each source has 4 distinct unigram shingles; s1∩s2 = {c,d}
        assert rows[("s1", "s2")] == (2, 0.5)
        assert rows[("s2", "s1")] == (2, 0.5)
        assert rows[("s2", "s3")] == (2, 0.5)
        assert ("s1", "s3") not in rows  # no shared shingle → no row
        assert not any("s4" in k for k in rows)

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["corpus_source_overlap"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["corpus_source_overlap"]).fetchall())
        assert srows == drows and srows


class TestIvfIngestDelta:
    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["embedding_ivf_ingest_delta"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES["embedding_ivf_ingest_delta"]).fetchall())
        assert srows == drows and srows

    def test_quantizer_frozen_and_hot_flag(self, spark, emb):
        """Bounds/anchors come from the existing side only: adding an
        out-of-range batch must not change existing assignments, batch
        codes clamp into the existing code space, and a batch aimed at
        one cell trips (only) that cell's hot flag."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_ingest_delta,
        )

        existing = emb
        base = ivf_ingest_delta(existing, existing.limit(0), k_coarse=8)
        before = {r["cell"]: r["n_before"] for r in base.collect()}

        # batch = 30 copies of one existing vector, ids shifted, values
        # scaled 100× out of the trained range (clamping exercises the
        # frozen bounds; direction is preserved so they land in one cell)
        one = emb.orderBy("vec_id").limit(1)
        batch = (
            one.crossJoin(spark.range(30).select(F.col("id").alias("_r")))
            .select(
                (F.col("vec_id") + F.col("_r") + 1_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: x * 100.0).alias("embedding"),
            )
        )
        out = ivf_ingest_delta(existing, batch, k_coarse=8).collect()
        after = {r["cell"]: r["n_before"] for r in out}
        assert after == before  # frozen quantizer: existing side unmoved
        added = {r["cell"]: r["n_added"] for r in out}
        assert sum(added.values()) == 30
        hot = [r["cell"] for r in out if r["hot"]]
        concentrated = [c for c, n in added.items() if n == 30]
        assert len(concentrated) == 1 and hot == concentrated


class TestIvfHotSplit:
    """The maintenance ACTION: hot cells actually split.  Shared
    invariants for the hash-checked anchor variant and the
    Lloyd-trained quality variant: membership conservation, cold
    posting lists untouched, splits only where the growth rule fired,
    and (Lloyd) sub-assignment equal to a from-scratch grouped
    re-clustering of the same members at the same k."""

    def _natural_split(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.dedup import md5_long

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        bucket = F.pmod(md5_long(F.col("vec_id").cast("string"), "ingest|"), F.lit(5))
        return emb, emb.filter(bucket != 0), emb.filter(bucket == 0)

    def _hot_batch(self, spark, existing, n_copies=60):
        """A batch concentrated on one point's direction: noise-free
        copies of one existing vector with fresh ids — whatever the
        quantizer, they land in ONE cell and trip the 2×-fair-share
        rule (n_copies ≫ 2 · total/k_coarse)."""
        one = existing.orderBy("vec_id").limit(1)
        return one.crossJoin(
            spark.range(n_copies).select(F.col("id").alias("_r"))
        ).select(
            (F.col("vec_id") + F.col("_r") + 1_000_000).alias("vec_id"),
            "embedding",
        )

    def _check_shape(self, rows, n, sum_ids):
        # membership conservation: counts and the exact id checksum
        assert sum(r["n_members"] for r in rows) == n
        assert sum(r["sum_vec_id"] for r in rows) == sum_ids
        # a cell is either one untouched list (sub_cell 0) or >= 2
        # sub-lists — never a mix, never a 1-way "split"
        by_cell: dict[int, list[int]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], []).append(r["sub_cell"])
        split_cells = 0
        for cell, subs in by_cell.items():
            if subs == [0]:
                continue
            assert 0 not in subs and len(subs) >= 2, (cell, subs)
            split_cells += 1
        return split_cells

    def test_anchor_conservation_and_split_on_natural_ingest(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_hot_cell_split,
        )

        emb, existing, batch = self._natural_split(spark, sf_dir)
        rows = ivf_hot_cell_split(existing, batch, k_coarse=16, k_split=4).collect()
        n, sum_ids = emb.count(), emb.agg(F.sum("vec_id")).first()[0]
        # md5-anchor cells are unbalanced enough that the natural 20%
        # ingest trips the rule (the case the driver oracle replays)
        assert self._check_shape(rows, n, sum_ids) >= 1

    def test_refined_split_conserves_and_keeps_cold_lists(self, spark, sf_dir):
        """refine=True: same conservation/shape contract, identical
        cold lists (the refine touches only hot-cell sub-assignment),
        and per-hot-cell member totals unchanged — the quantized Lloyd
        step moves members BETWEEN sub-lists, never across cells."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_hot_cell_split,
        )

        emb, existing, batch = self._natural_split(spark, sf_dir)
        frozen = ivf_hot_cell_split(existing, batch, k_coarse=16, k_split=4).collect()
        refined = ivf_hot_cell_split(
            existing, batch, k_coarse=16, k_split=4, refine=True
        ).collect()
        n, sum_ids = emb.count(), emb.agg(F.sum("vec_id")).first()[0]
        assert self._check_shape(refined, n, sum_ids) >= 1
        cold_f = {r["cell"]: (r["n_members"], r["sum_vec_id"])
                  for r in frozen if r["sub_cell"] == 0}
        cold_r = {r["cell"]: (r["n_members"], r["sum_vec_id"])
                  for r in refined if r["sub_cell"] == 0}
        assert cold_f == cold_r
        hot_f: dict[int, list[int]] = {}
        hot_r: dict[int, list[int]] = {}
        for r in frozen:
            if r["sub_cell"]:
                hot_f[r["cell"]] = [
                    hot_f.get(r["cell"], [0, 0])[0] + r["n_members"],
                    hot_f.get(r["cell"], [0, 0])[1] + r["sum_vec_id"],
                ]
        for r in refined:
            if r["sub_cell"]:
                hot_r[r["cell"]] = [
                    hot_r.get(r["cell"], [0, 0])[0] + r["n_members"],
                    hot_r.get(r["cell"], [0, 0])[1] + r["sum_vec_id"],
                ]
        assert hot_f == hot_r  # per-cell totals conserved through refine

    def test_kmeans_conservation_and_forced_split(self, spark, sf_dir):
        """Lloyd cells are balanced, so a uniform ingest trips nothing
        — drive a concentrated batch (60 copies of one direction) at
        the index and require exactly that cell to split."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_hot_cell_split_kmeans,
        )

        emb, existing, _ = self._natural_split(spark, sf_dir)
        batch = self._hot_batch(spark, existing)
        rows = ivf_hot_cell_split_kmeans(
            existing, batch, k_coarse=16, k_split=4
        ).collect()
        n = existing.count() + 60
        sum_ids = (
            existing.agg(F.sum("vec_id")).first()[0]
            + batch.agg(F.sum("vec_id")).first()[0]
        )
        assert self._check_shape(rows, n, sum_ids) == 1

    def test_kmeans_split_equals_fresh_regroup(self, spark, sf_dir):
        """Rebuild equality within Lloyd's limits: re-running the
        maintenance from scratch on the same data (same deterministic
        seeding, same k) reproduces the maintained posting lists
        exactly — membership checksums and all."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_hot_cell_split_kmeans,
        )

        _, existing, _ = self._natural_split(spark, sf_dir)
        batch = self._hot_batch(spark, existing)
        rows1 = ivf_hot_cell_split_kmeans(
            existing, batch, k_coarse=16, k_split=4
        ).collect()
        rows2 = ivf_hot_cell_split_kmeans(
            existing, batch, k_coarse=16, k_split=4
        ).collect()
        assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))
        assert any(r["sub_cell"] > 0 for r in rows1)

    def test_kmeans_split_membership_overlaps_independent_rebuild(
        self, spark, sf_dir
    ):
        """The r07-verdict invariant, pinned numerically: the
        maintained sub-assignment of a split cell's members must agree
        with an INDEPENDENT from-scratch k-means of those same members
        at the same k — not just with a rerun of the identical code
        path.  Agreement is pair-counting (Rand index: member pairs
        co-clustered in both or separated in both), which is
        label-permutation-invariant; floor pinned at 0.80.  The
        maintained labels are derived through the same public pieces
        the operator composes (kmeans_train → hot rule →
        kmeans_train_grouped → nearest_cell) and cross-checked against
        the operator's posting rows so the twin cannot drift."""
        from collections import Counter
        from itertools import combinations

        from textract_farmdata_pipeline_spark.operators.checkpoints import (
            tracked_local_checkpoint,
        )
        from textract_farmdata_pipeline_spark.operators.similarity import (
            _as_double,
            centroid_scores,
            ivf_hot_cell_split_kmeans,
            kmeans_train,
            kmeans_train_grouped,
            nearest_cell,
        )

        _, existing, _ = self._natural_split(spark, sf_dir)
        batch = self._hot_batch(spark, existing)
        op_rows = ivf_hot_cell_split_kmeans(
            existing, batch, k_coarse=16, k_split=4
        ).collect()
        split_cells = {r["cell"] for r in op_rows if r["sub_cell"] > 0}
        assert len(split_cells) == 1
        hot_cell = split_cells.pop()

        # maintained labels via the operator's own public composition
        cents, _ = kmeans_train(existing, k=16, max_iter=4)
        assigned = (
            existing.select("vec_id", _as_double(F.col("embedding")).alias("v"))
            .unionByName(
                batch.select("vec_id", _as_double(F.col("embedding")).alias("v"))
            )
            .withColumn(
                "cell", nearest_cell(centroid_scores(F.col("v"), cents)).cast("int")
            )
        )
        assigned, _ = tracked_local_checkpoint(assigned)
        hot_m = assigned.filter(F.col("cell") == hot_cell).select(
            "cell", "vec_id", "v"
        )
        sub_books = kmeans_train_grouped(
            hot_m, "cell", k=4, max_iter=4, vec_col="v", id_col="vec_id"
        )
        maintained = {
            r["vec_id"]: r["sub"]
            for r in hot_m.withColumn(
                "sub",
                nearest_cell(
                    centroid_scores(F.col("v"), sub_books[hot_cell])
                ).cast("int"),
            ).collect()
        }
        # the twin must reproduce the operator's posting histogram
        op_hist = sorted(
            r["n_members"] for r in op_rows if r["cell"] == hot_cell
        )
        assert sorted(Counter(maintained.values()).values()) == op_hist

        # independent rebuild: fresh Lloyd on ONLY the cell's members
        member_df = hot_m.select("vec_id", F.col("v").alias("embedding"))
        rcents, _ = kmeans_train(member_df, k=4, max_iter=8)
        rebuilt = {
            r["vec_id"]: r["sub"]
            for r in member_df.withColumn(
                "sub",
                nearest_cell(
                    centroid_scores(_as_double(F.col("embedding")), rcents)
                ).cast("int"),
            ).collect()
        }
        ids = sorted(maintained)
        assert sorted(rebuilt) == ids
        agree = total = 0
        for a, b in combinations(ids, 2):
            total += 1
            agree += (maintained[a] == maintained[b]) == (
                rebuilt[a] == rebuilt[b]
            )
        assert total > 0
        assert agree / total >= 0.80, f"Rand agreement {agree/total:.3f}"


class TestQuantileSketch:
    def test_accuracy_and_shape(self, spark, sf_dir):
        """Nine decile rows, estimates monotone in the decile, and the
        self-reported rank error within the O(1/sqrt(k)) envelope
        (k=512 → ~0.044 at 1 sigma; assert a loose 3-sigma bound)."""
        from textract_farmdata_pipeline_spark.operators.approx import (
            bottomk_quantile_sketch,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        rows = sorted(
            bottomk_quantile_sketch(ev, "value", "event_id", k=512).collect(),
            key=lambda r: r["decile"],
        )
        assert [r["decile"] for r in rows] == list(range(1, 10))
        vals = [r["est_value"] for r in rows]
        assert vals == sorted(vals)
        assert all(0.0 < r["rank_frac"] < 1.0 for r in rows)
        assert all(r["rank_err"] < 0.14 for r in rows)

    def test_small_table_sample_is_exact(self, spark):
        """When the table fits inside k the 'sample' is the table and
        every decile's true rank equals its target exactly."""
        from textract_farmdata_pipeline_spark.operators.approx import (
            bottomk_quantile_sketch,
        )

        df = spark.range(100).select(
            F.col("id").alias("event_id"), (F.col("id") * 2.0).alias("value")
        )
        rows = bottomk_quantile_sketch(df, "value", "event_id", k=512).collect()
        assert all(r["rank_err"] == 0.0 for r in rows)
        assert {r["decile"]: r["n_le"] for r in rows} == {
            d: 10 * d for d in range(1, 10)
        }

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["events_quantile_sketch"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        )
        drows = sorted(con.execute(ORACLES["events_quantile_sketch"]).fetchall())
        assert srows == drows and len(srows) == 9


class TestMatryoshkaRecall:
    def test_full_dim_recall_is_one_and_monotone_shape(self, spark, emb):
        """Truncating to the full dimension is the identity — recall
        must be exactly 1.0 there; shorter prefixes can only be
        measured, but every recall must be a valid fraction of
        |queries|·k."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            matryoshka_recall,
        )

        queries = emb.filter(F.col("vec_id") < 10)
        rows = {
            r["dim"]: r
            for r in matryoshka_recall(
                emb, queries, dims=(64, 16), k=5
            ).collect()
        }
        assert rows[64]["recall"] == 1.0 and rows[64]["n_hits"] == 50
        assert 0.0 <= rows[16]["recall"] <= 1.0
        assert rows[16]["n_hits"] <= 50

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(
            tuple(r)
            for r in QUERIES["embedding_matryoshka_recall"](spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES["embedding_matryoshka_recall"]).fetchall())
        assert srows == drows and len(srows) == 3


class TestLshEval:
    def test_identical_docs_fully_recalled(self, spark):
        """Byte-identical texts share every minhash, so they collide in
        every band: a corpus of dup groups + disjoint singletons must
        report recall 1.0 and consistent count ordering."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            lsh_eval_report,
        )

        t1 = "the quick brown fox jumps over the lazy dog again and again"
        t2 = "совершенно другой текст без общих слов вообще ни одного тут"
        docs = spark.createDataFrame(
            [(1, t1), (2, t1), (3, t1), (4, t2), (5, "unrelated words only here")],
            "doc_id long, text string",
        )
        r = lsh_eval_report(docs, n_hashes=8, bands=4, threshold=0.5).collect()[0]
        assert r["n_exact_pairs"] == 3  # C(3,2) identical pairs
        assert r["n_verified"] == 3 and r["recall"] == 1.0
        assert r["n_verified"] <= r["n_candidates"]
        assert r["candidate_precision"] == 1.0  # no spurious band collisions

    def test_counts_consistent_on_corpus(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            lsh_eval_report,
        )

        r = lsh_eval_report(docs, n_hashes=8, bands=4, threshold=0.5).collect()[0]
        assert r["n_verified"] <= r["n_candidates"]
        assert r["n_verified"] <= r["n_exact_pairs"]
        if r["n_exact_pairs"]:
            assert 0.0 <= r["recall"] <= 1.0

    def test_sampled_form_is_deterministic_and_bounded(self, spark, docs):
        """The declared run-on-a-sample knob: the md5 sample must be
        deterministic (two runs byte-identical), must bound every
        count by the full report's, and must equal the report over the
        explicitly pre-filtered corpus (the sampling composes, not
        approximates)."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            lsh_eval_report,
            md5_long,
        )

        kw = dict(n_hashes=8, bands=4, threshold=0.5)
        full = lsh_eval_report(docs, **kw).collect()[0]
        s1 = lsh_eval_report(docs, sample_fraction=0.25, **kw).collect()[0]
        s2 = lsh_eval_report(docs, sample_fraction=0.25, **kw).collect()[0]
        assert s1 == s2
        for c in ("n_exact_pairs", "n_candidates", "n_verified"):
            assert s1[c] <= full[c]
        pre = docs.filter(
            F.pmod(md5_long(F.col("doc_id").cast("string"), "lshev|"), F.lit(10000))
            < 2500
        )
        assert lsh_eval_report(pre, **kw).collect()[0] == s1

    def test_budget_form_matches_equivalent_prefilter(self, spark, docs):
        """The absolute-size knob composes, not approximates: on the
        500-doc fixture ``sample_rows=125`` derives cut 25,000,000 on
        the 10⁸ modulus, so the report must equal the full report over
        the explicitly pre-filtered corpus.  A budget at or above the
        corpus size must degenerate to the full report, and the two
        knobs together must be rejected."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            lsh_eval_report,
            md5_long,
        )

        kw = dict(n_hashes=8, bands=4, threshold=0.5)
        pre = docs.filter(
            F.pmod(
                md5_long(F.col("doc_id").cast("string"), "lshev|"),
                F.lit(100_000_000),
            )
            < 25_000_000
        )
        assert 0 < pre.count() < docs.count()  # proper, non-empty sample
        budget = lsh_eval_report(docs, sample_rows=125, **kw).collect()[0]
        assert budget == lsh_eval_report(pre, **kw).collect()[0]
        full = lsh_eval_report(docs, **kw).collect()[0]
        for c in ("n_exact_pairs", "n_candidates", "n_verified"):
            assert budget[c] <= full[c]
        assert (
            lsh_eval_report(docs, sample_rows=10**9, **kw).collect()[0] == full
        )
        with pytest.raises(ValueError, match="not both"):
            lsh_eval_report(docs, sample_fraction=0.1, sample_rows=10, **kw)


class TestSourceGate:
    def test_scraper_and_spam_sources_blocked(self, spark):
        """A source whose docs are copies of another source's texts
        trips the shared_bp leg (and symmetrically exposes its victim
        — honest semantics: the signal can't know which side copied);
        a source with no stopwords trips the stop_bp leg; a source
        with stopword-bearing unique prose passes.  All thresholds
        integer, so the expected rows are exact."""
        from textract_farmdata_pipeline_spark.operators.corpus import (
            source_quality_gate,
        )

        prose = [
            "the cat sat on the mat and looked for a mouse in the barn",
            "a long day of work is over and the crew is on the way home",
            "the price of grain is up and the market is slow for now",
            "rain fell on the field and the river rose to the old mark",
        ]
        spam = [
            "buy cheap deals now click here best price",
            "win big cash prizes instant winner claim today",
        ]
        rows = [(i, t, "clean") for i, t in enumerate(prose)]
        # scraper: copies 3 of clean's 4 texts, adds one own doc
        rows += [(100 + i, t, "scraper") for i, t in enumerate(prose[:3])]
        rows.append(
            (103, "the farm report for the week is out and the news is good",
             "scraper")
        )
        rows += [(200 + i, t, "spam") for i, t in enumerate(spam)]
        rows += [
            (300, "the harvest came in early and the silo is full to the top",
             "fresh"),
            (301, "a quiet morning on the porch with a cup of coffee in hand",
             "fresh"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {
            r["source"]: r
            for r in source_quality_gate(
                docs, max_shared_bp=100, min_stop_bp=600
            ).collect()
        }
        assert len(out) == 4
        # scraper: 3/4 docs shared → 7500 bp, blocked
        assert out["scraper"]["shared_bp"] == 7500 and out["scraper"]["blocked"]
        # clean is symmetrically exposed by the scraper — blocked too
        assert out["clean"]["n_docs"] == 4 and out["clean"]["distinct_texts"] == 4
        assert out["clean"]["shared_bp"] == 7500 and out["clean"]["blocked"]
        # spam: zero stopwords → stop_bp 0 < 600, blocked
        assert out["spam"]["shared_bp"] == 0
        assert out["spam"]["stop_bp"] == 0 and out["spam"]["blocked"]
        # fresh: unique stopword-bearing prose → passes both legs
        assert out["fresh"]["shared_bp"] == 0
        assert out["fresh"]["stop_bp"] >= 600 and not out["fresh"]["blocked"]

    def test_gate_is_integer_exact_vs_duckdb(self, spark, sf_dir):
        """The registered query hash-matches its oracle at the fixture
        scale (the driver replays this at sf0.01; this pins it at
        sf0.001 so a registry/oracle drift fails fast in pytest)."""
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        sdf = QUERIES["corpus_source_gate"](spark, sf_dir)
        srows = sorted(
            (r["source"], r["n_docs"], r["distinct_texts"], r["shared_bp"],
             r["stop_bp"], r["blocked"])
            for r in sdf.collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["corpus_source_gate"]).fetchall())
        assert srows == drows and len(srows) == 20


class TestCompressibility:
    def test_bands_and_determinism(self, spark):
        """Repetitive text compresses below natural prose, which
        compresses below high-entropy noise; empty text yields NULL;
        and two runs are byte-identical (the rows-only check's
        substitute for an oracle)."""
        import random

        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            compressibility,
        )

        rng = random.Random(7)
        noise = " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
            for _ in range(60)
        )
        prose = (
            "the quick brown fox jumps over the lazy dog while the farmer "
            "records acres of improved land and the value of livestock in "
            "careful column entries for every family on the page "
        ) * 5
        docs = spark.createDataFrame(
            [
                (1, "spam " * 300),
                (2, prose),
                (3, noise),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in compressibility(docs).collect()}
        assert rows[1]["zlib_ratio"] < rows[2]["zlib_ratio"] < rows[3]["zlib_ratio"]
        assert rows[1]["zlib_ratio"] < 0.1  # pathological repetition
        assert rows[4]["zlib_ratio"] is None and rows[4]["n_bytes"] == 0
        again = {r["doc_id"]: r for r in compressibility(docs).collect()}
        assert {k: tuple(v) for k, v in rows.items()} == {
            k: tuple(v) for k, v in again.items()
        }

    def test_registry_rows(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        out = QUERIES["doc_compressibility"](spark, sf_dir)
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        rows = out.collect()
        assert len(rows) == n_docs
        assert all(
            r["zlib_ratio"] is None or 0.0 < r["zlib_ratio"] <= 1.5 for r in rows
        )

    def test_band_rule_composes_into_gopher_gate(self, spark):
        """The seventh rule: given precomputed (n_bytes, n_zlib), the
        gate fails docs outside 25 ≤ 100·n_zlib/n_bytes ≤ 75 with
        exact integer arithmetic — pathological repetition and
        high-entropy noise drop, natural prose passes, empty/missing
        stats drop, and the decision equals brute-force zlib cents."""
        import random
        import zlib

        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            compressibility,
            gopher_quality_filter,
        )

        rng = random.Random(11)
        noise_words = [
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
            for _ in range(60)
        ]
        prose = (
            "the quick brown fox jumps over the lazy dog while the farmer "
            "records acres of improved land and the value of livestock in "
            "careful entries for every family on the page "
        ) * 3
        docs = spark.createDataFrame(
            [
                (1, "spam " * 300),          # repetitive → below band
                (2, prose),                  # natural → in band
                (3, " ".join(noise_words)),  # high-entropy → above band
            ],
            "doc_id long, text string",
        )
        stats = compressibility(docs)
        out = {
            r["doc_id"]: r
            for r in gopher_quality_filter(
                docs, min_words=3, compress_stats=stats
            ).collect()
        }
        for i, txt in ((1, "spam " * 300), (2, prose), (3, " ".join(noise_words))):
            raw = txt.encode("utf-8")
            nz = len(zlib.compress(raw, 6))
            in_band = 25 * len(raw) <= 100 * nz <= 75 * len(raw)
            flagged = "compressibility_out_of_band" in out[i]["failed_rules"]
            assert flagged == (not in_band), (i, nz, len(raw))
            assert out[i]["n_bytes"] == len(raw) and out[i]["n_zlib"] == nz
        assert not out[1]["keep"] and not out[3]["keep"]
        assert "compressibility_out_of_band" not in out[2]["failed_rules"]
        # missing stats row → band fails closed
        missing = {
            r["doc_id"]: r["failed_rules"]
            for r in gopher_quality_filter(
                docs, min_words=3, compress_stats=stats.filter(F.col("doc_id") != 2)
            ).collect()
        }
        assert "compressibility_out_of_band" in missing[2]


class TestBinaryQuantization:
    """1-bit (sign) binary quantization ANN: exact word packing, the
    Hamming fold, recall on clustered data (the regime BQ serves — the
    sf fixture's near-uniform sphere is the adversarial case, covered
    by the hash oracle instead), exact rerank cosines, and full DuckDB
    parity for BOTH registered queries."""

    def test_signature_packing_exact(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_signature,
        )

        rows = [
            # 3 dims: bits 0,2 set (x >= 0 includes zero) -> word 0b101
            (1, [0.5, -0.1, 0.0]),
            # 33 dims: bit 0 of word 0 and bit 0 of word 1
            (2, [1.0] + [-1.0] * 31 + [2.0]),
            # all negative -> all-zero words
            (3, [-0.5] * 33),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sigs = {r["vec_id"]: r["sig"] for r in bq_signature(df).collect()}
        assert sigs[1] == [5]
        assert sigs[2] == [1, 1]
        assert sigs[3] == [0, 0]
        # every word stays non-negative (32-bit packing never touches
        # the BIGINT sign bit — the portability guarantee)
        assert all(w >= 0 for s in sigs.values() for w in s)

    def test_hamming_symmetry_and_self_zero(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_signature,
            hamming,
        )

        rows = [(1, [1.0, -1.0, 1.0, -1.0]), (2, [1.0, 1.0, -1.0, -1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sig = bq_signature(df)
        a = sig.filter(F.col("vec_id") == 1).select(F.col("sig").alias("sa"))
        b = sig.filter(F.col("vec_id") == 2).select(F.col("sig").alias("sb"))
        pair = a.crossJoin(b)
        d_ab = pair.select(hamming(F.col("sa"), F.col("sb")).alias("d")).first()["d"]
        d_ba = pair.select(hamming(F.col("sb"), F.col("sa")).alias("d")).first()["d"]
        d_aa = pair.select(hamming(F.col("sa"), F.col("sa")).alias("d")).first()["d"]
        assert d_ab == d_ba == 2  # dims 2 and 3 disagree
        assert d_aa == 0

    def test_recall_on_clustered_corpus_and_exact_rerank(self, spark):
        """Recall ≥ 0.9 vs brute-force cosine on a corpus WITH cluster
        structure (measured 1.0 at shortlist=50 over 480 vectors), and
        every returned cosine is the exact brute-force score — stage 2
        shares the repo-wide 4-dp arithmetic."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_topk,
            cosine_topk,
        )

        def lcg(seed):
            x = seed
            while True:
                x = (1103515245 * x + 12345) % (1 << 31)
                yield x / (1 << 31)

        rnd = lcg(7)
        dim, n_clusters, per = 64, 12, 40
        centers = [
            [next(rnd) * 2 - 1 for _ in range(dim)] for _ in range(n_clusters)
        ]
        rows = []
        vid = 0
        for c in centers:
            for _ in range(per):
                rows.append((vid, [x + (next(rnd) - 0.5) * 0.15 for x in c]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = df.orderBy("vec_id").limit(10)
        exact = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_topk(df, queries, k=df.count()).collect()
        }
        truth: dict[int, set[int]] = {}
        for r in cosine_topk(df, queries, k=10).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        got: dict[int, set[int]] = {}
        for r in bq_topk(df, queries, k=10, shortlist=50).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            assert r["cosine"] == exact[(r["query_id"], r["neighbor_id"])]
        hits = sum(len(got.get(k_, set()) & t) for k_, t in truth.items())
        recall = hits / sum(len(t) for t in truth.values())
        assert recall >= 0.9, recall

    @pytest.mark.parametrize(
        "name", ["embedding_bq_portable", "embedding_bq_topk"]
    )
    def test_matches_oracle(self, spark, sf_dir, name):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES[name]).fetchall())
        assert srows == drows
        assert len(srows) > 0 and len(srows) % 5 == 0


class TestLeakageSafeSplit:
    """Cluster-atomic dataset split: near-duplicates must share a
    split, singleton behavior must match the per-doc baseline keyed on
    the cluster id, and the composed oracle must replay exactly."""

    def test_same_cluster_same_split(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        out = QUERIES["doc_split_leakage_safe"](spark, sf_dir)
        leaky = (
            out.groupBy("cluster_id")
            .agg(F.count_distinct("split").alias("n_splits"))
            .filter(F.col("n_splits") > 1)
            .count()
        )
        assert leaky == 0
        # every doc appears exactly once
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert out.count() == n_docs
        assert out.select("doc_id").distinct().count() == n_docs

    def test_exact_dups_share_split(self, spark, sf_dir):
        """The split must be leakage-safe at minimum for EXACT dups:
        identical texts always share a cluster, hence a split."""
        from textract_farmdata_pipeline_spark.registry import QUERIES

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = QUERIES["doc_split_leakage_safe"](spark, sf_dir)
        joined = docs.select("doc_id", "text").join(out, "doc_id")
        leaky = (
            joined.groupBy("text")
            .agg(F.count_distinct("split").alias("n_splits"))
            .filter(F.col("n_splits") > 1)
            .count()
        )
        assert leaky == 0

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        name = "doc_split_leakage_safe"
        srows = sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES[name]).fetchall())
        assert srows == drows


class TestBqIvf:
    """IVF-gated BQ: recall vs the full Hamming scan on clustered
    data, the pruned scan fraction, and exact DuckDB parity for the
    all-integer gated pipeline."""

    def _clustered(self, spark):
        def lcg(seed):
            x = seed
            while True:
                x = (1103515245 * x + 12345) % (1 << 31)
                yield x / (1 << 31)

        rnd = lcg(7)
        dim, n_clusters, per = 64, 12, 40
        centers = [
            [next(rnd) * 2 - 1 for _ in range(dim)] for _ in range(n_clusters)
        ]
        rows = []
        vid = 0
        for c in centers:
            for _ in range(per):
                rows.append((vid, [x + (next(rnd) - 0.5) * 0.15 for x in c]))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_recall_vs_full_scan_on_clustered_corpus(self, spark):
        """Gated recall vs the FULL Hamming-shortlist scan (measured
        1.0 at n_probe=2 on the planted clusters — pin ≥ 0.9 at 4)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_ivf_topk,
            bq_topk,
        )

        df = self._clustered(spark)
        queries = df.orderBy("vec_id").limit(10)
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in bq_topk(df, queries, k=10, shortlist=50).collect()
        }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in bq_ivf_topk(
                df, queries, k=10, n_probe=4, shortlist=50
            ).collect()
        }
        assert len(truth) == 100
        recall = len(truth & got) / len(truth)
        assert recall >= 0.9, f"IVF-gated BQ recall {recall} < 0.9"

    def test_scan_fraction_is_pruned(self, spark):
        """The candidate rows actually scored are the probed cells'
        members only — a strict subset of the corpus, not all of it."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            _anchor_hamming_array,
            _probe_cells,
            bq_anchor_signatures,
            bq_encode_ivf,
            bq_signature,
        )

        df = self._clustered(spark)
        queries = df.orderBy("vec_id").limit(10)
        anchors = bq_anchor_signatures(df, k_coarse=16)
        codes = bq_encode_ivf(df, anchors)
        sizes = codes.groupBy("cell").agg(F.count("*").alias("n"))
        probe = _probe_cells(
            bq_signature(queries),
            F.transform(
                _anchor_hamming_array(F.col("sig"), anchors), lambda d: -d
            ),
            4,
            "vec_id",
        )
        scanned = probe.join(sizes, "cell").agg(F.sum("n")).first()[0]
        total, nq = df.count(), 10
        frac = scanned / (total * nq)
        assert frac < 0.55, f"probed scan fraction {frac} — cells too unbalanced"

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        name = "embedding_bq_ivf_topk"
        srows = sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES[name]).fetchall())
        assert srows == drows
        assert len(srows) > 0 and len(srows) % 5 == 0


class TestAnnEval:
    """The measured ANN quality report: metric invariants (exact
    scores itself perfectly; no method beats exact; rr60 bounded by
    60·n) and full DuckDB parity of the 4-method table."""

    def test_invariants_and_sanity_row(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        rows = {
            r["method"]: r
            for r in QUERIES["embedding_ann_eval"](spark, sf_dir).collect()
        }
        assert set(rows) == {"exact", "sq8", "bq", "bq_ivf", "bq_asym"}
        ex = rows["exact"]
        n = ex["n_queries"]
        assert ex["hits_at_5"] == 5 * n and ex["rr60_sum"] == 60 * n
        assert ex["mrr"] == 1.0
        for m, r in rows.items():
            assert r["n_queries"] == n
            assert 0 <= r["hits_at_5"] <= 5 * n
            assert 0 <= r["rr60_sum"] <= 60 * n
            assert r["hits_at_5"] <= ex["hits_at_5"]

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        name = "embedding_ann_eval"
        srows = sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES[name]).fetchall())
        assert srows == drows

    def test_leaves_no_persisted_rdd(self, spark, sf_dir):
        """The staged exact ranking must not outlive the report: one
        construct + collect leaves the block manager's persisted RDDs
        as it found them."""
        from textract_farmdata_pipeline_spark.operators.checkpoints import (
            _persistent_ids,
        )
        from textract_farmdata_pipeline_spark.registry import QUERIES

        before = _persistent_ids(spark)
        QUERIES["embedding_ann_eval"](spark, sf_dir).collect()
        assert _persistent_ids(spark) == before


class TestFlatGatedParity:
    """With every cell probed, each IVF-gated compressed scan returns
    exactly its flat twin's rows: the cell gate only prunes candidates,
    it never changes a score, a shortlist, a rank or a tie-break."""

    K_COARSE = 16

    @staticmethod
    def _same(gated, flat):
        assert gated.schema == flat.schema
        rows = sorted(tuple(r) for r in flat.collect())
        assert len(rows) == 100  # 20 queries x k=5
        assert sorted(tuple(r) for r in gated.collect()) == rows

    @pytest.fixture(scope="class")
    def queries(self, emb):
        return emb.filter(F.col("vec_id") < 20)

    def test_bq(self, emb, queries):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_ivf_topk,
            bq_topk,
        )

        self._same(
            bq_ivf_topk(emb, queries, k=5, n_probe=self.K_COARSE, k_coarse=self.K_COARSE),
            bq_topk(emb, queries, k=5),
        )

    def test_sq_portable(self, emb, queries):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            sq_ivf_topk_portable,
            sq_topk,
        )

        self._same(
            sq_ivf_topk_portable(
                emb, queries, k=5, n_probe=self.K_COARSE, k_coarse=self.K_COARSE
            ),
            sq_topk(emb, queries, k=5),
        )

    def test_pq_portable(self, emb, queries):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            pq_adc_ivf_topk_portable,
            pq_adc_topk_portable,
        )

        self._same(
            pq_adc_ivf_topk_portable(
                emb, queries, k=5, n_probe=self.K_COARSE, k_coarse=self.K_COARSE
            ),
            pq_adc_topk_portable(emb, queries, k=5),
        )

    def test_pq_trained(self, emb, queries):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            kmeans_train,
            pq_encode_ivf,
            pq_ivf_topk,
            pq_topk,
            pq_train,
        )

        cents, _ = kmeans_train(emb, k=self.K_COARSE, max_iter=2)
        books = pq_train(emb, m=8, ks=16, max_iter=2, persist=False)
        codes = pq_encode_ivf(emb, books, cents).cache()
        try:
            self._same(
                pq_ivf_topk(codes, books, cents, queries, k=5, n_probe=len(cents)),
                pq_topk(codes, books, queries, k=5),
            )
        finally:
            codes.unpersist()


class TestIncrementalSplit:
    """Split stability as the corpus grows: existing assignments are
    frozen, exact-text batch twins inherit the twin's split, origins
    partition the output, and the composed oracle replays exactly."""

    @pytest.fixture(scope="class")
    def parts(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return (
            docs.filter(F.col("doc_id") % 5 != 0),
            docs.filter(F.col("doc_id") % 5 == 0),
        )

    @pytest.fixture(scope="class")
    def out(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        return QUERIES["doc_split_incremental"](spark, sf_dir).cache()

    def test_existing_assignments_frozen(self, spark, parts, out):
        """Corpus rows must equal doc_split_leakage_safe run on the
        corpus ALONE — adding a batch never moves an existing doc."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            near_dup_clusters,
        )
        from textract_farmdata_pipeline_spark.operators.preprocess import (
            dataset_split,
        )

        corpus, _ = parts
        alone = dataset_split(
            near_dup_clusters(
                corpus, n_hashes=8, bands=4, threshold=0.5, shingle_n=3,
                max_bucket_size=None, hash_family="md5",
            ),
            id_col="cluster_id",
        ).select("doc_id", "split")
        got = out.filter(F.col("origin") == "existing").select("doc_id", "split")
        assert sorted(map(tuple, alone.collect())) == sorted(
            map(tuple, got.collect())
        )

    def test_planted_twins_inherit_and_novel_is_fresh(self, spark):
        """On a planted corpus/batch: an exact batch twin of a corpus
        doc inherits its split; a NEAR-dup of that twin (linked only
        through the batch-internal edge) inherits too; a novel doc is
        'fresh'; and existing rows keep their standalone assignment."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            incremental_leakage_split,
        )

        base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        corpus = spark.createDataFrame(
            [
                (1, base_text),
                (2, "one two three four five six seven eight nine ten"),
                (3, "red orange yellow green blue indigo violet pink black white"),
            ],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [
                (10, base_text),  # exact twin of corpus doc 1
                # near-dup of doc 10 (one token changed) — its corpus
                # link may be direct or only via the batch edge
                (11, base_text.replace("kappa", "lambda")),
                (12, "totally novel content unlike anything in the corpus here"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["split"], r["origin"])
            for r in incremental_leakage_split(corpus, batch).collect()
        }
        assert set(out) == {1, 2, 3, 10, 11, 12}
        assert out[1][1] == out[2][1] == out[3][1] == "existing"
        # the exact twin and its batch near-dup both inherit doc 1's split
        assert out[10] == (out[1][0], "inherited")
        assert out[11] == (out[1][0], "inherited")
        assert out[12][1] == "fresh"

    def test_origins_partition_output(self, spark, parts, out):
        corpus, batch = parts
        by_origin = {
            r["origin"]: r["n"]
            for r in out.groupBy("origin").agg(F.count("*").alias("n")).collect()
        }
        assert by_origin.get("existing", 0) == corpus.count()
        assert (
            by_origin.get("inherited", 0) + by_origin.get("fresh", 0)
            == batch.count()
        )
        assert out.count() == corpus.count() + batch.count()

    def test_matches_oracle(self, spark, sf_dir, out):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES

        srows = sorted(tuple(r) for r in out.collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES["doc_split_incremental"]).fetchall())
        assert srows == drows


class TestLiteralGuards:
    def test_non_finite_codebook_value_raises_loudly(self, spark):
        """repr(nan)+'D' would otherwise reach the SQL parser as an
        unresolvable identifier; a NaN/Inf entering a frozen artifact
        is an upstream data bug worth naming at the boundary."""
        import pytest as _pytest

        from textract_farmdata_pipeline_spark.operators.similarity import (
            _book_literal,
            _double_array_literal,
        )

        with _pytest.raises(ValueError, match="non-finite"):
            _double_array_literal([1.0, float("nan")])
        with _pytest.raises(ValueError, match="non-finite"):
            _double_array_literal([float("inf")])
        with _pytest.raises(ValueError, match="non-finite"):
            _book_literal([[0.5, float("-inf")]])
        # finite edge values stay bit-exact through the parsed form
        import struct

        edge = [1e-300, -0.0, 1.7976931348623157e308, 5e-324, 0.1 + 0.2]
        got = (
            spark.range(1)
            .select(_double_array_literal(edge).alias("a"))
            .collect()[0]["a"]
        )
        assert [struct.pack("d", x) for x in got] == [
            struct.pack("d", x) for x in edge
        ]


class TestBqAsym:
    """Asymmetric BQ: the ±1 unpack round-trips the signature, the
    measured quality beats symmetric Hamming on the fixture (89 vs 71
    hits@5 at sf0.001 — the reason the method exists), and the
    two-stage pipeline replays exactly in DuckDB."""

    def test_unpack_roundtrip(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_signature,
            bq_unpack_pm1,
        )

        rows = [(1, [0.5, -0.1, 0.0, -2.0]), (2, [-1.0] * 33)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sig = bq_signature(df)
        out = {
            r["vec_id"]: r["pm"]
            for r in sig.select(
                "vec_id",
                bq_unpack_pm1(
                    F.col("sig"),
                    F.when(F.col("vec_id") == 1, 4).otherwise(33),
                ).alias("pm"),
            ).collect()
        }
        # signs of [0.5, -0.1, 0.0, -2.0] -> [+1, -1, +1, -1]
        assert out[1] == [1.0, -1.0, 1.0, -1.0]
        assert out[2] == [-1.0] * 33  # slice drops the 31 padded bits

    def test_beats_symmetric_on_fixture(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        rows = {
            r["method"]: r
            for r in QUERIES["embedding_ann_eval"](spark, sf_dir).collect()
        }
        assert rows["bq_asym"]["hits_at_5"] > rows["bq"]["hits_at_5"]
        assert rows["bq_asym"]["rr60_sum"] >= rows["bq"]["rr60_sum"]

    def test_matches_oracle(self, spark, sf_dir):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        name = "embedding_bq_asym"
        srows = sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        drows = sorted(con.execute(ORACLES[name]).fetchall())
        assert srows == drows
        assert len(srows) == 100


class TestBqGatedPairs:
    """The 1-bit signature as the cheap first gate of the embedding
    near-dup product (round-7 directive #3): pigeonhole chunk
    candidates -> exact cosine verify."""

    def _planted(self, spark, n=40, dim=64):
        import math

        rows = []
        for i in range(n):
            v = [math.sin(0.7 * i + 0.13 * j) for j in range(dim)]
            rows.append((i, v))
            if i < 10:  # near-identical twin: one coordinate nudged
                tv = list(v)
                tv[0] += 0.05
                rows.append((1000 + i, tv))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_gated_equals_brute_force_on_near_dup_regime(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_banded_pairs,
            near_dup_pairs,
        )

        df = self._planted(spark)
        gated = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in bq_banded_pairs(df, threshold=0.99, chunk_bits=8).collect()
        }
        brute = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in near_dup_pairs(df, threshold=0.99).collect()
        }
        assert gated == brute
        # every planted twin captured (the sine fixture also has
        # period-9 accidental near-dups — 0.7·9 ≈ 2π — which both
        # sides agree on; the planted pairs are the controlled subset)
        caught = {(a, b) for a, b, _ in gated}
        assert all((i, 1000 + i) in caught for i in range(10))

    def test_equality_join_plan_no_nested_loop(self, spark):
        """The scan-fraction property in plan form: candidates come
        from an equality-keyed self-join on (band, chunk), so the plan
        must contain NO all-pairs nested-loop/cartesian stage — the
        thing that separates the gate from near_dup_pairs' broadcast
        O(n²) baseline."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_banded_pairs,
        )

        df = self._planted(spark)
        plan = (
            bq_banded_pairs(df, threshold=0.99, chunk_bits=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_pigeonhole_miss_is_the_declared_trade(self, spark):
        """A pair with one sign flip in every chunk
        shares no chunk and is missed even above the cosine threshold
        — the documented recall trade (same contract as LSH)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            bq_banded_pairs,
            near_dup_pairs,
        )

        v1 = [0.1] * 64
        v2 = [(-0.1 if j % 8 == 0 else 0.1) for j in range(64)]  # 8 flips, one per chunk
        df = spark.createDataFrame(
            [(1, v1), (2, v2)], "vec_id long, embedding array<double>"
        )
        brute = near_dup_pairs(df, threshold=0.5).collect()
        assert len(brute) == 1 and brute[0]["cosine"] == 0.75
        assert bq_banded_pairs(df, threshold=0.5, chunk_bits=8).count() == 0

    def test_semantic_dedup_hamming_gate_parity(self, spark):
        """semantic_dedup(hamming_gate=...) must reproduce the ungated
        decision on the near-identical regime the operator exists for
        (sign flips well inside the gate), while the gate is tight
        enough to actually reject sign-incompatible pairs."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            semantic_dedup,
        )

        cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
        rows = [
            (1, [1.0, 0.2, 0.1, 0.0]),
            (2, [0.999, 0.201, 0.1, 0.0]),    # near-dup of 1, hamming 0
            (3, [0.5, -0.4, 0.3, -0.2]),      # same cell, distinct
            (4, [-1.0, -0.2, -0.1, 0.0]),     # other cell
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        key = lambda out: sorted(
            (r["vec_id"], r["keep"], r["dup_of"]) for r in out.collect()
        )
        ungated = key(semantic_dedup(df, cents, threshold=0.99))
        gated = key(semantic_dedup(df, cents, threshold=0.99, hamming_gate=2))
        assert ungated == gated
        assert [(1, True, None), (2, False, 1), (3, True, None), (4, True, None)] == gated


class TestSemanticDedupGatedRegistration:
    def test_gated_registration_parity_with_ungated(self, spark, sf_dir):
        """The rows-only driver check cannot see parity, so pin it
        here: the registered BQ-gated SemDeDup must make the identical
        keep/dup_of decision as the ungated registration on the real
        fixture (planted exact copies have sign-Hamming 0 — always
        inside the gate)."""
        from textract_farmdata_pipeline_spark.registry import QUERIES

        key = lambda name: sorted(
            (r["vec_id"], r["keep"], r["dup_of"])
            for r in QUERIES[name](spark, sf_dir).collect()
        )
        assert key("embedding_semantic_dedup") == key(
            "embedding_semantic_dedup_gated"
        )


class TestPrototypePrune:
    """Prototype-based dataset pruning (Sorscher et al. 2022): cell
    assignment ties, within-cell prototypicality ranks, and the
    floor-quota keep rule."""

    def _df(self, spark):
        rows = [
            (1, [1.0, 0.0]),  # cell 1, cos 1.0
            (2, [2.0, 0.0]),  # cell 1, cos 1.0 — tie with 1, id breaks
            (3, [1.0, 1.0]),  # equal dot to both anchors -> first max
            (4, [0.0, 1.0]),  # cell 2, cos 1.0
            (5, [0.1, 1.0]),  # cell 2, slightly off-axis
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    _ANCHORS = [[1.0, 0.0], [0.0, 1.0]]

    def test_cells_ranks_and_keep(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            prototype_prune,
        )

        out = {
            r["vec_id"]: r
            for r in prototype_prune(
                self._df(spark), self._ANCHORS, prune_frac=0.5
            ).collect()
        }
        # v3 dots equally to both anchors -> array_position first max
        assert {v: out[v]["cell_id"] for v in out} == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2}
        # cell 1 ranks: v1 (cos 1.0, lower id) 1, v2 (cos 1.0) 2, v3 3
        assert [out[v]["proto_rank"] for v in (1, 2, 3)] == [1, 2, 3]
        # quotas: cell 1 n=3 drops floor(1.5)=1 (v1); cell 2 n=2 drops
        # floor(1)=1 (v4, the exact-prototype) — hard examples survive
        assert {v for v in out if out[v]["keep"]} == {2, 3, 5}

    def test_quota_extremes(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            prototype_prune,
        )

        df = self._df(spark)
        all_keep = prototype_prune(df, self._ANCHORS, prune_frac=0.0)
        assert all(r["keep"] for r in all_keep.collect())
        none_keep = prototype_prune(df, self._ANCHORS, prune_frac=1.0)
        assert not any(r["keep"] for r in none_keep.collect())

    def test_per_cell_quota_invariant_on_corpus(self, spark, emb):
        """On the real embeddings table with frozen md5 anchors, every
        cell keeps exactly n_cell - floor(n_cell/2) members and ranks
        are a permutation of 1..n_cell."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.dedup import md5_long
        from textract_farmdata_pipeline_spark.operators.similarity import (
            prototype_prune,
        )

        anchors = [
            r["e"]
            for r in emb.select(
                F.col("embedding").cast("array<double>").alias("e"),
                md5_long(F.col("vec_id").cast("string"), "prot|").alias("_r"),
                "vec_id",
            )
            .orderBy(F.asc("_r"), F.asc("vec_id"))
            .limit(16)
            .collect()
        ]
        out = prototype_prune(emb, anchors, prune_frac=0.5)
        per = (
            out.groupBy("cell_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("keep").cast("int")).alias("n_keep"),
                F.min("proto_rank").alias("rmin"),
                F.max("proto_rank").alias("rmax"),
                F.count_distinct("proto_rank").alias("rdist"),
            )
            .collect()
        )
        assert per  # non-degenerate
        for r in per:
            assert r["n_keep"] == r["n"] - r["n"] // 2
            assert (r["rmin"], r["rmax"], r["rdist"]) == (1, r["n"], r["n"])


class TestPrototypePruneRefined:
    """One-step quantized-Lloyd prune: contract parity with the frozen
    form, a hand-checkable refine step, and the quota invariant on the
    real corpus."""

    def test_refine_moves_centroid(self, spark):
        """Two clusters on the axes plus an off-axis member: after one
        quantized mean step the cell-1 centroid rotates toward the
        off-axis member, but assignments/quotas stay the hand-computed
        ones (the refine changes scores, not this partition)."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            prototype_prune_refined,
        )

        rows = [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.2]),  # pulls cell-1 mean off the x axis
            (3, [0.0, 1.0]),
            (4, [0.2, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["vec_id"]: r
            for r in prototype_prune_refined(
                df, [[1.0, 0.0], [0.0, 1.0]], prune_frac=0.5
            ).collect()
        }
        assert {v: out[v]["cell_id"] for v in out} == {1: 1, 2: 1, 3: 2, 4: 2}
        # after refine the cell-1 centroid is the (normalized-mean) of
        # v1,v2 -> v2's direction is NOT the prototype; v1 and v2 rank
        # by dot with the tilted centroid: the mean lies between them,
        # nearer the bisector, and both cells drop floor(2*0.5)=1.
        for cell in (1, 2):
            kept = [v for v in out if out[v]["cell_id"] == cell and out[v]["keep"]]
            assert len(kept) == 1

    def test_quota_and_rank_invariants_on_corpus(self, spark, emb):
        """Same per-cell quota/permutation invariants as the frozen
        form, over the refined codebook on the real embeddings."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.dedup import md5_long
        from textract_farmdata_pipeline_spark.operators.similarity import (
            prototype_prune_refined,
        )

        anchors = [
            r["e"]
            for r in emb.select(
                F.col("embedding").cast("array<double>").alias("e"),
                md5_long(F.col("vec_id").cast("string"), "prot|").alias("_r"),
                "vec_id",
            )
            .orderBy(F.asc("_r"), F.asc("vec_id"))
            .limit(16)
            .collect()
        ]
        out = prototype_prune_refined(emb, anchors, prune_frac=0.5)
        per = (
            out.groupBy("cell_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("keep").cast("int")).alias("n_keep"),
                F.min("proto_rank").alias("rmin"),
                F.max("proto_rank").alias("rmax"),
                F.count_distinct("proto_rank").alias("rdist"),
            )
            .collect()
        )
        assert per
        for r in per:
            assert r["n_keep"] == r["n"] - r["n"] // 2
            assert (r["rmin"], r["rmax"], r["rdist"]) == (1, r["n"], r["n"])
        assert out.count() == emb.count()  # every vector decided


class TestQuantizedClusterProfile:
    """Quantized-Lloyd cluster profile: hand-checkable means, member
    conservation, and agreement with the float profile's sizes."""

    def test_hand_computed_profile(self, spark):
        """Two clean axis clusters: refined centroids are the quantized
        means, every member's dot is ~1 within quantization error, and
        counts are conserved."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_cluster_profile_quantized,
        )

        rows = [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["cluster_id"]: r
            for r in ivf_cluster_profile_quantized(
                df, [[1.0, 0.0], [0.0, 1.0]]
            ).collect()
        }
        assert {c: out[c]["n_members"] for c in out} == {1: 2, 2: 1}
        for c in out:
            # members sit exactly on their refined centroid: dot = 1
            # up to the 2^-24 quantization of both codebook and stat
            assert abs(out[c]["avg_dot_q"] - 1.0) < 1e-6

    def test_members_conserved_and_sizes_match_float(self, spark, emb):
        """Total membership equals the corpus; the quantized profile's
        per-cluster sizes equal the float profile's when both run on
        the SAME (frozen) codebook side — i.e. quantization moves the
        statistic, not the partition, for a one-step book built from
        identical anchors."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.dedup import md5_long
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ivf_cluster_profile_quantized,
        )

        anchors = [
            r["e"]
            for r in emb.select(
                F.col("embedding").cast("array<double>").alias("e"),
                md5_long(F.col("vec_id").cast("string"), "prot|").alias("_r"),
                "vec_id",
            )
            .orderBy(F.asc("_r"), F.asc("vec_id"))
            .limit(16)
            .collect()
        ]
        out = ivf_cluster_profile_quantized(emb, anchors)
        rows = out.collect()
        assert sum(r["n_members"] for r in rows) == emb.count()
        assert all(-1.0 - 1e-9 <= r["avg_dot_q"] <= 1.0 + 1e-9 for r in rows)

    def test_mitchell_tfidf_portable_weights(self, spark):
        """weight='mitchell' reproduces the exact plog2 tree (checked
        against a hand-computed value) and keeps the ln form intact."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            tfidf_vectors,
        )

        rows = [(1, "a b"), (2, "a c"), (3, "a b c d")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        vec = {
            r["doc_id"]: r["embedding"]
            for r in tfidf_vectors(df, vocab_size=4, weight="mitchell").collect()
        }
        # vocabulary: a(df=3), b(2), c(2), d(1) -> idx 0..3
        # plog2(3) = 1 + (3/2 - 1) = 1.5; plog2(2) = 1.0; plog2(1) = 0
        w_a = 1.5 - 1.5   # plog2(3) - plog2(3) = 0
        w_b = 1.5 - 1.0
        w_d = 1.5 - 0.0
        assert vec[1] == [w_a, w_b, 0.0, 0.0]
        assert vec[3] == [w_a, w_b, w_b, w_d]


class TestMatryoshkaTopk:
    """Two-stage matryoshka ANN: prefix shortlist -> full-dim rerank.
    Degenerate-parameter identities pin the stage contract against the
    exact scan."""

    def test_full_shortlist_equals_exact(self, spark, emb):
        """shortlist >= |corpus| makes stage 1 a no-op filter: the
        rerank sees every candidate, so the product must equal
        cosine_topk exactly."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            cosine_topk,
            matryoshka_topk,
        )

        q = emb.filter(F.col("vec_id") < 5)
        key = lambda df: sorted(tuple(r) for r in df.collect())
        got = matryoshka_topk(emb, q, prefix_dim=8, k=3, shortlist=10**6)
        assert key(got) == key(cosine_topk(emb, q, k=3))

    def test_full_prefix_equals_exact(self, spark, emb):
        """prefix_dim >= dim makes stage 1 the exact ranking: even a
        tight shortlist (>= k) returns the exact top-k."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            cosine_topk,
            matryoshka_topk,
        )

        dim = len(emb.first()["embedding"])
        q = emb.filter(F.col("vec_id") < 5)
        key = lambda df: sorted(tuple(r) for r in df.collect())
        got = matryoshka_topk(emb, q, prefix_dim=dim, k=3, shortlist=3)
        assert key(got) == key(cosine_topk(emb, q, k=3))

    def test_shortlist_bounds_candidates(self, spark, emb):
        """Every returned neighbor must be in the query's prefix-dim
        shortlist — the rerank can reorder but never resurrect."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            _cosine_scored,
            _rank_per_query,
            matryoshka_topk,
        )
        from pyspark.sql import functions as SF

        q = emb.filter(F.col("vec_id") < 5)
        sliced = lambda df: df.select(
            "vec_id", SF.slice(SF.col("embedding").cast("array<double>"), 1, 8).alias("embedding")
        )
        short = {
            (r["query_id"], r["neighbor_id"])
            for r in _rank_per_query(
                _cosine_scored(sliced(emb), sliced(q)), 20
            ).collect()
        }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in matryoshka_topk(
                emb, q, prefix_dim=8, k=5, shortlist=20
            ).collect()
        }
        assert got <= short


class TestMmrSelect:
    """Greedy MMR: the hand-computed trajectory where diversity beats
    a higher-relevance near-duplicate, plus the no-self-retrieval and
    exhaustion contracts."""

    def test_diversity_beats_near_duplicate(self, spark):
        """q at 0 deg; candidates at 10 deg, 10.5 deg (near-dup of the
        first pick, higher rel than the diverse one), and -30 deg.
        Plain top-2 by relevance is {10, 10.5}; MMR's second slot goes
        to -30 deg (penalty cos(0.5 deg) ~ 1 kills the near-dup)."""
        import math

        from textract_farmdata_pipeline_spark.operators.similarity import (
            mmr_select,
        )

        def vec(deg):
            r = math.radians(deg)
            return [math.cos(r), math.sin(r)]

        rows = [
            (0, vec(0.0)),    # the query itself
            (1, vec(10.5)),   # near-dup of 2, rel 0.983
            (2, vec(10.0)),   # highest rel 0.985 -> picked first
            (3, vec(-30.0)),  # rel 0.866, far from 2 -> diverse pick
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = [
            (r["vec_id"], r["mmr_rank"])
            for r in mmr_select(df, query_id=0, k=3).collect()
        ]
        assert got == [(2, 1), (3, 2), (1, 3)]

    def test_query_never_retrieved_and_k_caps(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            mmr_select,
        )

        rows = [(i, [1.0, float(i)]) for i in range(4)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = mmr_select(df, query_id=0, k=10).collect()
        ids = [r["vec_id"] for r in got]
        assert 0 not in ids            # the query is not a candidate
        assert sorted(ids) == [1, 2, 3]  # exhausted at 3 < k
        assert [r["mmr_rank"] for r in got] == [1, 2, 3]


class TestSemanticDecontaminate:
    """Embedding-level decontamination: hand-computed flags, the
    lowest-eval-id tie-break, and the loud empty/zero-eval guards."""

    def test_hand_computed_flags(self, spark):
        from textract_farmdata_pipeline_spark.operators.similarity import (
            semantic_decontaminate,
        )

        corpus = spark.createDataFrame(
            [
                (10, [1.0, 0.0]),     # cos 1.0 vs eval 1 -> drop
                (11, [0.0, 1.0]),     # cos 0.0 and 1.0 vs eval 2 -> drop
                (12, [0.6, 0.8]),     # cos 0.6 / 0.8 -> keep at 0.95
                (13, [-1.0, 0.0]),    # cos -1.0 / 0.0 -> keep
            ],
            "vec_id long, embedding array<double>",
        )
        ev = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
        out = {
            r["doc_id"]: r
            for r in semantic_decontaminate(corpus, ev, threshold=0.95).collect()
        }
        assert {d: out[d]["drop_doc"] for d in out} == {
            10: True, 11: True, 12: False, 13: False
        }
        assert out[10]["matched_eval_id"] == 1
        assert out[11]["matched_eval_id"] == 2
        assert out[12]["max_eval_cosine"] == 0.8
        # tie on max cosine -> lowest eval id (doc 13: -1.0 vs 0.0 ->
        # max is 0.0 from eval 2... doc 12 ties nothing; exercise the
        # tie with an equidistant doc instead
        tie = spark.createDataFrame(
            [(20, [1.0, 1.0])], "vec_id long, embedding array<double>"
        )
        ev_tie = spark.createDataFrame(
            [(5, [1.0, 0.0]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        t = semantic_decontaminate(tie, ev_tie, threshold=0.99).collect()[0]
        assert t["matched_eval_id"] == 3  # equal cosines -> lowest eid

    def test_guards(self, spark):
        import pytest

        from textract_farmdata_pipeline_spark.operators.similarity import (
            semantic_decontaminate,
        )

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        empty = corpus.filter("vec_id < 0")
        with pytest.raises(ValueError, match="empty eval set"):
            semantic_decontaminate(corpus, empty)
        zero = spark.createDataFrame(
            [(9, [0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="all-zero"):
            semantic_decontaminate(corpus, zero)


class TestMmrAnnComposed:
    """ANN shortlist → MMR: the picks come from the shortlist, the
    rank contract holds, and the pool restriction is real."""

    def test_picks_subset_of_shortlist(self, spark, emb):
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.dedup import md5_long
        from textract_farmdata_pipeline_spark.operators.similarity import (
            ann_topk_ivf,
            mmr_select,
        )

        anchors = [
            r["e"]
            for r in emb.select(
                F.col("embedding").cast("array<double>").alias("e"),
                md5_long(F.col("vec_id").cast("string"), "ivfq|").alias("_r"),
                "vec_id",
            )
            .orderBy(F.asc("_r"), F.asc("vec_id"))
            .limit(16)
            .collect()
        ]
        short = ann_topk_ivf(
            emb,
            emb.filter(F.col("vec_id") == 0),
            k=40,
            n_centroids=16,
            n_probe=4,
            centroids=anchors,
        )
        short_ids = {r["neighbor_id"] for r in short.collect()}
        assert 0 < len(short_ids) <= 40 and 0 not in short_ids
        pool = emb.join(
            F.broadcast(short.select(F.col("neighbor_id").alias("vec_id"))),
            "vec_id",
        ).unionByName(emb.filter(F.col("vec_id") == 0))
        out = mmr_select(pool, query_id=0, k=8).collect()
        picked = [r["vec_id"] for r in out]
        assert set(picked) <= short_ids          # restricted to the pool
        assert [r["mmr_rank"] for r in out] == list(range(1, len(out) + 1))
        assert len(picked) == min(8, len(short_ids))


class TestQuantileTrim:
    """Per-group percentile trim: integer cut counts, keep contract."""

    def test_cut_counts_per_group(self, spark):
        """20 rows in one group at 5/95: drop exactly floor(20*5/100)=1
        at each end; a 3-row group drops none (floor(3*5/100)=0)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            quantile_trim,
        )

        rows = [(i, "a", i * 10) for i in range(20)] + [
            (100, "b", 7), (101, "b", 8), (102, "b", 9)
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
        got = {r["doc_id"]: r["keep"] for r in quantile_trim(df, "n_chars").collect()}
        assert len(got) == 23  # every row gets a decision
        assert not got[0] and not got[19]          # extremes dropped
        assert all(got[i] for i in range(1, 19))   # interior kept
        assert got[100] and got[101] and got[102]  # small group intact

    def test_tie_break_is_deterministic(self, spark):
        """Equal scores: the lowest id ranks first, so it is the one
        cut at the bottom end."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            quantile_trim,
        )

        rows = [(i, "a", 5) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
        got = {r["doc_id"]: r["keep"] for r in quantile_trim(df, "n_chars").collect()}
        # 40 rows: drop 2 at each end; ties order by id, so ids 0,1
        # fall below the low cut and ids 38,39 above the high cut
        assert [got[i] for i in (0, 1)] == [False, False]
        assert [got[i] for i in (38, 39)] == [False, False]
        assert all(got[i] for i in range(2, 38))

    def test_null_group_fails_loudly(self, spark):
        """A NULL group value raises instead of silently producing
        NULL keep decisions (the offset-map key would drop the group
        segment Spark-side while the Python side rendered 'None')."""
        import pytest

        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            quantile_trim,
        )

        rows = [(i, "a" if i % 2 else None, i * 10) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
        with pytest.raises(ValueError, match="NULL value in group column"):
            quantile_trim(df, "n_chars").collect()

    def test_n_ranges_invariance(self, spark):
        """The keep decision is identical for any explicit n_ranges and
        for the auto-scaled default (offsets derive from actual counts,
        not sampled boundaries)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            quantile_trim,
        )

        rows = [(i, "ab"[i % 2], (i * 37) % 101) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
        base = {r["doc_id"]: r["keep"] for r in quantile_trim(df, "n_chars").collect()}
        for nr in (1, 3, 64):
            got = {
                r["doc_id"]: r["keep"]
                for r in quantile_trim(df, "n_chars", n_ranges=nr).collect()
            }
            assert got == base


class TestPiiStats:
    """PII detection + redaction report: hand-planted PII of each
    class, the replacement-order trap (an SSN must not be half-eaten
    by the phone pattern), and the zero-residual invariant."""

    def _run(self, spark, texts):
        from textract_farmdata_pipeline_spark.operators.preprocess import (
            pii_stats,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return {r["doc_id"]: r for r in pii_stats(df).collect()}

    def test_counts_and_scrub(self, spark):
        got = self._run(
            spark,
            [
                "write to alice@example.com or bob@sub.example.co.uk now",
                "call 415-555-0199 or (415) 555 0100 today",
                "ssn 123-45-6789 on file",
                "clean text with no pii at all",
            ],
        )
        assert (got[0]["n_emails"], got[0]["n_ssns"], got[0]["n_phones"]) == (2, 0, 0)
        assert got[0]["scrubbed"] == "write to <EMAIL> or <EMAIL> now"
        assert (got[1]["n_emails"], got[1]["n_ssns"], got[1]["n_phones"]) == (0, 0, 2)
        assert got[1]["scrubbed"] == "call <PHONE> or <PHONE> today"
        assert (got[2]["n_emails"], got[2]["n_ssns"], got[2]["n_phones"]) == (0, 1, 0)
        assert got[2]["scrubbed"] == "ssn <SSN> on file"
        assert got[3]["scrubbed"] == "clean text with no pii at all"
        assert all(r["n_residual"] == 0 for r in got.values())

    def test_ssn_not_matched_as_phone(self, spark):
        """The SSN groups (3-2-4) must not count as a phone (3-3-4)."""
        got = self._run(spark, ["id 987-65-4321 end"])
        assert got[0]["n_phones"] == 0
        assert got[0]["n_ssns"] == 1
        assert got[0]["scrubbed"] == "id <SSN> end"


class TestKeepBestPerCluster:
    """Quality-aware canonical selection: max quality wins, ties break
    to min id, singletons keep themselves, decision table is total."""

    def test_best_wins_ties_to_min_id(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            keep_best_per_cluster,
        )

        docs = spark.createDataFrame(
            [
                (1, "short"),
                (2, "muchlonger"),
                (3, "muchlonge2"),  # same length as 2 -> tie, 2 wins
                (4, "solo"),
            ],
            "doc_id long, text string",
        )
        clusters = spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10), (4, 4)], "doc_id long, cluster_id long"
        )
        got = {
            r["doc_id"]: r for r in keep_best_per_cluster(docs, clusters).collect()
        }
        assert len(got) == 4  # every doc appears: total decision table
        assert [got[i]["kept"] for i in (1, 2, 3, 4)] == [False, True, False, True]
        assert got[1]["cluster_size"] == 3 and got[4]["cluster_size"] == 1
        assert got[2]["quality"] == 10

    def test_custom_quality_column(self, spark):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            keep_best_per_cluster,
        )

        docs = spark.createDataFrame(
            [(1, "aaaa", 1), (2, "bb", 9)], "doc_id long, text string, score long"
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1)], "doc_id long, cluster_id long"
        )
        got = {
            r["doc_id"]: r["kept"]
            for r in keep_best_per_cluster(
                docs, clusters, quality=F.col("score")
            ).collect()
        }
        assert got == {1: False, 2: True}  # score beats length


class TestVideoNearDup:
    """Frame-level video near-dup: re-encodes (tiny per-frame byte
    perturbations) match, different videos don't, identical videos
    pair at max-Hamming 0 through the exact collapse."""

    def _media(self, spark, rows):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
        )

        return attach_media(
            spark.createDataFrame(rows, "doc_id long, text string")
        )

    def test_identical_and_perturbed_match(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            video_near_dup,
        )

        base = "the quick brown fox jumps over the lazy dog " * 8
        rows = [
            (1, base),
            (2, base),                      # identical -> hamming 0
            (3, "~" + base[1:]),            # frame-0 byte perturbed
            (4, "z" * len(base)),           # constant payload: far away
        ]
        got = {
            (r["id_a"], r["id_b"]): r["max_frame_hamming"]
            for r in video_near_dup(self._media(spark, rows)).collect()
        }
        assert got[(1, 2)] == 0
        assert (1, 3) in got and got[(1, 3)] <= 7
        assert not any(4 in p for p in got)

    def test_one_bad_frame_rejects(self, spark):
        """A video matching on 3 of 4 frames but wild on one frame is
        NOT a near-dup — the verify is MAX over frames, not average."""
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            video_near_dup,
        )

        base = "abcdefgh" * 16  # 128 bytes, 4 frames of 32
        tail_swapped = base[:96] + "zyxwvutsrqponmlk" * 2  # frame 3 replaced
        rows = [(1, base), (2, tail_swapped)]
        pairs = video_near_dup(self._media(spark, rows)).collect()
        assert pairs == []

    def test_video_sigs_fused_equals_composed(self, spark):
        """The fused one-pass video_sigs must equal the composed
        frame_sample → image_dhash → collect spelling bit-for-bit —
        the fusion is a plan change, never a value change (both run
        _dhash_words; this pins the slicing/ordering glue)."""
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            frame_sample,
            image_dhash,
            video_sigs,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog " * 8),
            (2, "xy"),   # shorter than n_frames: empty tail frames
            (3, ""),     # empty payload: all-zero vector
        ]
        media = attach_media(
            spark.createDataFrame(rows, "doc_id long, text string")
        )
        fused = {
            r["doc_id"]: list(r["sig"]) for r in video_sigs(media).collect()
        }
        fsig = image_dhash(
            frame_sample(media, n_frames=4).select(
                (F.col("doc_id") * 8 + F.col("frame_idx")).alias("doc_id"),
                F.col("frame").alias("media"),
            )
        ).collect()
        composed: dict[int, list[int]] = {}
        for r in sorted(fsig, key=lambda r: r["doc_id"]):
            composed.setdefault(r["doc_id"] // 8, []).extend(r["sig"])
        assert fused == composed

    def test_match_stored_max_semantics(self, spark):
        """video_match_stored (the streaming decision core) applies the
        same frame-aligned MAX predicate: a stored video matching the
        batch on 3 of 4 frames but wild on one frame does NOT admit as
        a duplicate, while a frame-0 perturbation does — the behavior
        that distinguishes it from the image/audio sum-Hamming
        matcher."""
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            video_match_stored,
            video_sigs,
        )

        # the quick-fox base (not a short periodic ramp, whose sparse
        # gradient signature sits within radius 7 of the all-zero hash
        # a constant payload produces — the test_identical fixture's
        # lesson applied here)
        base = "the quick brown fox jumps over the lazy dog " * 8
        step = len(base) // 4
        wild_tail = base[: 3 * step] + "".join(
            chr(97 + (i * 13) % 26) for i in range(len(base) - 3 * step)
        )
        stored_rows = [(1, base)]
        batch_rows = [
            (10, "~" + base[1:]),   # re-encode: dup of 1
            (11, wild_tail),        # frame 3 wild: new (MAX rejects)
            (12, "z" * len(base)),  # different everywhere: new
        ]
        stored = video_sigs(
            attach_media(
                spark.createDataFrame(stored_rows, "doc_id long, text string")
            )
        )
        batch = video_sigs(
            attach_media(
                spark.createDataFrame(batch_rows, "doc_id long, text string")
            )
        )
        got = {
            r["doc_id"]: (r["dup_of"], r["is_new"])
            for r in video_match_stored(stored, batch).collect()
        }
        assert got[10] == (1, False)
        assert got[11] == (None, True)
        assert got[12] == (None, True)



class TestMediaNearDupKernel:
    """The one media near-dup kernel against a Python brute force, in
    each signature layout it serves: audio (1 frame x 1 word), image
    (1 x 2) and video (4 frames x 2 words).  The distance is the MAX
    over aligned frames of the per-frame Hamming; the fixtures hold
    exact copies (including copies of near copies, so member
    expansion crosses groups), near copies within and past the
    radius, and video copies that are close on frame 0 but far on a
    later frame."""

    LAYOUTS = {"audio": ((1, 1), 3), "image": ((1, 2), 7), "video": ((4, 2), 7)}

    @staticmethod
    def _sigs(layout, radius, seed):
        import random

        n_frames, words = layout
        rng = random.Random(seed)
        n = n_frames * words

        def flip(sig, k, words_from=0, words_to=n):
            sig = list(sig)
            for bit in rng.sample(range(words_from * 32, words_to * 32), k):
                sig[bit // 32] ^= 1 << (bit % 32)
            return sig

        out = []
        for _ in range(6):
            base = [rng.getrandbits(32) for _ in range(n)]
            near = flip(base, rng.randint(1, radius))
            out += [base, list(base), near, list(near)]
            out.append(flip(base, radius + rng.randint(1, 3)))
            if n_frames > 1:
                # frame 0 identical, frame 1 far: not a pair
                out.append(flip(base, 12, words, 2 * words))
        return {i + 1: s for i, s in enumerate(out)}

    @staticmethod
    def _dist(a, b, layout):
        n_frames, w = layout
        return max(
            sum(
                bin(x ^ y).count("1")
                for x, y in zip(a[f * w : (f + 1) * w], b[f * w : (f + 1) * w])
            )
            for f in range(n_frames)
        )

    def _df(self, spark, sigs):
        return spark.createDataFrame(
            sorted(sigs.items()), "doc_id long, sig array<bigint>"
        )

    @pytest.mark.parametrize("layout", ["audio", "image", "video"])
    def test_pairs_and_stored_match_equal_brute_force(self, spark, layout):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            _expand_member_pairs,
            _match_stored,
            _sig_rep_pairs,
        )

        shape, radius = self.LAYOUTS[layout]
        sigs = self._sigs(shape, radius, seed=sum(shape) * 10 + shape[0])
        ids = sorted(sigs)
        want = {
            (a, b): self._dist(sigs[a], sigs[b], shape)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if self._dist(sigs[a], sigs[b], shape) <= radius
        }
        pairs = _expand_member_pairs(
            *_sig_rep_pairs(self._df(spark, sigs), shape, radius, 8)
        )
        rows = pairs.collect()
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
        assert got == want and len(rows) == len(want)
        assert any(d == 0 for d in want.values())
        assert any(d > 0 for d in want.values())

        stored = {i: s for i, s in sigs.items() if i % 3 != 0}
        batch = {i: s for i, s in sigs.items() if i % 3 == 0}
        want_match = {}
        for b, sb in batch.items():
            hits = [
                s for s, ss in stored.items() if self._dist(sb, ss, shape) <= radius
            ]
            want_match[b] = (min(hits), False) if hits else (None, True)
        got_match = {
            r["doc_id"]: (r["dup_of"], r["is_new"])
            for r in _match_stored(
                self._df(spark, stored),
                self._df(spark, batch),
                shape,
                radius,
                8,
            ).collect()
        }
        assert got_match == want_match
        assert {v[1] for v in want_match.values()} == {False, True}


class TestRegistryParity:
    """Spark rows of registrations over ``documents`` equal their
    DuckDB oracles' rows on the test fixture — the oracle templates
    and the engine checked against each other in tier 1.  The media
    near-dup family, and the corpus builds whose stages together
    cover every piece of ``_corpus_chain_sql`` but span dedup."""

    @pytest.mark.parametrize(
        "name",
        [
            "multimodal_image_dhash",
            "multimodal_dhash_pairs",
            "multimodal_dhash_clusters",
            "multimodal_dhash_incremental",
            "multimodal_video_near_dup",
            "multimodal_audio_fingerprint",
            "multimodal_audio_near_dup",
            "corpus_build_pipeline",
            "corpus_build_token_mixture",
            "corpus_build_scrub_text",
            "corpus_build_substring_gated",
            "corpus_build_paragraph_gated",
            "corpus_build_lm_gated",
            "corpus_build_curated",
        ],
    )
    def test_matches_oracle(self, spark, sf_dir, name):
        import duckdb

        from textract_farmdata_pipeline_spark.registry import ORACLES, QUERIES

        srows = sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        drows = sorted(con.execute(ORACLES[name]).fetchall())
        assert srows == drows and srows

class TestBoilerplateStrip:
    """RefinedWeb line-wise filtering: the per-source frequency rule
    drops site furniture from ALL occurrences (not keep-first), rare
    repeats and unique prose survive, pure-boilerplate documents exit
    as clean_text ''."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        # srcA: 4 docs sharing the footer line "f1..f12"; doc 4 is
        # ONLY the footer.  srcB: 2 docs sharing a line — under
        # min_docs=3, kept.  12-word lines throughout.
        foot = " ".join(f"f{i}" for i in range(12))
        rare = " ".join(f"r{i}" for i in range(12))
        uniq = lambda d: " ".join(f"u{d}w{i}" for i in range(12))
        rows = [
            (1, "srcA", foot + " " + uniq(1)),
            (2, "srcA", uniq(2) + " " + foot),
            (3, "srcA", foot + " " + uniq(3)),
            (4, "srcA", foot),
            (5, "srcB", rare + " " + uniq(5)),
            (6, "srcB", rare + " " + uniq(6)),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    def test_strip_decisions(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.paragraphs import (
            boilerplate_strip,
        )

        got = {
            r["doc_id"]: r
            for r in boilerplate_strip(
                docs, para_words=12, ratio_bp=5000, min_docs=3
            ).collect()
        }
        assert len(got) == 6  # total: every input doc has a row
        # footer (4/4 docs of srcA) stripped from every occurrence,
        # including mid-document and the doc that is nothing else
        for d in (1, 2, 3):
            assert got[d]["n_boiler_dropped"] == 1
            assert "f0" not in got[d]["clean_text"]
            assert f"u{d}w0" in got[d]["clean_text"]
        assert got[4]["clean_text"] == "" and got[4]["n_kept"] == 0
        # srcB's repeated line: 2 docs < min_docs=3 -> kept
        for d in (5, 6):
            assert got[d]["n_boiler_dropped"] == 0
            assert got[d]["clean_text"].startswith("r0 r1")
        # reassembly preserves original line order
        assert got[2]["clean_text"] == got[2]["clean_text"].strip()
        assert got[2]["clean_text"].startswith("u2w0")

    def test_profile_reports_both_outcomes(self, spark, docs):
        from textract_farmdata_pipeline_spark.operators.paragraphs import (
            boilerplate_profile,
        )

        prof = {
            (r["source"], r["line_text"].split()[0]): r
            for r in boilerplate_profile(
                docs, para_words=12, ratio_bp=5000, min_docs=3
            ).collect()
        }
        # only repeated lines report (min_report_docs=2 default)
        assert set(prof) == {("srcA", "f0"), ("srcB", "r0")}
        assert prof[("srcA", "f0")]["is_boiler"] is True
        assert prof[("srcA", "f0")]["n_docs"] == 4
        assert prof[("srcB", "r0")]["is_boiler"] is False

    def test_frequency_scoped_per_source(self, spark):
        """The same line shared across sources below each source's
        threshold is NOT boilerplate — scope is the source, not the
        corpus (a quote syndicated across sites is prose)."""
        from textract_farmdata_pipeline_spark.operators.paragraphs import (
            boilerplate_strip,
        )

        line = " ".join(f"q{i}" for i in range(12))
        pad = lambda d: " ".join(f"p{d}x{i}" for i in range(12))
        rows = [
            (i, f"src{i}", line + " " + pad(i)) for i in range(1, 7)
        ]  # 6 sources, 1 doc each: per-source n_docs=1
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        got = boilerplate_strip(
            docs, para_words=12, ratio_bp=5000, min_docs=3
        ).collect()
        assert all(r["n_boiler_dropped"] == 0 for r in got)


class TestAudioFingerprint:
    """Haitsma–Kalker energy-delta fingerprint: bit-exact vs a numpy
    reference, zero-pad convention, and the near-dup product's
    capture/exclusion behavior on planted re-encodes."""

    @staticmethod
    def _ref_fp(text: str, window_bytes: int = 16, n_bits: int = 32) -> int:
        b = text.encode()[: (n_bits + 1) * window_bytes]
        padded = [0] * ((n_bits + 1) * window_bytes)
        for i, x in enumerate(b):
            padded[i] = x
        e = [
            sum(v * v for v in padded[i * window_bytes : (i + 1) * window_bytes])
            for i in range(n_bits + 1)
        ]
        return sum((1 << i) for i in range(n_bits) if e[i + 1] > e[i])

    def test_matches_reference_bits(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            audio_fingerprint,
        )

        texts = [
            (1, "abcdefgh" * 70),         # long: full span covered
            (2, "za" * 20),               # short: zero-padded tail
            (3, ""),                      # empty: all-zero energies -> fp 0
            (4, "".join(chr(65 + (i * 7) % 26) for i in range(400))),
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            r["doc_id"]: r["fp"]
            for r in audio_fingerprint(attach_media(docs)).collect()
        }
        for doc_id, text in texts:
            assert got[doc_id] == self._ref_fp(text), doc_id
        assert got[3] == 0

    def test_n_bits_out_of_range_raises(self, spark):
        """n_bits packs little-endian into ONE int64 word — shifts past
        62 land in the sign bit or wrap (numpy), silently corrupting
        fingerprints; the guard mirrors sig_chunk_bands' chunk_bits
        ValueError."""
        import pytest

        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            audio_fingerprint,
        )

        docs = attach_media(
            spark.createDataFrame([(1, "x" * 64)], "doc_id long, text string")
        )
        for bad in (0, -1, 63, 64, 128):
            with pytest.raises(ValueError, match="n_bits"):
                audio_fingerprint(docs, n_bits=bad)
        # 62 is the last safe width: packs to a non-negative BIGINT
        row = audio_fingerprint(docs, n_bits=62).first()
        assert row["fp"] >= 0

    def test_near_dup_capture_and_gate(self, spark):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            audio_near_dup,
        )

        base = "".join(chr(97 + (i * 11) % 26) for i in range(300))
        other = "".join(chr(97 + (i * 5 + 3) % 26) for i in range(300))
        rows = [
            (1, base),
            (2, base),                # exact copy -> hamming 0 via collapse
            (3, "~" + base[1:]),      # re-encode -> window 0 only
            (4, other),               # different stream
            (5, "tiny clip"),         # under min_bytes -> excluded
            (6, "tiny clip"),         # identical short clip, also excluded
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in audio_near_dup(attach_media(docs)).collect()
        }
        assert pairs[(1, 2)] == 0
        assert (1, 3) in pairs and pairs[(1, 3)] <= 1
        assert (2, 3) in pairs
        assert not any(4 in p for p in pairs)  # different stream: no pair
        assert not any(5 in p or 6 in p for p in pairs)  # gated out


class TestQualityGateRocchio:
    """Closed-form trained gate: separates a vocabulary-split fixture
    perfectly, weights are bounded by the 2^24 quantization, and the
    decision table is total over labeled docs with tokens."""

    def test_separates_and_bounds(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            quality_gate_rocchio,
        )

        pos_vocab = ["alpha", "beta", "gamma", "delta"]
        neg_vocab = ["omega", "sigma", "kappa", "zeta"]
        rows = []
        for i in range(20):
            v = pos_vocab if i % 2 == 0 else neg_vocab
            rows.append(
                (i, i % 2 == 0 and 1 or 0, " ".join(v[(i + j) % 4] for j in range(6)))
            )
        docs = spark.createDataFrame(rows, "doc_id long, label int, text string")
        got = {r["doc_id"]: r for r in quality_gate_rocchio(docs).collect()}
        assert len(got) == 20
        for i in range(20):
            assert got[i]["passes"] == (i % 2 == 0), i
            assert got[i]["label"] == (1 if i % 2 == 0 else 0)
            # weights are quantized class-share differences, so a
            # 6-token doc's |logit| is bounded by 6·2^24; disjoint
            # vocabularies put every doc strictly on its class's side
            assert 0 < abs(got[i]["logit"]) <= 6 * (1 << 24)
            assert (got[i]["logit"] > 0) == (i % 2 == 0)

    def test_mixed_doc_lands_between(self, spark):
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            quality_gate_rocchio,
        )

        rows = [
            (1, 1, "alpha alpha alpha"),
            (2, 0, "omega omega omega"),
            (3, 0, "alpha omega alpha"),  # mislabeled mixed doc
        ]
        docs = spark.createDataFrame(rows, "doc_id long, label int, text string")
        got = {r["doc_id"]: r["logit"] for r in quality_gate_rocchio(docs).collect()}
        assert got[2] < got[3] < got[1]

    def test_single_class_seed_raises(self, spark):
        """A single-class seed has no discriminative direction; the
        gate must fail LOUDLY (ValueError at build time) rather than
        return all-NULL decisions that a downstream ``where(passes)``
        would silently turn into an empty corpus — the
        ``_grouped_global_rank`` NULL-group precedent."""
        import pytest

        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            quality_gate_rocchio,
        )

        all_pos = spark.createDataFrame(
            [(1, 1, "alpha beta"), (2, 1, "gamma delta")],
            "doc_id long, label int, text string",
        )
        with pytest.raises(ValueError, match="single-class seed"):
            quality_gate_rocchio(all_pos)
        all_neg = spark.createDataFrame(
            [(1, 0, "alpha beta"), (2, 0, "gamma delta")],
            "doc_id long, label int, text string",
        )
        with pytest.raises(ValueError, match="single-class seed"):
            quality_gate_rocchio(all_neg)
        # empty seed is the same degeneracy
        empty = spark.createDataFrame([], "doc_id long, label int, text string")
        with pytest.raises(ValueError, match="single-class seed"):
            quality_gate_rocchio(empty)
