"""Baseline JPEG codec (functions/jpeg.py): analytic exactness,
round-trip error bounds, structural features (stuffing, restarts,
subsampling), and the multimodal wiring."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from deltoid_spark.functions import jpeg, multimodal


# ------------------------------------------------- reference entropy decoder ----


class _BitReader:
    """Bit reader over a destuffed scan byte list (RSTs handled by caller)."""

    def __init__(self, data: bytes) -> None:
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8)).tolist()
        self.pos = 0

    def read_bit(self) -> int:
        b = self.bits[self.pos]
        self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        bits = self.bits
        p = self.pos
        for _ in range(n):
            v = (v << 1) | bits[p]
            p += 1
        self.pos = p
        return v


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _read_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in scan")




def _entropy_decode_reference(
    intervals, comps, dc_tables, ac_tables, per_int, n_mcus, mcus_x
) -> None:
    """Per-symbol bit-at-a-time entropy decode — the straight-off-the-
    spec implementation, the byte-identity reference the engine's LUT
    and lockstep decoders are A/B-tested against (zz equality on every
    stream shape: 4:4:4, 4:2:0, grayscale, restart intervals).  Same
    signature as ``jpeg._entropy_decode_fast``, so a test swaps it in
    for the engine's decoders."""
    for c in comps:
        c["zz"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)
    mi = 0
    for interval in intervals:
        reader = _BitReader(interval)
        preds = {c["id"]: 0 for c in comps}
        for _ in range(min(per_int, n_mcus - mi)):
            my, mx = divmod(mi, mcus_x)
            for c in comps:
                dct = dc_tables[c["td"]]
                act = ac_tables[c["ta"]]
                for dy in range(c["v"]):
                    for dx in range(c["h"]):
                        row = np.zeros(64, dtype=np.int64)
                        size = _read_symbol(reader, dct)
                        diff = _extend(reader.read_bits(size), size) if size else 0
                        preds[c["id"]] += diff
                        row[0] = preds[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _read_symbol(reader, act)
                            if rs == 0x00:
                                break
                            if rs == 0xF0:
                                k += 16
                                continue
                            k += rs >> 4
                            size = rs & 0xF
                            row[k] = _extend(reader.read_bits(size), size)
                            k += 1
                        bi = (my * c["v"] + dy) * c["bw"] + mx * c["h"] + dx
                        c["zz"][bi] = row
            mi += 1


def _gradient_rgb(h: int, w: int, a: int = 5, b: int = 7) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * a) % 256, (yy * b) % 256, ((xx + yy) * 3) % 256], axis=-1
    ).astype(np.uint8)


class TestAnalytic:
    def test_constant_gray_even_offset_is_bit_exact(self):
        """DC-only blocks whose scaled coefficient the quantizer divides
        decode exactly: (g-128)*8 % 16 == 0 at quality 50 for even
        offsets — closed-form correctness, independent of the encoder."""
        for g in (68, 128, 130, 188, 254):
            img = np.full((16, 24), g, dtype=np.uint8)
            out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=50))
            assert (out == img).all(), g

    def test_block_constant_grid_is_bit_exact(self):
        img = np.zeros((16, 24), dtype=np.uint8)
        for by in range(2):
            for bx in range(3):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    128 + 2 * ((3 * bx + 5 * by) % 60 - 30)
                )
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=50))
        assert (out == img).all()

    def test_dct_matrix_is_orthonormal(self):
        assert np.allclose(jpeg.DCT_MAT @ jpeg.DCT_MAT.T, np.eye(8), atol=1e-12)


class TestRoundTrip:
    def test_rgb_444_gradient_close(self):
        rgb = _gradient_rgb(32, 48)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(rgb, quality=90))
        err = np.abs(out.astype(int) - rgb.astype(int))
        assert out.shape == rgb.shape
        assert err.mean() < 2.0, err.mean()

    def test_rgb_420_subsampled_close(self):
        rgb = _gradient_rgb(32, 48, a=3, b=2)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(rgb, quality=85, subsample=True))
        err = np.abs(out.astype(int) - rgb.astype(int))
        assert err.mean() < 6.0, err.mean()

    def test_noise_exercises_all_symbol_sizes(self):
        """q95 noise emits nearly the full AC symbol alphabet and plenty
        of 0xFF bytes (stuffing); decode must still land near input."""
        rng = np.random.default_rng(0)
        noise = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
        data = jpeg.encode_jpeg(noise, quality=95)
        out = jpeg.decode_jpeg(data)
        assert np.abs(out.astype(int) - noise.astype(int)).mean() < 8.0

    def test_entropy_decoders_bit_identical(self, monkeypatch):
        """The table-driven LUT decoder and the lockstep-across-restart-
        intervals decoder reproduce the per-symbol reference decoder
        EXACTLY on every stream shape: grayscale, RGB 4:4:4, 4:2:0,
        with and without restart intervals, noise and gradients.  The
        reference stays the semantic anchor; the fast paths are a
        measured >=10x entropy-throughput win on restart-dense streams
        (BASELINE.md round-5 table)."""
        rng = np.random.default_rng(7)
        noise = rng.integers(0, 256, (48, 48, 3)).astype(np.uint8)
        grad = _gradient_rgb(64, 48)
        streams = [
            jpeg.encode_jpeg(noise, quality=90),
            jpeg.encode_jpeg(noise, quality=90, restart_interval=1),
            jpeg.encode_jpeg(grad, quality=60, restart_interval=2),
            jpeg.encode_jpeg(grad, quality=75, subsample=True,
                             restart_interval=1),
            jpeg.encode_jpeg(noise[:, :, 0].copy(), quality=85,
                             restart_interval=3),
        ]
        def decode(data, **decoders):
            # decode_jpeg picks the LUT or the lockstep decoder by the
            # stream's restart-interval count; swapping the module's
            # decoder names picks them here
            with monkeypatch.context() as m:
                for name, fn in decoders.items():
                    m.setattr(jpeg, name, fn)
                return jpeg.decode_jpeg(data)

        reference = dict(
            _entropy_decode_fast=_entropy_decode_reference,
            _entropy_decode_lockstep=_entropy_decode_reference,
        )
        modes = {"lut": dict(_entropy_decode_lockstep=jpeg._entropy_decode_fast), "fast": {}}
        for i, s in enumerate(streams):
            ref = decode(s, **reference)
            for mode, decoders in modes.items():
                got = decode(s, **decoders)
                assert got.shape == ref.shape and (got == ref).all(), (i, mode)

    def test_restart_markers_resync(self):
        rgb = _gradient_rgb(40, 56)
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(rgb, quality=90))
        for ri in (1, 3, 5):
            data = jpeg.encode_jpeg(rgb, quality=90, restart_interval=ri)
            assert b"\xff\xdd" in data  # DRI segment present
            out = jpeg.decode_jpeg(data)
            # identical coefficients -> identical pixels vs no-restart
            assert (out == base).all(), ri

    @settings(max_examples=8, deadline=None)
    @given(
        st.integers(1, 3),
        st.integers(1, 3),
        st.sampled_from([60, 80, 95]),
        st.integers(0, 2**31 - 1),
    )
    def test_roundtrip_error_bounded(self, bw, bh, q, seed):
        rng = np.random.default_rng(seed)
        # smooth-ish random field: JPEG's design target
        base = rng.integers(0, 256, (bh, bw, 3))
        img = np.repeat(np.repeat(base, 8, axis=0), 8, axis=1).astype(np.uint8)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q))
        assert np.abs(out.astype(int) - img.astype(int)).mean() < 6.0


class TestStructure:
    def test_rejects_non_jpeg_and_progressive(self):
        with pytest.raises(ValueError):
            jpeg.decode_jpeg(b"\x89PNG")
        data = bytearray(jpeg.encode_jpeg(np.full((8, 8), 128, np.uint8)))
        sof = data.find(b"\xff\xc0")
        data[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
        with pytest.raises(ValueError, match="baseline"):
            jpeg.decode_jpeg(bytes(data))

    def test_dimension_validation(self):
        with pytest.raises(ValueError):
            jpeg.encode_jpeg(np.zeros((10, 8), np.uint8))
        with pytest.raises(ValueError):
            jpeg.encode_jpeg(np.zeros((16, 24, 3), np.uint8), subsample=True)

    def test_tables_travel_in_stream(self):
        """DQT/DHT are read from the file, not shared state: decoding a
        q30 file right after a q95 file uses each file's own tables."""
        img = _gradient_rgb(16, 16)
        d95 = jpeg.encode_jpeg(img, quality=95)
        d30 = jpeg.encode_jpeg(img, quality=30)
        out95, out30 = jpeg.decode_jpeg(d95), jpeg.decode_jpeg(d30)
        e95 = np.abs(out95.astype(int) - img.astype(int)).mean()
        e30 = np.abs(out30.astype(int) - img.astype(int)).mean()
        assert e95 < e30  # higher quality -> lower error


class TestWiring:
    def test_decode_features_jpeg(self):
        img = _gradient_rgb(16, 16)
        feats = multimodal.decode_features(jpeg.encode_jpeg(img, quality=90), "image")
        assert (int(feats[0]), int(feats[1])) == (16, 16)
        assert 0 <= feats[2] <= 255

    def test_mp4_mjpeg_roundtrip_and_probe(self):
        """A real MP4 (ftyp + mdat + moov with stsd/stts/stsc/stsz/stco)
        whose Motion-JPEG samples decode bit-exact; the generic box
        probe reads the same file's metadata."""
        frames = []
        for f in range(4):
            g = 128 + 2 * (
                ((3 * np.arange(3)[None, :] + 5 * np.arange(2)[:, None] + f) % 60) - 30
            )
            frames.append(np.repeat(np.repeat(g, 8, 0), 8, 1).astype(np.uint8))
        mp4 = multimodal.encode_mp4_mjpeg(frames, quality=50)
        out = multimodal.decode_mp4_mjpeg(mp4)
        assert len(out) == 4
        assert all((a == b).all() for a, b in zip(out, frames))
        probe = multimodal.probe_mp4(mp4)
        assert (probe["width"], probe["height"], probe["n_tracks"]) == (24, 16, 1)
        with pytest.raises(ValueError, match="stsz|ftyp"):
            multimodal.decode_mp4_mjpeg(multimodal.encode_mp4_stub(8, 8, 100))

    def test_mp4_rgb_frames_lossy_bound(self):
        rgb = [_gradient_rgb(16, 16, a=i + 1) for i in range(3)]
        out = multimodal.decode_mp4_mjpeg(multimodal.encode_mp4_mjpeg(rgb, quality=90))
        for a, b in zip(out, rgb):
            assert np.abs(a.astype(int) - b.astype(int)).mean() < 3.0

    def test_decode_frames_handles_mp4(self, spark):
        media = multimodal.synthesize_mp4_media(spark, n=4)
        rows = multimodal.decode_frames(media).collect()
        by_id: dict = {}
        for r in rows:
            by_id.setdefault(r["media_id"], []).append(r)
        for i in range(4):
            assert len(by_id[i]) == 2 + i % 3  # one row per decoded frame
            assert all(len(r["feature"]) == 8 for r in by_id[i])

    def test_jpeg_pixel_stats_matches_law(self, spark):
        media = multimodal.synthesize_jpeg_media(spark, n=12)
        got = {
            r["media_id"]: (r["width"], r["height"], r["px_sum"])
            for r in multimodal.jpeg_pixel_stats(media).collect()
        }
        for i in range(12):
            bw, bh = 2 + i % 3, 1 + i % 2
            expect = sum(
                64 * (128 + 2 * (((3 * bx + 5 * by + i) % 60) - 30))
                for bx in range(bw)
                for by in range(bh)
            )
            assert got[i] == (bw * 8, bh * 8, expect), i
