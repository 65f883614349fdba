"""Real-codec tests for the multimodal decode kernels: the PNG path
(chunk walk, inflate, all five scanline filters) and the WAV path are
exercised against known payloads — decoded dimensions must be REAL,
not derived from payload bytes."""

from __future__ import annotations

import struct
import zlib

import pytest

from pg_archiver_spark.functions.multimodal import (
    _PNG_SIG,
    decode_media,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


def test_png_roundtrip_known_dimensions():
    pixels = bytes(range(15))  # 5x3, values 0..14
    payload = encode_png(5, 3, pixels)
    feats = decode_png(payload)
    assert (feats["width"], feats["height"]) == (5, 3)
    assert feats["duration_ms"] == 0
    assert feats["mean_milli"] == (sum(pixels) * 1000) // 15


def _png_with_filters(width, height, pixels, ftypes):
    """Build a spec-valid grayscale PNG applying a chosen filter type
    per scanline (the encoder always emits 0; this exercises 1-4)."""

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytearray(width)
    for y in range(height):
        line = bytearray(pixels[y * width : (y + 1) * width])
        ftype = ftypes[y]
        filtered = bytearray(line)
        for i in range(width):
            a = line[i - 1] if i >= 1 else 0
            b = prev[i]
            c = prev[i - 1] if i >= 1 else 0
            if ftype == 1:
                filtered[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                filtered[i] = (line[i] - b) & 0xFF
            elif ftype == 3:
                filtered[i] = (line[i] - (a + b) // 2) & 0xFF
            elif ftype == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filtered[i] = (line[i] - pred) & 0xFF
        raw += bytes([ftype]) + filtered
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_defilter_all_types():
    width, height = 4, 5
    pixels = bytes((i * 37 + 11) % 256 for i in range(width * height))
    payload = _png_with_filters(width, height, pixels, [0, 1, 2, 3, 4])
    feats = decode_png(payload)
    assert (feats["width"], feats["height"]) == (width, height)
    assert feats["mean_milli"] == (sum(pixels) * 1000) // len(pixels)


def test_wav_roundtrip_duration_and_amplitude():
    samples = [0, 1000, -1000, 500, -500, 250, -250, 0]
    payload = encode_wav(samples, sample_rate=8000)
    feats = decode_wav(payload)
    assert feats["width"] == len(samples)  # frames
    assert feats["height"] == 1  # channels
    assert feats["duration_ms"] == (len(samples) * 1000) // 8000
    assert feats["mean_milli"] == (
        sum(abs(s) for s in samples) * 1000
    ) // len(samples)


def test_decode_media_dispatches_on_magic():
    png = encode_png(3, 2, bytes(6))
    wav = encode_wav([1, 2, 3])
    assert decode_media(png)["width"] == 3
    assert decode_media(wav)["height"] == 1


def test_decode_media_unknown_raises_without_fake(monkeypatch):
    monkeypatch.delenv("PG_ARCHIVER_FAKE_DECODE", raising=False)
    with pytest.raises(NotImplementedError):
        decode_media(b"GIF89a not supported")
    monkeypatch.setenv("PG_ARCHIVER_FAKE_DECODE", "1")
    feats = decode_media(b"GIF89a not supported")
    assert feats["width"] >= 16  # deterministic fake, clearly not decoded


def test_binary_features_decodes_real_media(spark, sf_dir):
    from pg_archiver_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    rows = {
        r.media_type: r
        for r in QUERIES["multimodal_binary_features"](spark, sf_dir).collect()
    }
    assert set(rows) == {"image/png", "audio/wav"}
    png, wav = rows["image/png"], rows["audio/wav"]
    # PNG widths come from the synth rule 8 + (doc_id % 9), doc_id even.
    assert 8 <= png.min_width <= 16
    assert wav.max_duration_ms > 0
    assert png.n_media > 0 and wav.n_media > 0


def test_png_pixels_defilter_all_types_exact():
    # decode_png_pixels must return the EXACT raster for every filter
    # type — this pins the numpy Up-filter fast path against the
    # sequential scalar path (both live in the same de-filter loop).
    from pg_archiver_spark.functions.multimodal import decode_png_pixels

    width, height = 6, 5
    pixels = bytes((i * 53 + 7) % 256 for i in range(width * height))
    payload = _png_with_filters(width, height, pixels, [0, 1, 2, 3, 4])
    w, h, ch, out = decode_png_pixels(payload)
    assert (w, h, ch) == (width, height, 1)
    assert out == pixels


def test_image_resize_op_pins_thumb_dims_and_mean_range(spark, sf_dir):
    from pg_archiver_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    row = QUERIES["multimodal_image_resize"](spark, sf_dir).collect()[0]
    assert row.n_images > 0
    assert (row.thumb_w, row.thumb_h) == (8, 8)
    # milli-scaled 8-bit means live in [0, 255000]; the thumbnail mean
    # tracks the original within the nearest-neighbor value envelope
    # (per-image range checks run INSIDE the kernel and raise on
    # violation, so reaching here proves them for every image).
    assert 0 <= row.avg_orig_mean <= 255_000
    assert 0 <= row.avg_thumb_mean <= 255_000


def test_audio_features_op_bounds(spark, sf_dir):
    from pg_archiver_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    row = QUERIES["multimodal_audio_features"](spark, sf_dir).collect()[0]
    assert row.n_clips > 0
    assert row.total_samples >= row.n_clips  # every clip non-empty
    # 16-bit PCM bounds: peak <= 32767, RMS (milli) <= peak * 1000.
    assert 0 < row.max_peak <= 32_767
    assert 0 < row.avg_rms_milli <= row.max_peak * 1000
    # synth samples are (b-128)*256 over mostly-ASCII text (b<128), so
    # nearly every sample is negative: crossings are rare or zero.
    assert row.total_zero_crossings >= 0


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_decoder_roundtrip_randomized_payloads(seed):
    """VERDICT r11 #6: the registered multimodal ops only ever feed the
    decoders filter-0 grayscale PNGs and 8 kHz mono WAVs, so the other
    decode arms (PNG filters 1-4, RGB/RGBA, other sample rates) had no
    fixture coverage. tools/randfixtures generates spec-valid payloads
    that vary dims / per-scanline filter types (>=1 type-2 Up row
    forced) / channels / rates alongside the exact expected features;
    the decode must match bit-for-bit across 4 seeds x 25 payloads."""
    import os
    import sys

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from randfixtures import rand_png_payload, rand_wav_payload

    from pg_archiver_spark.functions.multimodal import decode_media

    rng = np.random.RandomState(1000 + seed)
    for _ in range(25):
        png, want_png = rand_png_payload(rng)
        assert decode_media(png) == want_png
        wav, want_wav = rand_wav_payload(rng)
        assert decode_media(wav) == want_wav


def test_decoder_rejects_unknown_magic_bytes():
    """Quarantine semantics hold for random garbage too."""
    import numpy as np

    from pg_archiver_spark.functions.multimodal import decode_media

    rng = np.random.RandomState(7)
    blob = bytes(rng.randint(0, 256, size=64).astype(np.uint8).tobytes())
    if blob[:8] == b"\x89PNG\r\n\x1a\n" or blob[:4] == b"RIFF":
        blob = b"\x00" + blob
    with pytest.raises(NotImplementedError):
        decode_media(blob)
