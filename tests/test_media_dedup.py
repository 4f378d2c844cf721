"""Perceptual-hash image near-dup + audio features (operators/media_dedup.py,
multimodal.extract_audio_features): hash invariants, cross-codec stability,
pigeonhole completeness of the banded join vs the brute-force oracle,
hot-band capping, and audio feature math on known signals."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
    MAX_BAND_MEDIA,
    dhash64,
    image_phashes,
    phash_brute_force_pairs,
    phash_hot_bands,
    phash_near_dup_pairs,
)
from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    encode_bmp,
    encode_jpeg,
    encode_png,
    encode_wav,
    extract_audio_features,
)


def _block_pixels(seed: int, w: int = 36, h: int = 32) -> np.ndarray:
    """Deterministic 'blocky' test image: each cell of the 9×8 dHash grid
    is constant 0 or 255 (bit from a sha256 chain), so every gradient
    comparison is decisive — small pixel perturbations cannot flip hash
    bits (noise images are the opposite worst case: adjacent cell means
    nearly equal, every bit marginal)."""
    digest = hashlib.sha256(f"phash:{seed}".encode()).digest()
    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))[:72]
    # bit*64 + column*20 tilt: adjacent cells always differ by ≥ 20
    # levels (a tie would make the gradient bit marginal), and the max
    # level 244 leaves headroom so a +10 brightness shift cannot create
    # ties by clipping at 255
    grid = bits.reshape(8, 9).astype(np.int32) * 64
    grid = (grid + np.arange(9, dtype=np.int32)[None, :] * 20 + 16).astype(
        np.uint8
    )
    img = np.repeat(np.repeat(grid, h // 8, axis=0), w // 9, axis=1)
    return np.stack([img] * 3, axis=2)


def _perturb(pixels: np.ndarray, seed: int, n: int = 20) -> np.ndarray:
    """Flip n pixels by ±30 — a small, deterministic 'recompression-ish'
    perturbation that must NOT change the hash of a blocky image."""
    out = pixels.astype(np.int32).copy()
    h, w, _ = out.shape
    digest = hashlib.sha256(f"perturb:{seed}".encode()).digest() * 8
    for i in range(n):
        y, x = digest[2 * i] % h, digest[2 * i + 1] % w
        out[y, x] = np.clip(out[y, x] + (30 if i % 2 else -30), 0, 255)
    return out.astype(np.uint8)


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_invariants():
    px = _block_pixels(1)
    h0 = dhash64(px)
    # deterministic, signed-64 range
    assert h0 == dhash64(px)
    assert -(1 << 63) <= h0 < (1 << 63)
    # uniform brightness shift: gradient signs unchanged
    brighter = np.clip(px.astype(np.int32) + 10, 0, 255).astype(np.uint8)
    assert dhash64(brighter) == h0
    # small perturbation: identical hash on a blocky image
    assert dhash64(_perturb(px, seed=7)) == h0
    # distinct images: far apart
    assert _hamming(h0, dhash64(_block_pixels(2))) > 10
    # degenerate tiny image still hashes (nearest-sample fallback path)
    tiny = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert isinstance(dhash64(tiny), int)


def test_dhash_cross_codec_stability():
    """The same pixel array encoded as BMP and PNG yields the IDENTICAL
    hash (both codecs roundtrip bytes faithfully; gray is the unweighted
    channel mean, so byte order between the two container conventions
    cannot matter), and the lossy JPEG roundtrip stays within the
    near-dup threshold on a blocky image."""
    px = _block_pixels(3)
    h, w, _ = px.shape
    raw = px.tobytes()
    h_bmp = _phash_of(encode_bmp(w, h, raw))
    h_png = _phash_of(encode_png(w, h, raw))
    h_jpg = _phash_of(encode_jpeg(w, h, raw))
    assert h_bmp == h_png
    assert _hamming(h_bmp, h_jpg) <= 3


def _phash_of(payload: bytes) -> int:
    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        _decode_pixels,
    )
    _codec, pixels = _decode_pixels(payload)
    return dhash64(pixels)


def _media_df(spark):
    """12 distinct blocky images (cycling BMP/PNG/JPEG) + 3 planted
    near-dup copies (perturbed re-encodes, one per codec) + 1 hostile
    row."""
    rows = []
    for i in range(12):
        px = _block_pixels(100 + i)
        h, w, _ = px.shape
        enc = [encode_bmp, encode_png, encode_jpeg][i % 3]
        rows.append((i, "image", enc(w, h, px.tobytes()), ("src", "image/x")))
    for j, base in enumerate([0, 4, 8]):  # one planted dup per codec
        px = _perturb(_block_pixels(100 + base), seed=base)
        h, w, _ = px.shape
        enc = [encode_bmp, encode_png, encode_jpeg][j]
        rows.append(
            (100 + base, "image", enc(w, h, px.tobytes()), ("src", "image/x"))
        )
    rows.append((999, "image", b"\x00not-an-image", ("src", "bad")))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_phash_near_dup_pipeline(spark):
    hashes = image_phashes(_media_df(spark)).cache()
    got = {r["media_id"]: r for r in hashes.collect()}
    assert len(got) == 16
    assert got[999]["valid"] is False and got[999]["phash"] is None
    assert {got[i]["codec"] for i in (0, 1, 2)} == {"bmp", "png", "jpeg"}

    pairs = phash_near_dup_pairs(hashes).collect()
    found = {(r["media_a"], r["media_b"]) for r in pairs}
    # the three planted (original, perturbed-copy) pairs are all found...
    assert {(0, 100), (4, 104), (8, 108)} <= found
    # ...at near-zero distance, and every reported pair respects the cap
    by_pair = {(r["media_a"], r["media_b"]): r["hamming"] for r in pairs}
    assert all(by_pair[p] <= 3 for p in [(0, 100), (4, 104), (8, 108)])
    # banded join == brute force (pigeonhole completeness, no hot bands)
    brute = {
        (r["media_a"], r["media_b"])
        for r in phash_brute_force_pairs(hashes).collect()
    }
    assert found == brute
    hashes.unpersist()


def test_phash_hot_band_cap(spark):
    """A flat-image pile-up (identical hashes over the cap) is excluded
    from the pair join and reported in the hot-band census instead."""
    n = MAX_BAND_MEDIA + 6
    rows = [(i, "bmp", 0, True) for i in range(n)] + [
        (1000, "bmp", -1, True),
        (1001, "bmp", -1, True),
    ]
    hashes = spark.createDataFrame(
        rows, "media_id long, codec string, phash long, valid boolean"
    )
    pairs = phash_near_dup_pairs(hashes).collect()
    found = {(r["media_a"], r["media_b"]) for r in pairs}
    assert found == {(1000, 1001)}  # the under-cap pair still verifies
    hot = phash_hot_bands(hashes).collect()
    assert len(hot) == 4  # all 4 bands of the hash-0 pile are hot
    assert all(r["n_in_band"] == n for r in hot)


def test_phash_banding_rejects_incomplete_config(spark):
    hashes = spark.createDataFrame(
        [(1, "bmp", 5, True)],
        "media_id long, codec string, phash long, valid boolean",
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(hashes, max_hamming=4)


def _audio_df(spark):
    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sine = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
    silence = np.zeros(rate // 2, dtype="<i2")
    square = (
        np.where(np.sin(2 * np.pi * 100 * t) >= 0, 32767, -32768)
    ).astype("<i2")
    rows = [
        (0, "audio", encode_wav(rate, sine.tobytes()), ("src", "audio/wav")),
        (1, "audio", encode_wav(rate, silence.tobytes()), ("src", "audio/wav")),
        (2, "audio", encode_wav(rate, square.tobytes()), ("src", "audio/wav")),
        (3, "audio", b"RIFFxxxxWAVEgarbage", ("src", "audio/wav")),
        (4, "image", encode_bmp(2, 2, bytes(12)), ("src", "image/bmp")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_audio_features_known_signals(spark):
    feats = {
        r["media_id"]: r
        for r in extract_audio_features(_audio_df(spark)).collect()
    }
    sine = feats[0]
    assert sine["valid"] and sine["sample_rate"] == 8000
    assert sine["n_samples"] == 8000 and sine["duration_sec"] == 1.0
    # rms of a 0.5-amplitude sine = 0.5/sqrt(2); zcr = 2f
    assert abs(sine["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert abs(sine["zcr"] - 880) < 44
    assert 0.49 <= sine["peak"] <= 0.51
    silence = feats[1]
    assert silence["rms"] == 0.0 and silence["zcr"] == 0.0
    assert silence["peak"] == 0.0 and silence["duration_sec"] == 0.5
    square = feats[2]
    assert square["peak"] >= 0.999  # full-scale → clipping flag
    assert abs(square["rms"] - 1.0) < 0.01
    assert abs(square["zcr"] - 200) < 10
    assert feats[3]["valid"] is False  # corrupt WAV quarantined
    assert feats[4]["valid"] is False  # non-audio payload quarantined


def test_media_dedup_apply_end_to_end(spark):
    """Full flow on a planted family: base image 0 + two perturbed
    re-encodes (a transitive chain across codecs) collapse to the ONE
    minimum-id keeper; every distinct image survives; the undecodable
    row is kept (quarantine, never silent drop)."""
    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        media_dedup_apply,
    )

    base_px = _block_pixels(100)
    h, w, _ = base_px.shape
    rows = []
    # family: 0 (bmp), 200 (png, perturbed seed 1), 201 (jpeg, seed 2)
    rows.append((0, "image", encode_bmp(w, h, base_px.tobytes()), ("s", "m")))
    rows.append(
        (200, "image",
         encode_png(w, h, _perturb(base_px, seed=1).tobytes()), ("s", "m"))
    )
    rows.append(
        (201, "image",
         encode_jpeg(w, h, _perturb(base_px, seed=2).tobytes()), ("s", "m"))
    )
    for i in range(5):  # distinct singletons
        px = _block_pixels(300 + i)
        rows.append((10 + i, "image", encode_bmp(w, h, px.tobytes()), ("s", "m")))
    rows.append((999, "image", b"\x00junk", ("s", "bad")))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    kept = sorted(
        r["media_id"] for r in media_dedup_apply(media).select("media_id").collect()
    )
    assert kept == [0, 10, 11, 12, 13, 14, 999]


def test_media_dedup_victims_keeps_caller_cache(spark):
    """A caller that cached ``hashes`` for its own later reads (the
    ``run_media_dedup`` job runs ``phash_hot_bands`` after the victims)
    still has them cached afterwards; an uncached input is not left
    cached."""
    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        media_dedup_victims,
    )

    hashes = image_phashes(_media_df(spark)).persist()
    victims = {r["media_id"] for r in media_dedup_victims(hashes).collect()}
    assert {100, 104, 108} <= victims
    assert hashes.storageLevel.useMemory
    hashes.unpersist()

    uncached = image_phashes(_media_df(spark))
    media_dedup_victims(uncached).collect()
    assert not uncached.storageLevel.useMemory


def test_dhash_hypothesis_invariants():
    """Property battery over arbitrary images (pure numpy, no Spark):
    determinism, signed-64 range, channel-permutation invariance (gray
    is the unweighted channel mean), lossless BMP roundtrip invariance,
    and row/column monotone-gradient sanity."""
    from hypothesis import given, settings, strategies as st

    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        _decode_pixels,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def prop(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        hv = dhash64(px)
        assert hv == dhash64(px)                      # deterministic
        assert -(1 << 63) <= hv < (1 << 63)           # spark long range
        assert dhash64(px[:, :, ::-1]) == hv          # channel permutation
        enc = encode_bmp(w, h, px.tobytes())          # lossless roundtrip
        _codec, back = _decode_pixels(enc)
        assert dhash64(back) == hv

    prop()
    # monotone horizontal gradient → every comparison bit set (all-ones);
    # monotone vertical gradient → no horizontal contrast → zero
    ramp_x = np.tile(np.linspace(0, 255, 36, dtype=np.uint8), (32, 1))
    ramp_y = np.tile(np.linspace(0, 255, 32, dtype=np.uint8)[:, None], (1, 36))
    assert dhash64(np.stack([ramp_x] * 3, axis=2)) == -1  # all 64 bits set
    assert dhash64(np.stack([ramp_y] * 3, axis=2)) == 0


def _am_signal(seed: int, n: int = 13000) -> np.ndarray:
    """Amplitude-modulated test signal with DECISIVE envelope gradients:
    65 windows each at a distinct deterministic gain level (≥0.05 gap),
    carrier = 440 Hz sine — re-quantization noise cannot flip a window
    comparison (the blocky-image construction, for audio)."""
    digest = hashlib.sha256(f"am:{seed}".encode()).digest() * 3
    levels = np.array(
        [0.1 + 0.9 * (digest[i] % 16) / 16 + (i % 2) * 0.028
         for i in range(65)]
    )
    t = np.arange(n) / 8000.0
    carrier = np.sin(2 * np.pi * 440 * t)
    gain = np.repeat(levels, n // 65 + 1)[:n]
    return carrier * gain


def test_audio_ahash_requantization_invariance():
    """The same signal encoded 16-bit and 8-bit hashes identically
    (envelope gradients decisive); distinct AM patterns are far."""
    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        audio_ahash64,
    )
    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        decode_wav_samples,
    )

    sig = _am_signal(1)
    pcm16 = encode_wav(8000, (sig * 32000).astype("<i2").tobytes())
    pcm8 = encode_wav(
        8000, (sig * 120 + 128).astype(np.uint8).tobytes(), sampwidth=1
    )
    h16 = audio_ahash64(decode_wav_samples(pcm16)[1])
    h8 = audio_ahash64(decode_wav_samples(pcm8)[1])
    assert h16 == h8
    # uniform gain invariance
    quieter = encode_wav(8000, (sig * 16000).astype("<i2").tobytes())
    assert audio_ahash64(decode_wav_samples(quieter)[1]) == h16
    other = audio_ahash64(_am_signal(2))
    assert bin((h16 ^ other) & ((1 << 64) - 1)).count("1") > 10
    assert audio_ahash64(np.array([])) == 0


def test_audio_near_dup_pipeline_reuses_band_join(spark):
    """audio_hashes emits PHASH_SCHEMA, so phash_near_dup_pairs runs
    UNCHANGED over audio: planted 16-vs-8-bit re-encodes of the same
    signals surface as near-dup pairs; distinct signals don't; images
    and junk quarantine out."""
    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        audio_hashes,
        phash_brute_force_pairs,
        phash_near_dup_pairs,
    )

    rows = []
    for i in range(8):  # distinct signals
        sig = _am_signal(10 + i)
        rows.append(
            (i, "audio",
             encode_wav(8000, (sig * 32000).astype("<i2").tobytes()),
             ("s", "audio/wav"))
        )
    for base in (0, 3):  # 8-bit re-encodes of two of them
        sig = _am_signal(10 + base)
        rows.append(
            (100 + base, "audio",
             encode_wav(8000, (sig * 120 + 128).astype(np.uint8).tobytes(),
                        sampwidth=1),
             ("s", "audio/wav"))
        )
    rows.append((999, "image", encode_bmp(2, 2, bytes(12)), ("s", "i")))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    hashes = audio_hashes(media).cache()
    got = {r["media_id"]: r for r in hashes.collect()}
    assert got[999]["valid"] is False
    pairs = phash_near_dup_pairs(hashes)
    found = {(r["media_a"], r["media_b"]) for r in pairs.collect()}
    assert {(0, 100), (3, 103)} <= found
    brute = {
        (r["media_a"], r["media_b"])
        for r in phash_brute_force_pairs(hashes).collect()
    }
    assert found == brute
    hashes.unpersist()


def test_audio_features_stereo_and_unsupported_depths(spark):
    """A 1-second STEREO clip reads duration 1.0 (frame-domain, not
    interleaved-sample-domain) with zcr of the mono mixdown; a 24-bit
    WAV quarantines (reinterpreting its frames as 8-bit would produce
    noise marked valid); a NULL payload quarantines instead of killing
    the batch."""
    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        audio_hashes,
    )
    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        extract_audio_features,
    )

    rate = 8000
    t = np.arange(rate) / rate
    mono = (0.5 * np.sin(2 * np.pi * 440 * t) * 32000).astype("<i2")
    stereo = np.empty(2 * rate, dtype="<i2")
    stereo[0::2] = mono  # L
    stereo[1::2] = mono  # R (identical → mixdown == mono)
    fake24 = encode_wav(rate, bytes(3 * rate), sampwidth=3)
    rows = [
        (0, "audio", encode_wav(rate, stereo.tobytes(), n_channels=2),
         ("s", "audio/wav")),
        (1, "audio", encode_wav(rate, mono.tobytes()), ("s", "audio/wav")),
        (2, "audio", fake24, ("s", "audio/wav")),
        (3, "audio", None, ("s", "audio/wav")),
    ]
    media = spark.createDataFrame(
        # nullable payload variant: MEDIA_SCHEMA declares payload NOT
        # NULL, but foreign tables (the run_media_dedup --input path)
        # may not — the operators must quarantine, not crash
        rows,
        "media_id long, kind string, payload binary, "
        "meta struct<source:string,mime:string>",
    )
    feats = {
        r["media_id"]: r for r in extract_audio_features(media).collect()
    }
    st, mo = feats[0], feats[1]
    assert st["valid"] and st["duration_sec"] == 1.0
    assert st["n_samples"] == rate  # frames, not interleaved samples
    assert st["zcr"] == mo["zcr"]   # identical channels → mono signal
    assert abs(st["rms"] - mo["rms"]) < 1e-6
    assert feats[2]["valid"] is False  # 24-bit refused, not noise
    assert feats[3]["valid"] is False  # null payload quarantined
    hashes = {r["media_id"]: r for r in audio_hashes(media).collect()}
    assert hashes[0]["valid"] and hashes[0]["phash"] == hashes[1]["phash"]
    assert hashes[2]["valid"] is False and hashes[3]["valid"] is False
