"""Perceptual-hash image near-dup (operators/media_dedup.py) and the
``run_media_dedup`` job: hash invariants, cross-codec stability, pigeonhole
completeness of the banded join vs the brute-force oracle, hot-band
capping, and the job's row accounting."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

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


def test_synthesize_media_pins_image_rows(spark):
    """The synthetic table is images only, and its (media_id, payload)
    pairs hash to the digest of the image rows of the earlier mixed
    image/audio/video generator: every image kept its id and bytes."""
    import struct

    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        synthesize_media,
    )

    rows = sorted(
        synthesize_media(spark, n=300, seed=42).collect(),
        key=lambda r: r["media_id"],
    )
    assert {r["kind"] for r in rows} == {"image"}
    digest = hashlib.sha256()
    for r in rows:
        payload = bytes(r["payload"])
        digest.update(struct.pack(">qI", r["media_id"], len(payload)) + payload)
    assert (len(rows), digest.hexdigest()) == (
        100, "b071b38fa28393d9ec775c9c258bc7a5c0525abcd749ef953d4cab1c0a1690dd"
    )


def _run_media_dedup():
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_media_dedup import run_media_dedup

    return run_media_dedup


def _kept_ids(spark, out: str) -> list:
    import os

    kept = spark.read.parquet(os.path.join(out, "media_kept"))
    return sorted(r["media_id"] for r in kept.select("media_id").collect())


def test_run_media_dedup_plant_dups(spark, tmp_path):
    """The job on the synthetic table with planted exact copies: kept +
    victims = input, every planted copy is a victim and its original is
    kept."""
    out = str(tmp_path / "md")
    lineage = _run_media_dedup()(spark, out, synthesize_n=90, plant_dups=5)
    originals = [0, 3, 6, 9, 12]  # the first 5 image ids
    planted = {m + 10_000_000 for m in originals}
    assert lineage["n_media"] == 30 + 5
    assert lineage["n_kept"] + lineage["n_near_dup_victims"] == lineage["n_media"]
    kept = _kept_ids(spark, out)
    assert len(kept) == lineage["n_kept"]
    assert set(kept) <= set(range(0, 90, 3)) | planted
    assert not planted & set(kept)
    assert set(originals) <= set(kept)


def test_run_media_dedup_input_collapses_chain_keeps_undecodable(spark, tmp_path):
    """The job over an ``--input`` table: a base image and two perturbed
    re-encodes (a transitive chain across codecs) collapse to the one
    minimum-id keeper, distinct images survive, and the undecodable row
    is kept, never dropped."""
    base_px = _block_pixels(100)
    h, w, _ = base_px.shape
    rows = [
        (0, "image", encode_bmp(w, h, base_px.tobytes()), ("s", "m")),
        (200, "image",
         encode_png(w, h, _perturb(base_px, seed=1).tobytes()), ("s", "m")),
        (201, "image",
         encode_jpeg(w, h, _perturb(base_px, seed=2).tobytes()), ("s", "m")),
    ]
    for i in range(5):  # distinct singletons
        px = _block_pixels(300 + i)
        rows.append((10 + i, "image", encode_bmp(w, h, px.tobytes()), ("s", "m")))
    rows.append((999, "image", b"\x00junk", ("s", "bad")))
    in_dir = str(tmp_path / "media")
    spark.createDataFrame(rows, MEDIA_SCHEMA).write.parquet(in_dir)

    out = str(tmp_path / "md")
    lineage = _run_media_dedup()(spark, out, input_dir=in_dir)
    assert _kept_ids(spark, out) == [0, 10, 11, 12, 13, 14, 999]
    assert lineage["n_near_dup_victims"] == 2
    assert lineage["n_nonimage_or_undecodable_kept"] == 1
