"""Perceptual-hash image near-duplicate detection over the real codecs.

Composes two families the engine already ships: the multimodal binary
codecs (``operators/multimodal.py`` — real BMP/PNG/JPEG decodes) and the
banded dedup discipline of ``operators/dedup.py`` (band join, hot-band
cap, connected components).  This is the standard multimodal
curation primitive (LAION-style image dedup): a 64-bit difference hash
(dHash) per image, then a pigeonhole-complete banded self-join so the
candidate set is bucket-bounded instead of all-pairs.

Reference analog: the reference extracts visual elements from documents
(`src/core/text_extractor.py:157-245`) but never deduplicates them
across documents; this closes that gap for a training-data pipeline.

Scale shape (100 TB):
* the hash is computed in the same ``mapInPandas`` pass that already
  decodes payloads, so image bytes never cross an Exchange — only the
  8-byte hash does;
* candidate generation is a self-join on 16-bit band values (4 bands),
  which for ``max_hamming`` ≤ 3 is pigeonhole-complete (≤3 differing
  bits can dirty at most 3 of the 4 bands, so at least one band matches
  exactly);
* hot bands (flat/constant images all hash to the same value) are
  capped at ``MAX_BAND_MEDIA`` exactly as ``_jaccard_pairs_from`` caps
  LSH buckets: a band holding B images would emit B² verification
  pairs, and a band that crowded already implies mass duplication, so
  its members are reported in the ``skipped`` census instead of being
  pairwise-verified;
* verification is exact JVM-side ``bit_count(xor)`` — no Python in the
  join or filter.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .multimodal import _PNG_SIG, decode_bmp, decode_jpeg, decode_png

# 64-bit hash → 4 bands × 16 bits: pigeonhole-complete for hamming ≤ 3
PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_HAMMING_MAX = 3
# a band holding B images generates B² candidate pairs; cap as
# dedup.MAX_BAND_DOCS does for LSH buckets (flat images are the
# pathological case: every constant-color image has dHash 0)
MAX_BAND_MEDIA = 64


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash of an ``[h, w, 3]`` uint8 pixel array.

    Grayscale is the unweighted channel mean — deliberately, so the hash
    is identical for the same image decoded from BMP (BGR rows) and PNG
    (RGB rows); a luma-weighted gray would differ between the two
    channel orders.  The image is block-mean pooled onto a 9×8 grid
    (integer cell boundaries, every pixel counted once; degenerate
    dimensions < grid size fall back to nearest-neighbor sampling), and
    bit (r, c) is 1 iff cell[r, c+1] > cell[r, c] — the horizontal
    gradient sign, robust to uniform brightness/contrast shifts.

    Returns a SIGNED 64-bit int (two's complement) so the value fits a
    Spark ``long`` column exactly.
    """
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    cells = np.empty((8, 9), dtype=np.float64)
    for r in range(8):
        y0 = (r * h) // 8
        y1 = max(y0 + 1, ((r + 1) * h) // 8)
        for c in range(9):
            x0 = (c * w) // 9
            x1 = max(x0 + 1, ((c + 1) * w) // 9)
            cells[r, c] = gray[y0:y1, x0:x1].mean()
    bits = (cells[:, 1:] > cells[:, :-1]).flatten()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def _decode_pixels(payload: bytes):
    payload = bytes(payload)
    if payload[:2] == b"BM":
        codec, dec = "bmp", decode_bmp
    elif payload[:8] == _PNG_SIG:
        codec, dec = "png", decode_png
    elif payload[:2] == b"\xff\xd8":
        codec, dec = "jpeg", decode_jpeg
    else:
        return None, None
    _w, _h, _m, pixels = dec(payload)
    return codec, pixels


PHASH_SCHEMA = "media_id long, codec string, phash long, valid boolean"


def image_phashes(media: DataFrame) -> DataFrame:
    """Per-image 64-bit dHash via ``mapInPandas`` — decode and hash in
    one pass so payload bytes never leave the scan task; downstream sees
    only (media_id, codec, phash).  Non-image payloads and decode
    failures quarantine as ``valid = false`` rows (per-row error
    tolerance, the S5 discipline), never failing the batch."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    codec, pixels = _decode_pixels(payload)
                except Exception:
                    codec, pixels = None, None
                if pixels is None:
                    rows.append((mid, codec, None, False))
                else:
                    rows.append((mid, codec, dhash64(pixels), True))
            # phash is built as nullable Int64 from the START: a batch
            # mixing a quarantined None with real hashes would otherwise
            # be inferred float64 at DataFrame construction, silently
            # rounding away the low bits of 64-bit hashes (observed
            # live: ...516991 came back ...516608 — every near-dup pair
            # in such a batch vanished)
            yield pd.DataFrame({
                "media_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "codec": pd.Series([r[1] for r in rows], dtype="object"),
                "phash": pd.Series([r[2] for r in rows], dtype="Int64"),
                "valid": pd.Series([r[3] for r in rows], dtype="bool"),
            })

    return media.mapInPandas(op, schema=PHASH_SCHEMA)


def phash_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = PHASH_HAMMING_MAX,
    max_band_media: int = MAX_BAND_MEDIA,
) -> DataFrame:
    """Banded Hamming self-join over 64-bit perceptual hashes.

    → (media_a, media_b, hamming) with ``hamming`` ≤ ``max_hamming``,
    one row per unordered pair.  Complete for every pair not entirely
    inside over-cap bands (see module docstring); the caller can read
    the over-cap census from :func:`phash_hot_bands`.

    All candidate generation and verification is JVM-side: band values
    are shift/mask expressions, the verify predicate is
    ``bit_count(a.phash XOR b.phash)``.
    """
    if max_hamming >= PHASH_BANDS:
        raise ValueError(
            f"banding is pigeonhole-complete only for hamming < "
            f"{PHASH_BANDS} (got max_hamming={max_hamming})"
        )
    valid = hashes.filter(F.col("valid")).select("media_id", "phash")
    mask = (1 << PHASH_BAND_BITS) - 1
    band_structs = F.array(*[
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftrightunsigned("phash", PHASH_BAND_BITS * i)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for i in range(PHASH_BANDS)
    ])
    bands = valid.select(
        "media_id", "phash", F.explode(band_structs).alias("band")
    ).select("media_id", "phash", "band.band_idx", "band.band_val")
    # hot-band cap: windowless groupBy census, then inner-join survivors
    # (the census is tiny — one row per occupied band bucket)
    sizes = bands.groupBy("band_idx", "band_val").agg(
        F.count("*").alias("n_in_band")
    )
    bands = bands.join(
        sizes.filter(F.col("n_in_band") <= max_band_media),
        ["band_idx", "band_val"],
    ).select("media_id", "phash", "band_idx", "band_val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def phash_hot_bands(
    hashes: DataFrame, max_band_media: int = MAX_BAND_MEDIA
) -> DataFrame:
    """Census of the band buckets the pair join skipped (over the cap):
    (band_idx, band_val, n_in_band).  At 100 TB this is the operator's
    observability surface — the same contract as the LSH hot-band skip
    and the ANN recall ledgers: every approximation reports what it
    dropped instead of silently truncating."""
    valid = hashes.filter(F.col("valid")).select("phash")
    mask = (1 << PHASH_BAND_BITS) - 1
    band_structs = F.array(*[
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftrightunsigned("phash", PHASH_BAND_BITS * i)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for i in range(PHASH_BANDS)
    ])
    return (
        valid.select(F.explode(band_structs).alias("band"))
        .select("band.band_idx", "band.band_val")
        .groupBy("band_idx", "band_val")
        .agg(F.count("*").alias("n_in_band"))
        .filter(F.col("n_in_band") > max_band_media)
    )


def phash_brute_force_pairs(
    hashes: DataFrame, max_hamming: int = PHASH_HAMMING_MAX
) -> DataFrame:
    """All-pairs reference implementation (test oracle for the banded
    join's completeness; never the scale path — O(N²) join)."""
    valid = hashes.filter(F.col("valid")).select("media_id", "phash")
    a, b = valid.alias("a"), valid.alias("b")
    return (
        a.join(b, F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Census → ACTION: end-to-end media dedup (pairs → clusters → keep-first)
# ---------------------------------------------------------------------------


def media_dedup_victims(
    hashes: DataFrame,
    max_hamming: int = PHASH_HAMMING_MAX,
    max_band_media: int = MAX_BAND_MEDIA,
) -> DataFrame:
    """media_ids to DROP under the perceptual near-dup decision: every
    duplicate-cluster member except the canonical (minimum id) — the
    ``fuzzy_dedup_victims`` flow applied to images.  Clustering runs the
    same star-contraction CC as the text pipeline over the verified
    hamming pairs, so transitively-linked variants (a → a′ → a″ where a
    and a″ are > max_hamming apart) still collapse to ONE keeper.  The
    victim table is cluster-scale (small by construction); consumers
    broadcast-anti-join it against the media scan."""
    from .dedup import connected_components_star

    # the decode+hash mapInPandas pass is the expensive stage; without a
    # persist it re-executes for the band-size census and BOTH sides of
    # the self-join.  CC runs eagerly (driver-loop actions over
    # localCheckpointed frames), so a cache this call made can drop
    # before returning; a caller's cache stays for its own later reads.
    owns_cache = not hashes.is_cached
    if owns_cache:
        hashes = hashes.persist()
    try:
        pairs = phash_near_dup_pairs(hashes, max_hamming, max_band_media)
        clusters = connected_components_star(
            pairs.select(
                F.col("media_a").alias("doc_a"),
                F.col("media_b").alias("doc_b"),
            )
        )
    finally:
        if owns_cache:
            hashes.unpersist()
    return (
        clusters.select(
            "component",
            F.explode(F.split("members", ",")).alias("member"),
        )
        .select("component", F.col("member").cast("bigint").alias("media_id"))
        .filter(F.col("media_id") != F.col("component"))
        .select("media_id")
        .distinct()
    )
