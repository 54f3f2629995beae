"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
feature extraction and perceptual hashing are Arrow-batched kernels
over ``mapInPandas``.  The kernels need no image/audio codec: they
compute deterministic payload-level features (length, sha digest, byte
histogram head, block-mean hash over byte segments).  The Spark-side
plumbing (schema, batching, partitioning) is real and tested; only
pixel decode is absent (mirrors origami's OCR ``FAKE`` mode,
``batch/detect/ocr.py:97-101``, which exercises pipeline plumbing
without models).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int,height:int,sample_rate:int,duration_ms:int>"
)

FEATURES_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, digest string, "
    "head_histogram array<int>"
)


def media_features_kernel(batches):
    """mapInPandas kernel: payload -> deterministic features.

    Batch shape: one Arrow batch of binary payloads; per-batch Python,
    per-row only cheap byte ops (hashlib + histogram)."""
    for pdf in batches:
        rows = {k: [] for k in
                ("media_id", "kind", "n_bytes", "digest", "head_histogram")}
        for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
            data = bytes(payload) if payload is not None else b""
            # payload-level by design: no codec in the executor env
            hist = [0] * 16
            for byte in data[:4096]:
                hist[byte >> 4] += 1
            rows["media_id"].append(int(mid))
            rows["kind"].append(kind)
            rows["n_bytes"].append(len(data))
            rows["digest"].append(hashlib.sha256(data).hexdigest())
            rows["head_histogram"].append(hist)
        yield pd.DataFrame(rows)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents corpus: the
    utf-8 payload stands in for image bytes (same plumbing, fake codec —
    the point is schema + batching, not pixels)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def media_features(media: DataFrame) -> DataFrame:
    return media.select("media_id", "kind", "payload").mapInPandas(
        media_features_kernel, schema=FEATURES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual near-dup over binary payloads: block-mean hashing (Yang,
# Gao, Tian 2006, "Block Mean Value Based Image Perceptual Hashing" —
# public; blockhash.io is the open implementation).  The real method
# hashes pixel-block means; with no codec the SAME algorithm runs over
# payload BYTE segments — a one-byte edit changes one segment's sum, so
# near-identical payloads land within a few bits of each other.
#
# Engine-portability: every bit is an INTEGER CROSS-MULTIPLICATION —
# bit k = (seg_sum[k] * n_bytes > total_sum * seg_len[k]) — no
# division, no floats, so the kernel and a DuckDB oracle reconstructing
# bytes from hex(payload) agree exactly.  60 bits (not 64) keeps the
# hash positive in a BIGINT, the hash60 convention.
# ---------------------------------------------------------------------------

BH_BITS = 60
BH_BANDS = 5           # 5 bands x 12 bits: hamming <= 4 is GUARANTEED
                       # to share a band (pigeonhole)

BLOCKHASH_SCHEMA = "media_id bigint, kind string, bh bigint"


def media_blockhash(media: DataFrame) -> DataFrame:
    """(media_id, kind, bh): the 60-bit block-mean hash of each
    payload.  Byte ``i`` of an n-byte payload belongs to segment
    ``i * 60 // n`` (an equal-ish partition whose inverse needs no
    boundary arithmetic — the identical expression runs in the DuckDB
    oracle); bit k is set when segment k's byte mean exceeds the
    payload mean, compared as the integer cross-product
    ``seg_sum * n > total_sum * seg_len``.  Payloads shorter than 60
    bytes leave their unassigned segments at 0 by the same rule.  One
    Arrow batch per call, one bincount per payload — zero Exchange
    before the hash column."""
    import numpy as np

    def kern(batches):
        for pdf in batches:
            ids, kinds, hashes = [], [], []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                n = len(data)
                h = 0
                if n:
                    b = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
                    seg_ids = np.arange(n, dtype=np.int64) * BH_BITS // n
                    seg_sum = np.bincount(
                        seg_ids, weights=b,
                        minlength=BH_BITS).astype(np.int64)
                    seg_len = np.bincount(
                        seg_ids, minlength=BH_BITS).astype(np.int64)
                    total = int(b.sum())
                    # the cross-products reach 255*n^2/60 — past int64
                    # at ~1.4 GB payloads, where numpy would WRAP
                    # silently; 60 Python big-int comparisons per
                    # payload are exact at any size (the oracle
                    # compares in HUGEINT for the same reason)
                    for k in range(BH_BITS):
                        if int(seg_sum[k]) * n > total * int(seg_len[k]):
                            h |= 1 << k
                ids.append(int(mid))
                kinds.append(kind)
                hashes.append(h)
            yield pd.DataFrame(
                {"media_id": ids, "kind": kinds, "bh": hashes})

    return media.select("media_id", "kind", "payload").mapInPandas(
        kern, schema=BLOCKHASH_SCHEMA)


def media_near_dups(media: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Near-duplicate payload pairs: banded blockhash candidate join
    (the SimHash recipe — 5 bands of 12 bits; any pair within
    ``max_hamming`` <= 4 bits shares at least one band by pigeonhole,
    so recall is exact at the default), verified by the TRUE hamming
    distance (xor + bit_count) before any pair is emitted.  Returns
    ``(media_a, media_b, hamming)`` with media_a < media_b.  Plan: one
    kernel pass for hashes, one shuffle on the (band, value) key,
    candidate-bounded verify — nothing all-pairs.

    Precision caveat (measured in tests): payloads that repeat a short
    low-entropy cycle (a tiled thumbnail, a constant-tone clip) sample
    every segment at the same phase and can collide across UNRELATED
    media within a few bits — the block-mean family's documented
    weakness on flat content; gate on payload entropy first when the
    corpus has such degenerate media."""
    from ..session import cache
    from .dedup import _band_cols, _band_pairs, _bit_bands

    if max_hamming > BH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the exact-recall "
            f"guarantee of {BH_BANDS} bands (pigeonhole holds only to "
            f"{BH_BANDS - 1}); raise BH_BANDS or lower the threshold")
    # cached: the hashes feed both self-join sides, and the kernel
    # reads every payload byte
    rows = cache(media_blockhash(media)).select(*_band_cols(
        "media_id", _bit_bands("bh", BH_BITS, BH_BANDS), "bh"))
    return (
        _band_pairs(rows, None, None)
        .select(F.col("id_a").alias("media_a"), F.col("id_b").alias("media_b"),
                F.bit_count(F.col("bh_a").bitwiseXOR(F.col("bh_b")))
                .cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
