"""Multimodal plumbing: the block-mean perceptual hash and its banded
near-dup join over binary payloads, checked against an independent
Python reference."""


def _ref_blockhash(data: bytes) -> int:
    """Independent Python formulation of media_blockhash."""
    n = len(data)
    if not n:
        return 0
    seg_sum = [0] * 60
    seg_len = [0] * 60
    for i, v in enumerate(data):
        k = i * 60 // n
        seg_sum[k] += v
        seg_len[k] += 1
    total = sum(data)
    h = 0
    for k in range(60):
        if seg_sum[k] * n > total * seg_len[k]:
            h |= 1 << k
    return h


def test_blockhash_matches_python_reference(spark):
    from origami_spark.operators.multimodal import media_blockhash

    payloads = [
        (0, b""),
        (1, b"a"),
        (2, bytes(range(256)) * 3),
        (3, b"the quick brown fox jumps over the lazy dog" * 5),
        (4, b"\x00" * 59),              # shorter than 60 bytes
        (5, b"\xff\x00" * 400),
    ]
    media = spark.createDataFrame(
        [(i, "image", p) for i, p in payloads],
        "media_id bigint, kind string, payload binary")
    got = {r["media_id"]: r["bh"] for r in media_blockhash(media).collect()}
    assert got == {i: _ref_blockhash(p) for i, p in payloads}


def test_media_near_dups_finds_single_byte_edits(spark):
    """One substituted byte leaves the pair within the banding
    guarantee; unrelated payloads (distinct random-ish digests) emit
    no pair."""
    import hashlib

    from origami_spark.operators.multimodal import media_near_dups

    # NON-repeating pseudo-random bytes: a repeating short cycle (e.g.
    # a hex digest * 20) makes every segment sample the same phase and
    # unrelated payloads collide within a few bits — the block-mean
    # hash needs full-width variation to separate, like real pixels
    base = [b"".join(hashlib.sha256(f"{i}|{j}".encode()).digest()
                     for j in range(40))
            for i in range(12)]
    rows = [(i, "image", p) for i, p in enumerate(base)]
    # plant edits of originals 0..3 as ids 100..103
    for i in range(4):
        edited = bytearray(base[i])
        edited[7] = edited[7] ^ 0x5A
        rows.append((100 + i, "image", bytes(edited)))
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary")
    pairs = {(r["media_a"], r["media_b"])
             for r in media_near_dups(media, max_hamming=4).collect()}
    assert {(i, 100 + i) for i in range(4)} <= pairs
    # nothing links two distinct originals
    assert not [p for p in pairs if p[0] < 100 and p[1] < 100]


def test_media_near_dups_pigeonhole_recall_is_exact(spark):
    """Any pair within hamming <= 4 of a 5x12 banding MUST be found:
    plant controlled k-bit flips directly against the banding by
    editing payload segments."""
    from origami_spark.operators.multimodal import (media_blockhash,
                                                    media_near_dups)

    # base alternates all-0x00 / all-0xff segments (10 bytes each), so
    # every segment mean sits FAR from the payload mean and a bit flips
    # iff its whole segment is rewritten — edits are decisive, never
    # boundary-rounded away
    base = bytes(
        (0x00 if (i // 10) % 2 == 0 else 0xFF) for i in range(600))
    variants = [(0, base)]
    for j in range(1, 5):
        b = bytearray(base)
        for seg in range(j):
            lo = seg * 2 * 10            # rewrite an all-0x00 segment
            b[lo:lo + 10] = b"\xff" * 10
        variants.append((j, bytes(b)))
    media = spark.createDataFrame(
        [(i, "image", p) for i, p in variants],
        "media_id bigint, kind string, payload binary")
    hashes = {r["media_id"]: r["bh"]
              for r in media_blockhash(media).collect()}
    pairs = {(r["media_a"], r["media_b"]): r["hamming"]
             for r in media_near_dups(media, max_hamming=4).collect()}
    dists = [bin(hashes[0] ^ hashes[j]).count("1") for j in range(1, 5)]
    # the edits are decisive: exactly j bits flip — distances 1..4 are
    # ALL exercised (a vacuous guard here once hid an untested range)
    assert dists == [1, 2, 3, 4], dists
    for j, d in zip(range(1, 5), dists):
        assert (0, j) in pairs and pairs[(0, j)] == d, (j, d)
