"""Near-dup pair joins over hash tables: the banded 64-bit Hamming join
(audio fingerprints, image pHashes) against brute force, and the
sampled-frame Jaccard join (video)."""

from __future__ import annotations

import hashlib
import itertools

import pytest

from catalyst_spark.multimodal import (
    audio_dup_pairs,
    image_dup_pairs,
    video_dup_pairs,
)


@pytest.mark.parametrize("pairs_fn, hash_col", [
    (audio_dup_pairs, "afp"),
    (image_dup_pairs, "phash"),
], ids=["afp", "phash"])
def test_audio_dup_pairs_banded_equals_brute(spark, pairs_fn, hash_col):
    """The shared 8-band join must reproduce the brute-force
    Hamming <= 7 pair set exactly (pigeonhole completeness on both
    64-bit rungs; the registry ops value-prove the same claim against
    DuckDB brute force on their synthetic tables). A null hash is
    absent from the join."""
    fps = [(i, (0x0F0F0F0F0F0F0F0 ^ (i * 0x9E3779B97F4A7C1)) & ((1 << 63) - 1))
           for i in range(40)]
    # plant near dups: ids 100.. flip k contiguous bits of id 0's hash
    # (k = 0..9 straddles the <= 7 cut from both sides)
    base = fps[0][1]
    for k in range(10):
        fps.append((100 + k, base ^ (((1 << k) - 1) << (3 * k % 50))))
    fps.append((200, base ^ 0b11))  # Hamming 2 of id 0
    df = spark.createDataFrame(
        fps + [(300, None)],
        f"media_id long, {hash_col} long")
    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in pairs_fn(df).collect()}
    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(fps, 2):
        a, b = (ia, ib) if ia < ib else (ib, ia)
        d = bin(ha ^ hb).count("1")
        if d <= 7:
            want[(a, b)] = d
    assert got == want and (0, 200) in got and got[(0, 200)] == 2
    assert not any(300 in pair for pair in got)


def test_video_dup_pairs_jaccard_verify(spark):
    """The sampled-frame Jaccard join: a re-mux shares 3 of its 4
    frame hashes with the original (union 5, 600 permille >= 0.5, a
    dup); unrelated material shares none and yields no pair."""
    def hashes(frames):
        return sorted({hashlib.md5(f).hexdigest() for f in frames})

    frames_a = [bytes([65 + i]) * 8 for i in range(4)]
    frames_b = frames_a[:3] + [b"Z" * 16]
    frames_c = [bytes([100 + i]) * 8 for i in range(4)]
    got = {1: hashes(frames_a), 2: hashes(frames_b), 3: hashes(frames_c)}
    assert len(got[1]) == 4 and len(set(got[1]) & set(got[2])) == 3
    assert not set(got[1]) & set(got[3])
    fh = spark.createDataFrame(
        list(got.items()),
        "media_id long, frame_hashes array<string>")
    pairs = video_dup_pairs(fh).collect()
    assert [(r["a_id"], r["b_id"], r["n_shared"], r["n_union"],
             r["jaccard_permille"]) for r in pairs] == [(1, 2, 3, 5, 600)]
