"""Near-dup pair joins over media hash tables.

Each join takes a table of precomputed hashes keyed by `media_id` and
emits the verified near-duplicate pairs, never through an all-pairs
scan:
- `_hamming_band_pairs`: 8-band bucket equi-join plus exact popcount
  verify over a 64-bit hash column, complete for Hamming <= 7;
  `image_dup_pairs` (column `phash`) and `audio_dup_pairs` (column
  `afp`) are its two instances;
- `video_dup_pairs`: equi-join on the exploded sampled-frame hash set,
  verified with the exact integer Jaccard >= 0.5 test.

The registry operators in `queries/pipeline.py` run them on synthetic
deterministic hash tables, and their DuckDB oracles value-check the
result against brute force. Nothing here decodes media.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _hamming_band_pairs(hash_df: DataFrame, hash_col: str,
                        max_hamming: int = 7) -> DataFrame:
    """Shared banded Hamming join over any (media_id, <hash_col>)
    64-bit hash table (r12 — factored out of image_dup_pairs so the
    audio fingerprint rung rides the identical, plan-asserted
    machinery): split the hash into 8 disjoint 8-bit bands,
    bucket-join on (band index, band value), verify candidates with an
    exact popcount — COMPLETE for Hamming <= 7 by pigeonhole (8 bands,
    at most 7 differing bits leave one band untouched). Never an
    all-pairs scan: candidates are equi-join buckets, the verify is
    bit arithmetic on two longs."""
    from pyspark.sql import functions as F

    if max_hamming > 7:
        raise ValueError(
            f"max_hamming={max_hamming} > 7: the 8-band join is only "
            "pigeonhole-complete for Hamming <= 7"
        )
    h = hash_df.where(F.col(hash_col).isNotNull())
    bands = h.select(
        "media_id", F.col(hash_col).alias("_h"),
        F.explode(F.expr(
            f"transform(sequence(0, 7), b ->"
            f" named_struct('b', b,"
            f"  'v', ({hash_col} div shiftleft(1L, b * 8)) % 256))"
        )).alias("band"),
    ).select("media_id", "_h", "band.b", "band.v")
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.b") == F.col("r.b")) & (F.col("l.v") == F.col("r.v"))
            & (F.col("l.media_id") < F.col("r.media_id")),
        )
        .select(
            F.col("l.media_id").alias("a_id"),
            F.col("r.media_id").alias("b_id"),
            F.col("l._h").alias("h_a"),
            F.col("r._h").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.expr("bit_count(h_a ^ h_b)").cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def image_dup_pairs(phash_df: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Banded near-dup join over pHashes — the image instance of
    _hamming_band_pairs (see there for the pigeonhole completeness
    argument), the same guarantee structure as dedup_simhash_pairs on
    text."""
    return _hamming_band_pairs(phash_df, "phash", max_hamming)


def audio_dup_pairs(fp_df: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Banded near-dup join over audio fingerprints — the audio
    instance of _hamming_band_pairs (pigeonhole-complete for
    Hamming <= 7), the third member of the near-dup triad next to
    dedup_simhash_pairs (text) and image_dup_pairs (images)."""
    return _hamming_band_pairs(fp_df, "afp", max_hamming)


def video_dup_pairs(fh_df: DataFrame) -> DataFrame:
    """Near-dup join over sampled-frame hash sets: candidates share at
    least one frame hash (an equi self-join on the exploded hash —
    COMPLETE for any pair with non-empty intersection, trivially, and
    never an all-pairs scan), verified with the exact integer Jaccard
    >= 0.5 test 2·|I| >= |U| (the incremental_shard_dedup convention).
    Emits (a_id, b_id, n_shared, n_union, jaccard_permille) — all
    non-negative integers, the permille one truncating divide of exact
    integers (sign-safe by domain)."""
    from pyspark.sql import functions as F

    ex = fh_df.select("media_id", F.explode("frame_hashes").alias("h"))
    sizes = fh_df.select("media_id", F.size("frame_hashes").alias("n"))
    cand = (
        ex.alias("l")
        .join(
            ex.alias("r"),
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.media_id") < F.col("r.media_id")),
        )
        .groupBy(
            F.col("l.media_id").alias("a_id"),
            F.col("r.media_id").alias("b_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        cand.join(sizes.withColumnRenamed("media_id", "a_id")
                  .withColumnRenamed("n", "na"), "a_id")
        .join(sizes.withColumnRenamed("media_id", "b_id")
              .withColumnRenamed("n", "nb"), "b_id")
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_shared"))
        .where(2 * F.col("n_shared") >= F.col("n_union"))
        .select(
            "a_id", "b_id",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_union").cast("bigint").alias("n_union"),
            F.expr("(n_shared * 1000) div n_union").cast("bigint")
            .alias("jaccard_permille"),
        )
    )
