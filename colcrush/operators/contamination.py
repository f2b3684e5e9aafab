"""Benchmark-contamination detection for training-data pipelines.

Before training on a web corpus, every document must be checked for
n-gram overlap against held-out evaluation sets (the standard
decontamination step): a document sharing a large fraction of its
shingles with a benchmark leaks test data into training. This is the
same inverted-index machinery as n-gram Jaccard dedup
(operators/dedup.py), pointed at a corpus x reference pair instead of
corpus x itself.

Scale shape (100 TB corpus, MB-GB reference): shingles are hashed to
xxhash64 longs on both sides so no strings cross the shuffle; the
reference's distinct shingle-hash set is small (benchmarks are tiny
next to the corpus) and the join is a plain equi-join Catalyst/AQE can
broadcast when it fits — no hint, per the SCALE.md manifest-join rule.
Output is one row per corpus document with its overlap fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _shingle_hashes


def contamination_overlap(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    ref_text_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """Per-document overlap fraction against a reference set.

    Returns (``id_col``, n_shingles, n_hits, contamination) where
    contamination = n_hits / n_shingles over the document's DISTINCT
    word ``n``-gram shingles; a document with no shingles (short text)
    reports 0 shingles and null contamination, so thresholding keeps
    it. Shingles are compared via xxhash64 (collisions: ~2^-64 per
    candidate pair — astronomically below any decontamination
    threshold's sensitivity).
    """
    ref_text_col = ref_text_col or text_col
    # _shingle_hashes: shingle STRINGS are never materialized
    # (tuple-variadic xxhash64 per window — token boundaries
    # preserved, so hash sets biject string-shingle sets)
    # and the token array is scope-bound so split() evaluates once per
    # row, not once per shingle (the Catalyst transform-rebinding trap,
    # see CLAUDE.md / dedup._shingle_hashes)
    doc_sh = corpus.select(
        F.col(id_col),
        F.explode_outer(_shingle_hashes(text_col, n)).alias("_h"),
    )
    ref_sh = (
        reference.select(
            F.explode(_shingle_hashes(ref_text_col, n)).alias("_h")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = doc_sh.join(ref_sh, "_h", "left")
    # contamination is the RAW IEEE double division n_hits/n_shingles:
    # exact integer inputs divide bit-identically in any engine, while
    # round(double, 6) diverges between Spark (BigDecimal shortest-repr
    # HALF_UP) and DuckDB on tie-adjacent ratios (e.g. 323/640)
    return joined.groupBy(id_col).agg(
        F.count("_h").alias("n_shingles"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"),
        F.when(
            F.count("_h") > 0,
            F.coalesce(F.sum("_hit"), F.lit(0)) / F.count("_h"),
        ).alias("contamination"),
    )
