"""Observability over encode manifests: codec mix, ratios, chunk sizing.

The operational view of north_rule's "per-partition lineage + metrics":
what did the auto-selector actually choose, and what did it buy?
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def codec_summary(manifest: DataFrame) -> DataFrame:
    """Per (column, codec): chunks, rows, raw/encoded bytes, ratio."""
    return (
        manifest.groupBy("column", "codec")
        .agg(
            F.count(F.lit(1)).alias("chunks"),
            F.sum("n_rows").alias("rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .withColumn(
            "ratio",
            F.round(F.col("enc_bytes") / F.greatest(F.col("raw_bytes"), F.lit(1)), 4),
        )
        .orderBy("column", "codec")
    )

