"""Relational (pure Catalyst) formulations of MinHash and SimHash.

The library computes signatures and fingerprints in one Arrow
``mapInPandas`` per partition. These token-explode + aggregate plans
are the same hash families written as DataFrame expressions — the
shape the DuckDB oracles use — and serve as the parity references the
production paths are tested against (test_bucketing). They are not
shipped: each shuffles tokens × n_seeds (or × n_bits) rows, which
measured slower than the Arrow path at every budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from information_extraction_for_chinese_nlp_spark.operators.dedup import tokens


def minhash_signatures(docs: DataFrame, n_seeds: int = 4,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, seed, minhash): per-seed min of md5(token#seed)."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    )
    seeded = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_seeds - 1))).alias("seed"),
        "w",
    )
    return seeded.groupBy("doc_id", "seed").agg(
        F.min(F.md5(F.concat_ws("#", "w", "seed"))).alias("minhash")
    )


def minhash_bands(docs: DataFrame, n_bands: int, rows_per_band: int,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, band_id, band): the band strings minhash_lsh_pairs
    buckets on, from per-seed signatures and a per-(doc, band) agg."""
    sigs = minhash_signatures(docs, n_bands * rows_per_band, id_col, text_col)
    return (
        sigs.withColumn("band_id", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"],
                ),
                "|",
            ).alias("band")
        )
    )


def simhash(docs: DataFrame, n_bits: int = 16,
            id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, simhash): n_bits-bit (≤ 32) majority fingerprint."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    ).withColumn("h", F.md5("w"))
    bits = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        "h",
    ).withColumn(
        "vote",
        F.when(
            (F.instr(F.lit("0123456789abcdef"), F.substring("h", F.col("bit") + 1, 1)) - 1)
            % 2
            == 1,
            1,
        ).otherwise(-1),
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.pow(F.lit(2.0), F.col("bit"))).otherwise(0.0)
        )
        .cast("long")
        .alias("simhash")
    )


def simhash_wide(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """-> (doc_id, sim_hi, sim_lo): 64-bit SimHash as two 32-bit words."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    ).withColumn("h", F.md5("w"))
    digit = (
        F.instr(F.lit("0123456789abcdef"), F.substring("h", F.col("bit") % 32 + 1, 1))
        - 1
    )
    bitval = F.when(F.col("bit") < 32, digit % 2).otherwise((digit / 2).cast("int") % 2)
    bits = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        "h",
    ).withColumn("vote", F.when(bitval == 1, 1).otherwise(-1))
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when((F.col("v") > 0) & (F.col("bit") >= 32),
                   F.pow(F.lit(2.0), F.col("bit") - 32)).otherwise(0.0)
        ).cast("long").alias("sim_hi"),
        F.sum(
            F.when((F.col("v") > 0) & (F.col("bit") < 32),
                   F.pow(F.lit(2.0), F.col("bit"))).otherwise(0.0)
        ).cast("long").alias("sim_lo"),
    )
