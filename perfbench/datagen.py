"""Seeded input generators. Every value is a pure function of (seed, row
id), so the same seed gives the same tables on any partitioning."""

from __future__ import annotations

import math
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _unit(seed: int, salt: int):
    """Deterministic uniform [0, 1) per row id."""
    return (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)),
                   F.lit(1_000_003)) / F.lit(1_000_003.0))


def lineitem(spark: SparkSession, n_rows: int, seed: int, *,
             fail_rate: float, drop_rate: float, files: int,
             n_parts: int = 20_000) -> DataFrame:
    """Lineitem-shaped rows, 4 lines per order. A row fails with
    probability ``fail_rate``; ``drop_rate`` of all rows fail through the
    drop-action discount rule, the other failures are spread over the
    quantity, price, ship-date and key-uniqueness rules."""
    r = _unit(seed, 0)
    kind = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(1)), F.lit(4))
    bad = r < F.lit(fail_rate)
    drop = r < F.lit(drop_rate)
    other = bad & ~drop
    qty = F.floor(_unit(seed, 2) * 50) + 1
    price = F.round(qty * (F.lit(900.0) + _unit(seed, 3) * 1000), 2)
    disc = F.round(_unit(seed, 4) * 0.05, 2)
    line = F.col("id") % 4 + 1
    return spark.range(0, n_rows, 1, files).select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(5)),
                F.lit(n_parts)) + 1).alias("l_partkey"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(6)),
                F.lit(1000)) + 1).alias("l_suppkey"),
        F.when(other & (kind == 3), line % 4 + 1).otherwise(line)
        .cast("int").alias("l_linenumber"),
        F.when(other & (kind == 0), F.lit(60.0)).otherwise(qty)
        .cast("double").alias("l_quantity"),
        F.when(other & (kind == 1), F.lit(0.0)).otherwise(price)
        .alias("l_extendedprice"),
        F.when(drop, F.lit(0.06) + F.round(_unit(seed, 7) * 0.04, 2))
        .otherwise(disc).alias("l_discount"),
        F.round(_unit(seed, 8) * 0.08, 2).alias("l_tax"),
        F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                     (F.floor(_unit(seed, 9) * 3) + 1).cast("int"))
        .alias("l_returnflag"),
        F.when(_unit(seed, 10) < 0.5, F.lit("O")).otherwise(F.lit("F"))
        .alias("l_linestatus"),
        F.when(other & (kind == 2), F.lit(None).cast("timestamp")).otherwise(
            F.timestamp_seconds(F.lit(694224000)
                                + F.floor(_unit(seed, 11) * 2500) * 86400))
        .alias("l_shipdate"),
    )


def orders(spark: SparkSession, n_orders: int, seed: int,
           files: int) -> DataFrame:
    return spark.range(0, n_orders, 1, files).select(
        F.col("id").alias("o_orderkey"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(20)),
                F.lit(15_000)) + 1).alias("o_custkey"),
        F.when(_unit(seed, 21) < 0.5, F.lit("F")).otherwise(F.lit("O"))
        .alias("o_orderstatus"),
        F.round(_unit(seed, 22) * 300_000, 2).alias("o_totalprice"),
        F.timestamp_seconds(F.lit(694224000)
                            + F.floor(_unit(seed, 23) * 2400) * 86400)
        .alias("o_orderdate"),
        F.lit("3-MEDIUM").alias("o_orderpriority"),
    )


def write_dq_tables(spark: SparkSession, out: str, n_rows: int, seed: int, *,
                    fail_rate: float, drop_rate: float, files: int) -> None:
    lineitem(spark, n_rows, seed, fail_rate=fail_rate, drop_rate=drop_rate,
             files=files).write.mode("overwrite").parquet(
                 f"{out}/lineitem.parquet")
    orders(spark, math.ceil(n_rows / 4), seed, files).write.mode(
        "overwrite").parquet(f"{out}/orders.parquet")


# ---------------------------------------------------------------- catalog
# The catalog entries read documents / embeddings / lineitem from one
# directory. The corpus mirrors the fixture tables: a 31-word vocabulary,
# a share of near-duplicate documents (so dedup and linkage find pairs),
# and labelled embedding clusters with near-duplicate vectors.

VOCAB = ("the a fast slow big small key order sort table scan merge part "
         "window hash join batch stream spark dup group query row data "
         "filter customer line value agg column vector").split()
LANGS = ("en", "de", "fr", "es", "zh")
EMBED_DIM = 64


def documents(n_docs: int, seed: int) -> list[tuple]:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.25:
            words = rng.choice(texts).split()
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            if rng.random() < 0.3 and len(words) > 12:
                words = words[:-rng.randint(1, 5)]
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(6, 90))]
        texts.append(" ".join(words))
    return [(i, t, LANGS[rng.randrange(len(LANGS))], f"src{i % 7}", len(t))
            for i, t in enumerate(texts)]


def embeddings(n_vecs: int, seed: int, n_labels: int = 8) -> list[tuple]:
    rng = random.Random(seed + 1)
    centers = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)]
               for _ in range(n_labels)]
    rows: list[tuple] = []
    for i in range(n_vecs):
        if rows and rng.random() < 0.15:
            _, base, label = rows[rng.randrange(len(rows))]
            vec = [x + rng.gauss(0, 0.01) for x in base]
        else:
            label = rng.randrange(n_labels)
            vec = [c + rng.gauss(0, 0.8) for c in centers[label]]
        rows.append((i, vec, label))
    return rows


def write_catalog_tables(spark: SparkSession, out: str, seed: int, *,
                         n_docs: int, n_vecs: int, n_lines: int,
                         files: int) -> None:
    spark.createDataFrame(
        documents(n_docs, seed),
        "doc_id long, text string, lang string, source string, n_chars int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    spark.createDataFrame(
        embeddings(n_vecs, seed), "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    # co-purchase graph over 2000 parts, as in the fixture tables
    lineitem(spark, n_lines, seed, fail_rate=0.0, drop_rate=0.0,
             files=files, n_parts=2000).write.mode("overwrite").parquet(
                 f"{out}/lineitem.parquet")


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))
