"""Distributed synthetic-world generation — the scale path for datagen.

``datagen.corpus.write_world`` builds the world driver-side (fine for unit
tests at 10^3–10^4 rows). A 10^10-URL bench frontier cannot be generated on
one driver, so this module re-expresses the SAME pure hash-derived
generators (every value is a function of image index / host / seed index —
no carried RNG state) as ``mapInPandas`` over ``spark.range``: each
executor regenerates its slice independently and bit-identically.

Parity with the driver-side writer is pinned by
``tests/test_distributed_gen.py`` (sorted-collect equality at small n).

Reference analogue: the corpus is the crawlable web the seed-list replay
fetches from (BASELINE.json input_hint shape); seeds are the VisitRequest
queue bootstrap (/root/reference/src/TODO.MD:56).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, IntegerType, LongType,
    StringType, StructField, StructType,
)

CORPUS_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)

SEEDS_SCHEMA = StructType([StructField("url", StringType())])

HOST_STATE_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField(
            "robots_rules",
            ArrayType(
                StructType(
                    [
                        StructField("allow", BooleanType()),
                        StructField("path_prefix", StringType()),
                    ]
                )
            ),
        ),
        StructField("crawl_delay_ms", LongType()),
        StructField("budget_per_epoch", IntegerType()),
        StructField("blacklisted", BooleanType()),
    ]
)


def _corpus_batches_factory(tiny: bool):
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from monocator_spark.datagen.corpus import corpus_row

        for pdf in it:
            rows = [corpus_row(int(i), tiny=tiny) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            if len(out):
                out["w"] = out["w"].astype(np.int32)
                out["h"] = out["h"].astype(np.int32)
                out["phash"] = out["phash"].astype(np.int64)
            yield out

    return gen


def _seed_batches_factory(n_seeds: int, n_images: int, n_hosts: int, dup_frac: float):
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from monocator_spark.datagen.corpus import apply_variant, url_of_image

        n_uniq = max(1, int(n_seeds * (1 - dup_frac)))
        for pdf in it:
            urls = []
            for s in pdf["id"]:
                s = int(s)
                base = s if s < n_uniq else s - n_uniq
                i = (base * 2654435761 + 12345) % n_images
                urls.append(apply_variant(url_of_image(i, n_hosts), s))
            yield pd.DataFrame({"url": urls})

    return gen


def _host_batches_factory(n_images: int):
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from monocator_spark.datagen.corpus import robots_rules_of
        from monocator_spark.functions.hashing import xxh64_str

        for pdf in it:
            rows = []
            for j in pdf["id"]:
                host = f"h{int(j)}.example"
                rows.append(
                    {
                        "host": host,
                        "robots_rules": [
                            (r["allow"], r["path_prefix"])
                            for r in robots_rules_of(host, n_images)
                        ],
                        "crawl_delay_ms": (0, 100, 1000)[xxh64_str("delay|" + host) % 3],
                        "budget_per_epoch": (2, 4, 8)[xxh64_str("budget|" + host) % 3],
                        "blacklisted": xxh64_str("bl|" + host) % 50 == 0,
                    }
                )
            yield pd.DataFrame(rows)

    return gen


CORPUS_BUCKETS = 64


def register_bucketed_corpus(spark: SparkSession, out_dir: str, name: str = "corpus_bucketed") -> str:
    """(Re-)register the bucketed corpus files as a session table.

    Bucket metadata lives in the session catalog, so each new SparkSession
    re-declares the (identical) layout over the existing files.
    """
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"""
        CREATE TABLE {name} (
            image_id STRING, bytes BINARY, w INT, h INT,
            fmt STRING, caption STRING, phash BIGINT
        )
        USING parquet
        CLUSTERED BY (image_id) SORTED BY (image_id) INTO {CORPUS_BUCKETS} BUCKETS
        LOCATION '{out_dir}/corpus_bucketed'
        """
    )
    return name


def write_world_distributed(
    spark: SparkSession,
    out_dir: str,
    *,
    n_images: int,
    n_hosts: int,
    n_seeds: int,
    dup_frac: float = 0.2,
    partitions: int | None = None,
    bucket_corpus: bool = False,
    tiny_images: bool = False,
) -> None:
    """Materialize corpus/seeds/host_state as parquet, generated on executors.

    With ``bucket_corpus`` the corpus is ALSO written as a bucketed+sorted
    table (``corpus_bucketed``): the fetch join then shuffles only the wave
    into the corpus's bucketing — no corpus shuffle, no corpus sort, and no
    driver-side broadcast build per epoch. That is the 100 TB-scale layout:
    you bucket the crawl target store once at ingest; ``scripts/gen_world.py``
    always sets it.
    """
    p = partitions or max(32, spark.sparkContext.defaultParallelism)

    corpus_src = spark.range(n_images, numPartitions=p).mapInPandas(
        _corpus_batches_factory(tiny_images), CORPUS_SCHEMA
    )
    # image payloads are already PNG/JPEG-compressed — snappy on top is a
    # pure codec tax on every later corpus scan (same policy as the store)
    corpus_src.write.mode("overwrite").option(
        "compression", "uncompressed"
    ).parquet(f"{out_dir}/corpus")
    if bucket_corpus:
        import shutil

        shutil.rmtree(f"{out_dir}/corpus_bucketed", ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS corpus_bucketed")
        (
            spark.read.parquet(f"{out_dir}/corpus")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(CORPUS_BUCKETS, "image_id")
            .sortBy("image_id")
            .option("compression", "uncompressed")
            .option("path", f"{out_dir}/corpus_bucketed")
            .saveAsTable("corpus_bucketed")
        )
    (
        spark.range(n_seeds, numPartitions=max(8, p // 4))
        .mapInPandas(
            _seed_batches_factory(n_seeds, n_images, n_hosts, dup_frac), SEEDS_SCHEMA
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/seeds")
    )
    (
        spark.range(n_hosts, numPartitions=max(4, p // 8))
        .mapInPandas(_host_batches_factory(n_images), HOST_STATE_SCHEMA)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/host_state")
    )
