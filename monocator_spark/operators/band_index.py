"""Banded-LSH near-duplicate kernel: one copy of each step every banded
near-dup site runs (SURVEY.md §2 O4, lifted from URLs to documents and
images).

A *band table* has one row per (doc_id, band key) — the MinHash sites key
on ``(band, h0, h1)``, the bit-sampled hash sites on ``BIT_KEYS``. Two
documents are candidates when they share a whole band key; a *verify* is an
optional SQL predicate over the aliases ``a`` (the lower id, or the index
member) and ``b`` that confirms a candidate, e.g.
``bit_count(a.phash ^ b.phash) <= 4``. For bit bands at a Hamming
threshold < bands the pigeonhole principle makes the banded candidates a
superset of the true pairs, so band join + verify equals the quadratic
all-pairs join.

The incremental shape is the paper's visit lifecycle at corpus scale:
state written by earlier work — the persisted band index, like the
IP-keyed ``FullScanCache`` (reference ``src/TODO.MD:41``) — gates later
work without re-reading the corpus it came from. A new batch touches the
index only at band-bucket granularity (an equi-join on the band key).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

BIT_KEYS = ("band_id", "band_val")


def bit_bands(df: DataFrame, hash_col: str, n_bands: int, band_bits: int) -> DataFrame:
    """Bit-sample ``hash_col`` into ``n_bands`` contiguous ``band_bits``-bit
    bands: every row of ``df`` becomes ``n_bands`` rows with ``band_id`` and
    ``band_val`` appended."""
    return df.select(
        "*", F.explode(F.expr(f"sequence(0, {n_bands - 1})")).alias("band_id")
    ).withColumn(
        "band_val",
        F.expr(
            f"shiftright({hash_col}, cast(band_id * {band_bits} as int))"
            f" & cast({(1 << band_bits) - 1} as bigint)"
        ),
    )


def _same_bucket(keys) -> Column:
    return reduce(Column.__and__, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])


def band_pairs(
    bands: DataFrame,
    keys,
    names=("doc_a", "doc_b"),
    carry: dict[str, str] | None = None,
    verify: str | None = None,
) -> DataFrame:
    """Distinct candidate pairs ``a.doc_id < b.doc_id`` sharing a band key,
    kept only where ``verify`` holds. Columns: the two ids named by
    ``names``, then ``carry`` ({output name: ``"a.<col>"`` or
    ``"b.<col>"``})."""
    a, b = bands.alias("a"), bands.alias("b")
    joined = a.join(b, _same_bucket(keys) & (F.col("a.doc_id") < F.col("b.doc_id")))
    if verify is not None:
        joined = joined.where(F.expr(verify))
    cols = [F.col("a.doc_id").alias(names[0]), F.col("b.doc_id").alias(names[1])]
    cols += [F.col(c).alias(n) for n, c in (carry or {}).items()]
    return joined.select(*cols).distinct()


def band_groups(bands: DataFrame, keys) -> DataFrame:
    """Every doc mapped to its representative — the minimum doc_id sharing
    any band key with it — as ``(doc_id, rep_id, is_dup)``: O(docs) output
    however dense the clusters are. A window-min rather than a
    groupBy + self-join, which would compute ``bands`` twice."""
    return (
        bands.withColumn("grp_rep", F.min("doc_id").over(Window.partitionBy(*keys)))
        .groupBy("doc_id")
        .agg(F.min("grp_rep").alias("rep_id"))
        .withColumn("is_dup", F.col("doc_id") > F.col("rep_id"))
    )


def band_index(bands: DataFrame, keys, carry=None) -> DataFrame:
    """The persisted dedup state of an ingested corpus. Without ``carry``:
    one row per occupied bucket, ``(*keys, rep_id)`` with rep_id its
    minimum doc_id. With ``carry`` (the columns a verify reads): one row per
    member, ``(*keys, doc_id, *carry)``."""
    if carry is None:
        return bands.groupBy(*keys).agg(F.min("doc_id").alias("rep_id"))
    return bands.select(*keys, "doc_id", *carry)


def dedup_against_index(
    bands: DataFrame, index: DataFrame, keys, verify: str | None = None
) -> DataFrame:
    """Verdict per batch doc against ``index`` (a ``band_index`` — bucket
    rows without a verify, member rows with one) and against the batch
    itself: ``dup_existing`` (rep = min matching index id) beats
    ``dup_batch`` (rep = min lower batch id) beats ``new`` (rep = itself).
    Output ``(doc_id, verdict, rep_id)``, one row per doc of ``bands``;
    the old side is read only through ``index``."""
    probe = _same_bucket(keys)
    if verify is None:
        rep = "rep_id"
        batch = band_groups(bands, keys).select(
            "doc_id", F.when(F.col("is_dup"), F.col("rep_id")).alias("batch_rep")
        )
    else:
        rep = "doc_id"
        probe = probe & F.expr(verify)
        lower = (
            band_pairs(bands, keys, ("batch_rep", "doc_id"), verify=verify)
            .groupBy("doc_id")
            .agg(F.min("batch_rep").alias("batch_rep"))
        )
        batch = bands.select("doc_id").distinct().join(lower, "doc_id", "left")
    existing = (
        index.alias("a")
        .join(bands.alias("b"), probe)
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(f"a.{rep}").alias("ex_rep"))
    )
    return batch.join(existing, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("ex_rep").isNotNull(), F.lit("dup_existing"))
        .when(F.col("batch_rep").isNotNull(), F.lit("dup_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.coalesce("ex_rep", "batch_rep", "doc_id").alias("rep_id"),
    )
