"""query_library: a fixed slice of the query REGISTRY over the bundled sf0.01
tables, every query forced with a noop sink as bench.py does, and a
separate untimed pass that fingerprints each query's result (and warms the
JIT and the Python workers for the timed passes)."""

from __future__ import annotations

import random
import time
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"

# one query per registry module: a broadcast join, the URL-normalising UDF
# the crawl also runs, the text, image and embedding kernels and a window
# over an event stream; few, because every run starts a JVM and the
# benchmark's runs share a fixed time
QUERIES = [
    "broadcast_join_agg", "urlnorm_grid", "tfidf_topk", "phash_hamming_pairs",
    "embedding_cosine_topk", "session_gap_user",
]
# every run times the same number of passes: a later pass runs warmer than
# an earlier one, so a varying count would move the per-query figures
TIMED_PASSES = 3
WARMUP = "topk_global"  # bench.py's warm-up query; not in QUERIES


def module_of(name: str) -> str:
    from monocator_spark.queries import REGISTRY

    return REGISTRY[name][0].__module__.rsplit(".", 1)[1]


def warm_up(spark) -> None:
    from monocator_spark.queries import REGISTRY

    REGISTRY[WARMUP][0](spark, str(DATA)).write.format("noop").mode("overwrite").save()


def order_for(seed: int) -> list[str]:
    names = list(QUERIES)
    random.Random(seed).shuffle(names)
    return names


def timed_pass(spark, names: list[str], span) -> tuple[list[dict], list[str]]:
    """One pass: per query, the registry call (plan) and the noop write.
    ``span(name, **attrs)`` is the tracer's span, or a null context."""
    from monocator_spark.queries import REGISTRY

    rows, errors = [], []
    for name in names:
        mod = module_of(name)
        try:
            t0 = time.monotonic()
            with span(f"queries.{mod}", query=name):
                df = REGISTRY[name][0](spark, str(DATA))
            t1 = time.monotonic()
            with span(f"queries.{mod}.write", query=name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
        except Exception as e:  # a failed query is a failed operation
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        rows.append({"query": name, "module": mod, "plan_s": t1 - t0, "write_s": t2 - t1})
    return rows, errors


def _normalise(col, dtype):
    """A hashable, float-noise-tolerant form of one column: doubles are
    rounded to float precision, maps become sorted entry arrays, and the
    rule recurses through arrays and structs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, T.DoubleType):
        return col.cast("float")
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _normalise(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[
            _normalise(col.getField(f.name), f.dataType).alias(f.name) for f in dtype.fields
        ])
    if isinstance(dtype, T.MapType):
        entries = T.ArrayType(T.StructType([
            T.StructField("key", dtype.keyType), T.StructField("value", dtype.valueType),
        ]))
        return _normalise(F.array_sort(F.map_entries(col)), entries)
    return col


def fingerprint(df) -> list:
    """[row count, order-insensitive sum of per-row hashes] of a result."""
    from pyspark.sql import functions as F

    cols = [_normalise(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return [int(r["n"]), str(r["h"] if r["h"] is not None else 0)]


def fingerprints(spark, names: list[str]) -> dict[str, list]:
    from monocator_spark.queries import REGISTRY

    out = {}
    for name in names:
        try:
            out[name] = fingerprint(REGISTRY[name][0](spark, str(DATA)))
        except Exception as e:
            out[name] = [f"{type(e).__name__}: {e}"]
    return out
