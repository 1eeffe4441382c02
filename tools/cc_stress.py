"""Connected-components stress with exact ground truth.

The contract gate proves `dedup_clusters` on the sf0.01 corpus (~1k
nodes); this script drives the SAME min-label
``ocr_spark.dedup.connected_components`` at 800k nodes (the default) on
a synthetic graph whose component structure is known by construction,
so every label is verified exactly — not sampled:

- **cliquish region** (the near-dup LSH pair-graph shape):
  ``n_cliques`` complete graphs of ``clique_size`` nodes;
- **one chain** (the adversarial shape): a path of ``chain_len`` nodes —
  diameter ``chain_len - 1``, far beyond any sane min-label round budget.

Ground truth per node is the clique minimum, computable from the id
alone (cliques are id-contiguous), so verification is one narrow filter
— no driver-side graph work.  Two measurements:

1. min-label over the cliquish region — diameter ≤ 2, must label every
   clique node exactly;
2. min-label over ONE chain with the default 25-round budget — must
   raise a ``RuntimeError`` naming ``max_iter`` (documented fail-fast:
   silently-wrong labels are worse than failing), recorded as
   ``minlabel_chain_failfast``.

Everything is generated executor-side from ``spark.range`` — no driver
collections, no per-row Python.

Usage: python tools/cc_stress.py [--cliques N] [--clique-size K]
                                 [--chain-len L] [--out MD]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.mdappend import append_addendum  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--cliques", type=int, default=100_000)
    p.add_argument("--clique-size", type=int, default=8)
    p.add_argument("--chain-len", type=int, default=1000)
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    p.add_argument("--out", help="markdown file to append the addendum to")
    args = p.parse_args()
    if args.clique_size < 2:
        # sequence(0, k-2) counts DOWN when k < 2 (sequence(0, -1) =
        # [0, -1] in Spark), fabricating self-loops and cross-clique
        # edges that the truth labeler would then call mismatches —
        # same descending-sequence trap dedup._gram_table_from_toks guards.
        p.error("--clique-size must be >= 2 (a 1-node clique has no edges)")
    cpus = str(args.cpus)
    if not cpus.isdigit():
        cpus = str(os.cpu_count() or 8)

    from pyspark.sql import functions as F

    from ocr_spark.dedup import connected_components
    from ocr_spark.session import get_spark

    spark = get_spark(
        "ocr-spark-cc-stress", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 4,
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _run(spark, F, connected_components, args, cpus)
    finally:
        spark.stop()


def _run(spark, F, connected_components, args, cpus) -> None:
    k = args.clique_size
    clique_nodes = args.cliques * k

    # --- graph construction (all executor-side) -------------------------
    # clique edges: every pair (i < j) inside each of the n_cliques
    # complete graphs — C(k,2) per clique.
    clique_edges = (
        spark.range(args.cliques)
        .select(F.col("id").alias("c"),
                F.explode(F.sequence(F.lit(0), F.lit(k - 2))).alias("i"))
        .select("c", "i",
                F.explode(F.sequence(F.col("i") + 1, F.lit(k - 1))).alias("j"))
        .select(
            (F.col("c") * k + F.col("i")).alias("id_a"),
            (F.col("c") * k + F.col("j")).alias("id_b"),
        )
    )
    n_edges = clique_edges.count()

    # --- 1. min-label over the cliquish region (the production shape) ---
    # ground truth: the clique minimum from the id alone
    t0 = time.monotonic()
    ml_labels = connected_components(
        spark.range(clique_nodes).select("id"), clique_edges, max_iter=25
    )
    ml_bad = ml_labels.filter(
        F.col("cluster_id") != (F.col("id") / k).cast("bigint") * k
    ).count()
    ml_n = ml_labels.count()
    ml_wall = time.monotonic() - t0

    # --- 2. min-label fail-fast on one chain ----------------------------
    chain = spark.range(args.chain_len - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    failfast = False
    try:
        connected_components(
            spark.range(args.chain_len).select("id"), chain, max_iter=25
        ).count()
    except RuntimeError as e:
        failfast = "max_iter" in str(e)

    rec = {
        "metric": "cc_stress_1m",
        "n_clique_nodes": clique_nodes,
        "n_clique_edges": n_edges,
        "n_cliques": args.cliques,
        "chain_len": args.chain_len,
        "cpus": int(cpus),
        "minlabel_clique_wall_s": round(ml_wall, 1),
        "minlabel_nodes_labeled": ml_n,
        "minlabel_label_mismatches": ml_bad,
        "minlabel_chain_failfast": failfast,
    }
    line = json.dumps(rec)
    print(line)
    if args.out:
        stamp = time.strftime("%Y-%m-%d %H:%M", time.gmtime())
        block = (
            f"\n## Connected-components stress — {clique_nodes:,} clique "
            f"nodes + a {args.chain_len}-node chain fail-fast, exact "
            f"ground truth (tools/cc_stress.py, {stamp})\n\n"
            "```json\n" + line + "\n```\n"
        )
        append_addendum(args.out, block)
    ok = ml_bad == 0 and ml_n == clique_nodes and failfast
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
