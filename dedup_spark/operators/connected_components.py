"""Iterative connected components (hash-to-min) over verified pairs.

The reference marks duplicates pairwise and implicitly (dedup.py:164-187);
the north rule makes clusters explicit via a hash-to-min label
propagation loop:

    label(v) ← min( label(v), min over neighbors u of label(u) )

repeated until fixpoint. Labels start as the node's own id, so the
converged label of every node is the minimum conv_id in its component —
deterministic and order-independent.

Catalyst has no fixpoint operator, so the loop is driver-orchestrated:
each iteration is one shuffle join (labels ⋈ symmetric edges) + one
groupBy min; ``localCheckpoint`` after every iteration truncates the
lineage so plans don't grow unboundedly (the Iceberg-table-per-iteration
variant swaps localCheckpoint for a catalog write). Convergence is
O(diameter) iterations for hash-to-min; a graph that does not converge
within ``max_iters`` rounds raises instead of returning partial labels.

Hybrid endgame: dedup edge sets are tiny relative to the corpus (the
pairs that survived LSH + exact verify), so when the edge count fits a
driver budget the fixpoint collapses to one collect + union-find (path
compression, C-speed dict ops) + one broadcast relabel join — replacing
O(diameter) serial-jobs-per-run with a single job. The NODE table is
never collected (at corpus scale it is huge while the edge set is not);
isolated nodes keep their own label via the left join. Result is
bit-identical to the loop (same components, same min-id labels), so the
cutover is a pure physical-strategy choice — at 100 TB with a
billion-edge graph the distributed loop runs instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup_spark.util import eager_ckpt

#: edges collected to the driver when the count is at or below this;
#: ~32 bytes/edge of Python tuples → well under 1 GiB at the cap
DRIVER_EDGE_LIMIT = 5_000_000


def _unionfind_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Driver union-find over a small edge set; returns the same
    (conv_id, cluster_id) contract as the distributed loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # Arrow-batched collect: one job, columnar transfer — toLocalIterator
    # ran one job per partition plus a driver socket server (several
    # seconds of pure serial floor per run even on tiny edge sets)
    edges_pdf = edges.select("conv_a", "conv_b").toPandas()
    for a, b in zip(edges_pdf["conv_a"].to_numpy(), edges_pdf["conv_b"].to_numpy()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller → the root IS the
            # component min, matching the hash-to-min loop's labels
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    spark = nodes.sparkSession
    id_type = nodes.schema["conv_id"].dataType.simpleString()
    if parent:
        import pandas as pd

        ks = list(parent)
        relabel = spark.createDataFrame(
            # Arrow path: a plain list of tuples serializes row-by-row
            # through py4j (seconds at 10^5 edges)
            pd.DataFrame({"conv_id": ks, "cluster_id": [find(x) for x in ks]}),
            f"conv_id {id_type}, cluster_id {id_type}",
        )
    else:
        relabel = spark.createDataFrame([], f"conv_id {id_type}, cluster_id {id_type}")
    return nodes.select("conv_id").join(
        F.broadcast(relabel), "conv_id", "left"
    ).select(
        "conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = 50,
    driver_edge_limit: int = DRIVER_EDGE_LIMIT,
) -> DataFrame:
    """nodes(conv_id) + edges(conv_a, conv_b) → (conv_id, cluster_id).

    cluster_id = min conv_id in the component; isolated nodes label
    themselves.
    """
    if driver_edge_limit > 0 and edges.limit(driver_edge_limit + 1).count() <= driver_edge_limit:
        return _unionfind_labels(nodes, edges)
    sym = (
        edges.select(F.col("conv_a").alias("src"), F.col("conv_b").alias("dst"))
        .union(edges.select(F.col("conv_b").alias("src"), F.col("conv_a").alias("dst")))
        .dropDuplicates(["src", "dst"])
    )
    sym = eager_ckpt(sym)
    labels = eager_ckpt(
        nodes.select(F.col("conv_id"), F.col("conv_id").alias("cluster_id"))
    )

    for it in range(max_iters):
        # label each dst with the (current) min label among its neighbors
        neighbor_min = (
            sym.join(labels, sym.src == labels.conv_id)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        # the "did anything change" flag rides along in the SAME pass
        # (a separate old-vs-new join per iteration doubled the loop's
        # fixed job cost); the convergence probe then just filters the
        # already-checkpointed result
        new_labels = eager_ckpt(
            labels.join(neighbor_min, labels.conv_id == neighbor_min.dst, "left")
            .select(
                "conv_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_label", F.col("cluster_id"))
                ).alias("cluster_id"),
                (
                    F.col("nbr_label").isNotNull()
                    & (F.col("nbr_label") < F.col("cluster_id"))
                ).alias("_changed"),
            )
        )
        labels = new_labels.drop("_changed")
        # probe convergence every 2nd iteration (and on the last): each
        # probe is one driver-serial count job over the checkpointed
        # labels — at worst one extra (idempotent) iteration runs, and
        # the serial job count per run halves (Amdahl tax at high cores)
        if it % 2 == 1 or it == max_iters - 1:
            if new_labels.filter(F.col("_changed")).limit(1).count() == 0:
                break
    else:
        # the last round's probe still saw a label move: the labels are
        # partial, so refuse rather than return split components
        raise RuntimeError(
            f"connected_components did not converge within max_iters="
            f"{max_iters} label-propagation rounds (cc_max_iters); a "
            "component's diameter exceeds the round budget"
        )
    return labels.select("conv_id", "cluster_id")
