"""Connected components over verified pairs: star contraction.

The reference marks duplicates pairwise and implicitly (dedup.py:164-187);
the north rule makes clusters explicit. Every node's label is the minimum
conv_id in its component — deterministic and order-independent.

The distributed path alternates large-star and small-star (Kiveris et
al., *Connected Components in MapReduce and Beyond*, SoCC'14) over the
deduplicated edge set, each edge stored once as (hi, lo) with hi > lo:

* large-star: every edge (hi, lo) becomes (hi, m(lo)), where m(v) is the
  minimum of v's closed neighbourhood — the smallest neighbour smaller
  than v, or v itself;
* small-star: for each hi, with m the smallest lo among its edges, hi
  and every other lo of hi are attached to m: (hi, m) and (lo, m).

Each step keeps the components; the alternation reaches a fixpoint in
O(log n) rounds on paths and trees, whatever the id order (11 rounds on
a shuffled-id path of 4,096 nodes). The loop stops when a round moves
no edge, i.e. leaves the edge set unchanged: then every edge joins a leaf
to its one centre, the centre being the component minimum, and the
labels are ``nodes ⟕ (leaf → centre)`` with unmatched nodes labelling
themselves. The data decides the number of rounds; there is no budget.

Catalyst has no fixpoint operator, so the loop is driver-orchestrated:
each step is ``localCheckpoint``-ed to truncate the lineage, and the
"did an edge move" flag rides along in the step's own rows, so the stop
test is one probe per round over the checkpointed edges.

Hybrid endgame: dedup edge sets are tiny relative to the corpus (the
pairs that survived LSH + exact verify), so when the edge count fits a
driver budget the fixpoint collapses to one collect + union-find (path
compression, C-speed dict ops) + one broadcast relabel join — replacing
O(log n) serial rounds per run with a single job. The NODE table is
never collected (at corpus scale it is huge while the edge set is not);
isolated nodes keep their own label via the left join. Result is
bit-identical to the loop (same components, same min-id labels), so the
cutover is a pure physical-strategy choice — at 100 TB with a
billion-edge graph the distributed loop runs instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

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
            # component min, matching the star loop's labels
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


def _star_contract(edges: DataFrame) -> tuple[DataFrame, int]:
    """edges(conv_a, conv_b) → ((hi = leaf, lo = centre) rows, rounds):
    alternating large-star/small-star until a round moves no edge."""
    e = eager_ckpt(
        edges.filter(F.col("conv_a") != F.col("conv_b"))
        .select(
            F.greatest("conv_a", "conv_b").alias("hi"),
            F.least("conv_a", "conv_b").alias("lo"),
        )
        .distinct()
    )
    by_hi = Window.partitionBy("hi")
    rounds = 0
    while True:
        rounds += 1
        # large-star: (hi, lo) → (hi, m(lo)); m(lo) is lo's smallest
        # smaller neighbour, which exists iff lo is some edge's hi
        m = e.groupBy(F.col("hi").alias("v")).agg(F.min("lo").alias("m"))
        e = eager_ckpt(
            e.join(m, e.lo == m.v, "left").select(
                "hi",
                F.coalesce("m", "lo").alias("lo"),
                F.col("m").isNotNull().alias("_moved"),
            )
        )
        # small-star: hang hi and all its lo's on the smallest lo; the
        # group's flag covers the large-star moves of its edges too
        g = e.select(
            "hi",
            "lo",
            F.min("lo").over(by_hi).alias("m"),
            (
                F.max("_moved").over(by_hi)
                | (F.max("lo").over(by_hi) != F.min("lo").over(by_hi))
            ).alias("_moved"),
        )
        e = eager_ckpt(
            g.select("hi", F.col("m").alias("lo"), "_moved")
            .union(
                g.filter(F.col("lo") != F.col("m")).select(
                    F.col("lo").alias("hi"), F.col("m").alias("lo"), "_moved"
                )
            )
            .groupBy("hi", "lo")
            .agg(F.max("_moved").alias("_moved"))
        )
        if e.filter(F.col("_moved")).limit(1).count() == 0:
            return e.select("hi", "lo"), rounds


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    driver_edge_limit: int = DRIVER_EDGE_LIMIT,
) -> DataFrame:
    """nodes(conv_id) + edges(conv_a, conv_b) → (conv_id, cluster_id).

    cluster_id = min conv_id in the component; isolated nodes label
    themselves.
    """
    if driver_edge_limit > 0 and edges.limit(driver_edge_limit + 1).count() <= driver_edge_limit:
        return _unionfind_labels(nodes, edges)
    stars, _ = _star_contract(edges)
    return nodes.select("conv_id").join(
        stars.select(F.col("hi").alias("conv_id"), F.col("lo").alias("cluster_id")),
        "conv_id",
        "left",
    ).select(
        "conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id")
    )
