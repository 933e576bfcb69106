"""Stage 4 of the linkage pipeline: transitive clustering.

Large-star / small-star connected components (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) as an
iterative DataFrame-join loop — the published scalable CC algorithm
the north_rule names. Replaces the reference's implicit transitivity
(it has none; pairs are independent — examples/06-address-comparison.ts).

Node ids may be any orderable type (we use mention-id strings: total
order without a collision-prone hash). Each round:

  large-star: for every node u, connect its strictly-larger neighbors
              to m = min(N(u) ∪ {u});
  small-star: for every node u, connect its smaller-or-equal neighbors
              (and u) to m = min(N≤(u) ∪ {u}).

Convergence: edge multiset stable (checked via count + xor-ish hash
aggregate — two cheap scalars, no expensive except()). ``localCheckpoint``
every iteration cuts the lineage so plans stay O(1) per round; on a
cluster with an Iceberg catalog the same hook writes a snapshot table
instead (resumability path, see plans.pipeline.StageStore).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sym(edges: DataFrame) -> DataFrame:
    return edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = _sym(edges)
    m = nbrs.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least(F.col("mn"), F.col("src")).alias("m")
    )
    return (
        nbrs.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient edges small←large: (u, v) with v <= u
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = e.groupBy("src").agg(F.min("dst").alias("m"))
    joined = e.join(m, "src")
    to_m = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edge = m.select(F.col("src"), F.col("m").alias("dst"))
    return to_m.unionByName(self_edge).filter(F.col("src") != F.col("dst")).distinct()


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: edges are distinct, so xor is an order-free set
    # signature — and it cannot overflow under ANSI mode (Spark 4
    # default), where sum(xxhash64) throws ARITHMETIC_OVERFLOW.
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).first()
    return row["n"], row["h"]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: list | None = None,
) -> DataFrame:
    """→ (node, component) where component = min node id in the
    component, for every node appearing in ``edges``.

    Converges in O(log n) rounds on real graphs; address-duplicate
    clusters (diameter ≤ ~8) converge in 2-4 rounds. Pass ``stats=[]``
    to collect per-round convergence metrics (round, edge count,
    seconds) — the scale-evidence hook used by ``bench.py --cc-scale``.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for i in range(max_iter):
        t0 = time.time()
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        sig = _signature(e)
        if stats is not None:
            stats.append({"round": i + 1, "edges": sig[0],
                          "seconds": round(time.time() - t0, 2)})
        if sig == prev_sig:
            break
        prev_sig = sig

    # e is now a star graph: src → component root (dst)
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn("component", F.col("node"))
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.unionByName(roots).distinct()


def entity_profiles(
    entities: DataFrame,
    components: list[str] | None = None,
    id_col: str = "entity_id",
) -> DataFrame:
    """Golden-record construction: one row per entity with the
    majority-vote value per component across member mentions
    (count desc, value asc tie-break — total order) plus member count.

    The entity-level analogue of Stage-8 resolution: after clustering,
    each member contributes its resolved components; the profile is the
    consensus. One melt (``stack``), one aggregation, one window, one
    pivot — all map-side-combinable."""
    from pyspark.sql import Window

    from ..reference_semantics import ALL_COMPONENTS

    components = components or ALL_COMPONENTS
    stack = ", ".join(f"'{c}', `{c}`" for c in components)
    long = entities.select(
        F.col(id_col), F.expr(f"stack({len(components)}, {stack}) as (component, value)")
    ).filter(F.col("value").isNotNull() & (F.col("value") != ""))
    counts = long.groupBy(id_col, "component", "value").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(id_col, "component").orderBy(F.col("n").desc(), F.col("value"))
    winner = counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    wide = winner.groupBy(id_col).pivot("component", components).agg(F.first("value"))
    # anchor on the members aggregate: an entity whose every component
    # is empty has no row in `wide` and must still appear in the output
    members = entities.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_members"))
    out = members.join(wide, id_col, "left")
    for c in components:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit("")))
    return out.select(id_col, *components, "n_members")


def label_entities(nodes: DataFrame, cc: DataFrame, id_col: str = "mention_id") -> DataFrame:
    """Attach ``entity_id`` to every row of ``nodes`` from a
    :func:`connected_components` result ``cc``: the component root for
    clustered ids, the row's own id for singletons."""
    return (
        nodes.join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("entity_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )


def assign_entity_ids(
    mentions: DataFrame,
    match_edges: DataFrame,
    id_col: str = "mention_id",
) -> DataFrame:
    """Cluster ``match_edges`` and label every mention (see
    :func:`label_entities`)."""
    return label_entities(
        mentions, connected_components(match_edges, "id_a", "id_b"), id_col)
