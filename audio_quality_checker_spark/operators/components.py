"""Connected components over near-dup pair edges -> dedup groups.

The last stage of a corpus-dedup pipeline: pair edges (from exact hash
groups, MinHash/SimHash banding, or the guarded hybrid) define a graph
whose connected components are the duplicate clusters; keep one
representative per cluster and the corpus is deduplicated.

Default algorithm: the large-star/small-star alternation (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
MapReduce and Beyond", SoCC 2014 — public).  Each round applies

  large-star(u): connect every STRICTLY LARGER neighbor of u to
      m = min(N(u) + {u})        -> emit (v, m) for v in N(u), v > u
  small-star(u): orient edges high->low, then connect every smaller
      neighbor and u itself to m = min(N(u) + {u})

Both are one groupBy-min (algebraic — map-side partial aggregation
absorbs a hot key's rows before the shuffle) plus one join.  Versus
plain min-label propagation (kept below as
`connected_components_minlabel`), the alternation (a) converges in
O(log^2 n) rounds instead of O(diameter), and (b) is skew-proof: a
high-degree vertex stops being a group key after its neighbors are
repointed at the component minimum, so no reducer keeps receiving the
hot vertex's full edge list every round — the groupBy-skew failure mode
the north rule names for 10^12-edge graphs.  Per-round key-degree skew
is observable through `on_round` and asserted in tests on a 40%-hot
hub fixture.

Convergence is detected by an order-insensitive fingerprint of the edge
set — the edge count plus two independent hashes (a xor and a
decimal(38,0) sum of per-edge xxhash64s, both ANSI-safe), no edge-set
subtract — that `DataFrame.observe` collects while the round's
`localCheckpoint` runs, so a round costs one action.  Non-convergence
within `max_iter` RAISES (round-3 advice: silently returning split
components corrupts downstream keep-one counts).  Each round's edge
list is `localCheckpoint`ed: persist alone keeps the FULL logical
lineage, so analysis time grows per round and dominates within ~10
iterations (measured) — truncation keeps plans flat.  On a cluster with
executor-loss concerns, swap in reliable `checkpoint()` with a
checkpoint dir; the algorithm is unchanged.

At 10^12 docs the working set is the edge list itself — (long, long)
rows that strictly shrink toward one star edge per non-root vertex; no
step materializes anything bigger.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation, functions as F

from audio_quality_checker_spark.session import job_description


def _skew_stats(edges: DataFrame) -> dict:
    """Group-key degree skew (max and median degree of the join/group
    key `u`) for `on_round` callers — an extra action, so only run when
    someone asks for it."""
    row = (
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        .agg(
            F.sum("deg").alias("n"),
            F.max("deg").alias("max_deg"),
            F.percentile_approx("deg", 0.5).alias("p50_deg"),
            F.count(F.lit(1)).alias("n_keys"),
        ).first()
    )
    return {
        "n_edges": row["n"] or 0,
        "max_degree": row["max_deg"] or 0,
        "median_degree": row["p50_deg"] or 0,
        "n_keys": row["n_keys"] or 0,
    }


def _large_star(edges: DataFrame) -> DataFrame:
    """Input: SYMMETRIC edge list (u, v).  Emit (v, m) for v > u where
    m = min(N(u) + {u}); output is again interpreted as undirected."""
    nm = edges.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        edges.join(nm, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Input: edge list oriented high->low (u > v).  Emit (x, m) for
    every x in N(u) + {u} except m itself, m = min(N(u))."""
    nm = edges.groupBy("u").agg(F.min("v").alias("mn"))
    repoint = (
        edges.join(nm, "u")
        .where(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_edge = nm.select("u", F.col("mn").alias("v"))
    return repoint.unionByName(self_edge).distinct()


def _orient_high_low(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()


def _star_edges(
    pairs: DataFrame,
    max_iter: int = 50,
    on_round: Callable[[int, dict], None] | None = None,
) -> DataFrame:
    """The converged star edges (u, v): one edge per non-root vertex u,
    pointing at its component minimum v < u.  Roots have no edge."""
    spark = pairs.sparkSession
    edges = _orient_high_low(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    with job_description(spark, "components: input edges"):
        edges = edges.localCheckpoint()

    prev_fp: tuple | None = None
    for i in range(max_iter):
        # large-star works on the symmetric view of the current edges
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ls = _large_star(sym)
        # small-star needs high->low orientation; large-star output
        # already satisfies u > v (m <= orig-u < v), but re-orienting is
        # cheap insurance and makes the invariant local
        obs = Observation()
        # edge count plus two independent order-insensitive hashes, both
        # exact under ANSI mode: xor cannot overflow, and a decimal(38,0)
        # sum holds 10^19 edges of |xxhash64| < 2^63
        nxt = _small_star(_orient_high_low(ls)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
            F.sum(F.xxhash64("v", "u").cast("decimal(38,0)")).alias("s"),
        )
        with job_description(spark, f"components: round {i}"):
            edges = nxt.localCheckpoint()
            fp = tuple(obs.get.values())
            if on_round is not None:
                on_round(i, _skew_stats(edges))
        if prev_fp == fp:
            return edges
        prev_fp = fp
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} "
        "rounds — graph is pathological or max_iter too low; "
        "refusing to return split components"
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 50,
    on_round: Callable[[int, dict], None] | None = None,
) -> DataFrame:
    """(doc_id, component): component = min doc_id reachable via pair
    edges.  `pairs` needs columns id_a, id_b; vertices are every id
    appearing in any pair (isolated docs are absent — callers union
    them back with component = own id).

    Large-star/small-star alternation; RAISES RuntimeError if the edge
    set has not reached a fixpoint within `max_iter` rounds (O(log^2 n)
    expected — 50 covers any realistic corpus).  `on_round(i, stats)`
    receives per-round edge count and group-key degree skew."""
    with job_description(pairs.sparkSession, "components: vertices"):
        vertices = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .localCheckpoint()
        )
    # fixpoint edges are star edges (member -> component min); roots have
    # no outgoing edge and label themselves
    labels = _star_edges(pairs, max_iter, on_round).select(
        F.col("u").alias("doc_id"), F.col("v").alias("component")
    )
    roots = vertices.join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("component"))
    return labels.unionByName(roots)


def connected_components_minlabel(pairs: DataFrame,
                                  max_iter: int = 25) -> DataFrame:
    """Plain iterative minimum-label propagation — the O(diameter) /
    skew-prone baseline, kept for the A/B test against the star
    alternation.  RAISES on non-convergence (round-3 advice)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
    )
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )

    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"),
                    F.col("component").alias("n_comp"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("n_comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("n_comp", "component")
                ).alias("component"),
            )
            .localCheckpoint()  # eager + lineage truncation
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"min-label propagation did not converge within {max_iter} "
            "rounds (graph diameter exceeds the cap); refusing to "
            "return split components"
        )
    return labels


def keep_one(docs: DataFrame, pairs: DataFrame,
             id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus: one representative (minimum id) per
    duplicate cluster, plus every document that appears in no pair.
    The losers are exactly the converged star edges' sources (every
    non-minimum member has one edge u -> min), so no vertex set or label
    table is built: one anti-join against them."""
    losers = _star_edges(pairs).select(F.col("u").alias(id_col))
    return docs.join(losers, id_col, "left_anti")
