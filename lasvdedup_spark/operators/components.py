"""Distributed connected components: alternating large-star / small-star.

Semantics target: the reference's single-linkage clustering
(/root/reference/lasvdedup/utils/sequence_grouping.py:89-118) — seed a
cluster, absorb anything within threshold of ANY member, repeat — is exactly
connected components of the threshold graph (its tests assert transitive
closure, tests/utils/test_sequence_grouping.py:247-327).

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) — alternate:

  large-star: for each node u, attach every *strictly larger* neighbor to
              m(u) = min(N(u) ∪ {u});
  small-star: orient edges to the smaller endpoint; attach u and all its
              (smaller) neighbors to m(u).

Converges in O(log n) rounds to star graphs rooted at each component's
minimum id. Works directly on string ids (lexicographic min) — no
collision-prone id hashing, no GraphFrames dependency.

Driver-side loop with localCheckpoint() per round to truncate lineage
(otherwise the plan doubles each round and Catalyst analysis time explodes);
convergence is read off each round directly — the edge set is a fixpoint
iff it is a star forest (no node appears as both src and dst, and no src
has two dsts), so no confirmation round is ever computed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    bid = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    m = bid.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    # No distinct() here: the output feeds _small_star, whose min-aggregate
    # is duplicate-insensitive and whose own final distinct dedupes the
    # round's result — the intermediate exchange deduplicated nothing the
    # next operator could not absorb (one exchange per round saved).
    return (
        bid.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
    neighbor_links = (
        oriented.join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    self_links = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        neighbor_links.unionAll(self_links)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_violations(edges: DataFrame) -> int:
    """Number of nodes that break the star-forest shape: a node appearing
    as BOTH a src and a dst, or a src with two different dsts (it points
    at two roots, so its two stars are one component not yet merged).
    Zero iff the edge set is a star forest rooted at component minima,
    which is exactly the alternating large/small-star fixpoint (every
    small-star output edge already has dst < src, and large_star/
    small_star are the identity on a star forest). Run against a LAZY
    localCheckpoint, this one action both materializes the round
    (truncating lineage) and returns the convergence signature.

    Versus the previous (count, xor-hash)-equality check: checksum
    equality can only observe convergence by computing round N+1 and
    finding it equal to round N — one full large+small-star pass (three
    exchanges plus two aggregate joins) spent proving a fixpoint this
    predicate reads off round N directly. The violation census is one
    map-side-combinable groupBy over the round's edges; rounds drop by
    exactly one at every scale."""
    nodes = edges.select(
        F.col("src").alias("n"),
        F.lit(1).alias("s"),
        F.lit(0).alias("d"),
        F.col("dst").alias("t"),
    ).unionAll(
        edges.select(
            F.col("dst").alias("n"),
            F.lit(0).alias("s"),
            F.lit(1).alias("d"),
            F.lit(None).cast("string").alias("t"),
        )
    )
    per_node = nodes.groupBy("n").agg(
        F.max("s").alias("s"),
        F.max("d").alias("d"),
        F.min("t").alias("t_min"),
        F.max("t").alias("t_max"),
    )
    row = per_node.agg(
        F.count(
            F.when(
                ((F.col("s") == 1) & (F.col("d") == 1))
                | (F.col("t_min") != F.col("t_max")),
                1,
            )
        ).alias("v")
    ).collect()[0]
    return int(row["v"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    assume_distinct: bool = False,
    input_cached: bool = False,
) -> DataFrame:
    """edges(src, dst) -> assignments(id, component) for every node that
    appears in an edge; component = min id in the component.

    Callers union in singleton nodes themselves (left join vs node table) —
    the operator only sees the graph, mirroring how the reference's
    cluster_sequences receives only the group's sequences.

    assume_distinct=True skips the defensive de-dup exchange of the input
    edge set. Every pipeline tier already emits distinct unordered pairs
    (salted_pair_join ends in a groupBy, exact star edges are one row per
    member, and the cross-tier merge is itself a groupBy), so the pipeline
    passes True and saves a full shuffle of the edges. Duplicate edges would not corrupt the
    RESULT (the star operations re-distinct each round) — only the
    first-round cost — but the flag should still be set truthfully.

    input_cached=True promises the caller already materialized ``edges``
    (an eager localCheckpoint or a written+re-read stage checkpoint): skip
    this function's own eager checkpoint — round 1's multiple references
    to the narrowed edge view then re-run only a cheap projection over the
    caller's cache instead of paying a SECOND cache write of nearly the
    same rows (the ~4.3 s "edges materialization" item in the round-3
    scaling profile, BENCH.md). Leave False for un-materialized plans:
    round 1 references the input from several sibling subtrees, which
    would otherwise re-execute the whole upstream per reference.
    """
    e = edges.select(
        F.col(edges.columns[0]).cast("string").alias("src"),
        F.col(edges.columns[1]).cast("string").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    if not assume_distinct:
        e = e.distinct()
        e = e.localCheckpoint(eager=True)
    elif not input_cached:
        e = e.localCheckpoint(eager=True)

    for _ in range(max_iter):
        # lazy checkpoint + violation-census action = ONE action
        # materializing the round (see _star_violations); eager=True would
        # spend a second job, and checksum-equality would spend a whole
        # extra confirmation round
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        if _star_violations(e) == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # At fixpoint every edge points directly at its component root (min id).
    # No distinct() on the roots: the groupBy below deduplicates the union
    # anyway — the extra exchange bought nothing.
    nodes_as_src = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
    return nodes_as_src.unionAll(roots).groupBy("id").agg(
        F.min("component").alias("component")
    )


def assign_components(
    all_ids: DataFrame, edges: DataFrame, id_col: str = "url",
    assume_distinct: bool = False, input_cached: bool = False,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """(id, component) for EVERY row in all_ids; nodes without edges become
    their own singleton component (reference Case 1 SingleSequence feed,
    sequence_grouping.py:210-221).

    assume_unique_ids=True skips the defensive distinct() over the id
    universe — a full exchange of the largest table in the job. The
    pipeline passes True: its id column is the page url, a primary key by
    the input contract (validate_pages_schema), so the distinct
    deduplicated nothing."""
    comp = connected_components(
        edges, assume_distinct=assume_distinct, input_cached=input_cached
    )
    ids = all_ids.select(F.col(id_col).cast("string").alias("id"))
    if not assume_unique_ids:
        ids = ids.distinct()
    return ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
