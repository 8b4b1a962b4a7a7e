"""Generic skew-proof unordered-pair generation from a keyed table.

One routine serves every tier that turns key collisions into candidate
pairs — LSH band buckets (minhash), token L-grams (substring), hyperplane
buckets (ann). All three share the same scale hazard: a boilerplate key
with m members puts m^2/2 pair enumerations in one task. The fix is the
north rule's salted join, written once.

Every operator here routes through ``_split_hot``, the one small-key /
hot-key split: a key-size census, checkpointed once, and two broadcast
probes that divide the rows into cold keys (at most ``cutoff`` members)
and hot keys. Cold keys take the plain path, hot keys the salted (or, for
``capped_by_key``, the thresholded) path.

Lazy by construction: no action runs at plan-composition time (the round-1
version ran an isEmpty() census to route around the salt machinery; that
executed the whole upstream subtree just to build a plan and made the
operator illegal on streaming DataFrames). Instead the plan is always
  plain(cold keys, via left_anti)  UNION  salted(hot keys, via left_semi)
and when no key exceeds the cutoff the salted side is simply empty at
runtime — the empty case costs one map-side-combinable size census and two
broadcast probes, not a driver-side branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _split_hot(
    keyed: DataFrame, key_col: str, cutoff: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (cold_rows, hot_rows, hot_keys): the rows of ``keyed`` whose key
    has at most ``cutoff`` members, the rows whose key has more, and the
    one-column table of those hot keys.

    Spark has no cross-subtree CSE, so both shared inputs get a lazy
    checkpoint (still no job at composition time): ``keyed`` feeds the
    census and both probes, and the census feeds every broadcast probe —
    without its own checkpoint the full census aggregation appears once
    per probe in the physical plan (4 Exchange census subtrees in the r06
    before-plans of a self-join)."""
    keyed = keyed.localCheckpoint(eager=False)
    sizes = keyed.groupBy(key_col).agg(F.count("*").alias("_ksz"))
    hot_keys = (
        sizes.where(F.col("_ksz") > cutoff)
        .select(key_col)
        .localCheckpoint(eager=False)
    )
    cold = keyed.join(F.broadcast(hot_keys), key_col, "left_anti")
    hot = keyed.join(F.broadcast(hot_keys), key_col, "left_semi")
    return cold, hot, hot_keys


def salted_pair_join(
    keyed: DataFrame,
    key_col: str,
    salt_buckets: int,
    skew_cutoff: int,
    count_alias: str = "n_keys",
    id_col: str = "id",
    carry: str | None = None,
    dedup: bool = True,
) -> DataFrame:
    """keyed(id, key) -> distinct unordered pairs (id_a < id_b, <count_alias>)
    where <count_alias> = number of distinct keys the pair collided on.

    The a.id < b.id predicate is the reference's i<j pair dedup
    (/root/reference/lasvdedup/utils/distance_matrix.py:38). Dedup across
    keys via groupBy (map-side partial agg), never distinct() on the
    exploded rows.

    Skew: keys with more than ``skew_cutoff`` members take a salted path —
    the left side keeps one salt s(id) = pmod(xxhash64(id), S), the right
    side replicates to every salt; joining on (key, salt) yields each
    unordered pair exactly once (from the orientation where the smaller id
    sits on the left) while spreading the key's pair space over S tasks.
    AQE skew-join stays on as a backstop for milder imbalance. S =
    ``salt_buckets`` must be >= 1; S=1 keeps the hot/cold split but
    gives a hot key a single task.

    carry: optional NARROW per-id payload column in ``keyed`` to ride
    through the join into the output as <carry>_a / <carry>_b. For a
    scalar payload (simhash's one int64) this deletes the two
    join-the-values-back-for-verify shuffles entirely; for wide payloads
    (minhash signatures, embedding vectors) do NOT carry — the payload
    would multiply through every (key, id) row of the shuffle, which is
    exactly what the candidates-then-verify shape avoids.

    dedup=False skips the pair groupBy — the one full exchange of the
    candidate set — and instead returns one row PER COLLIDING KEY with the
    key column included (named <key_col>; no <count_alias>). For callers
    whose carried payload lets them decide, per row, whether this key is
    the pair's canonical one (simhash: the first agreeing band is
    derivable from the two fingerprints), a map-side filter then yields
    each pair exactly once with NO shuffle at all.
    """
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    kid = F.col(id_col)
    pa, pb = (f"{carry}_a", f"{carry}_b") if carry else (None, None)

    def _pair_cols(prefix_a: str = "a", prefix_b: str = "b") -> list:
        cols = [
            F.col(f"{prefix_a}.{id_col}").alias("id_a"),
            F.col(f"{prefix_b}.{id_col}").alias("id_b"),
        ]
        if carry:
            cols += [
                F.col(f"{prefix_a}.{carry}").alias(pa),
                F.col(f"{prefix_b}.{carry}").alias(pb),
            ]
        if not dedup:
            cols.append(F.col(f"{prefix_a}.{key_col}").alias(key_col))
        return cols

    # payload is functionally dependent on id, so grouping by it too keeps
    # the same (id_a, id_b) groups while letting it ride the aggregation
    group_cols = ["id_a", "id_b"] + ([pa, pb] if carry else [])

    small, skewed, _ = _split_hot(keyed, key_col, skew_cutoff)
    plain = (
        small.alias("a")
        .join(small.alias("b"), key_col)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*_pair_cols())
    )

    s = salt_buckets
    left = skewed.withColumn("_salt", F.pmod(F.xxhash64(kid), F.lit(s)))
    right = skewed.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
    salted = (
        left.alias("a")
        .join(right.alias("b"), [key_col, "_salt"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*_pair_cols())
    )

    both = plain.unionByName(salted)
    if not dedup:
        return both
    return both.groupBy(*group_cols).agg(F.count("*").alias(count_alias))


def salted_cross_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    salt_buckets: int,
    skew_cutoff: int,
    count_alias: str = "n_keys",
    id_col: str = "id",
    out_left: str = "id_l",
    out_right: str = "id_r",
    dedup: bool = True,
) -> DataFrame:
    """Bipartite analog of salted_pair_join: every (left-id, right-id)
    collision on ``key_col``, with <count_alias> = number of distinct keys
    the pair collided on. Pass the UNBOUNDED side as ``right`` — the skew
    census runs there (the streaming use: ``left`` = one micro-batch,
    bounded by trigger size; ``right`` = the accumulated band index, which
    grows without bound, so a boilerplate key's hot spot lives on that
    side).

    Skew: keys whose RIGHT membership exceeds ``skew_cutoff`` take the
    salted path — each right row keeps one salt s(id) = pmod(xxhash64(id),
    S) and the (bounded) left side replicates to every salt, so the hot
    key's pair space spreads over S tasks while each (l, r) pair is still
    produced exactly once. Same dedup discipline as salted_pair_join:
    groupBy on the pair (map-side combinable), never distinct() on the
    exploded rows. Both inputs are referenced by multiple subtrees
    (census / anti / semi), hence the lazy localCheckpoints — still no job
    at plan-composition time.

    dedup=False skips the final pair groupBy (and the <count_alias>
    column): for callers where each (l, r) pair can only arise via ONE key
    by construction (IVF: every target lives in exactly one inverted
    list), the groupBy would be a full extra exchange of the candidate set
    that deduplicates nothing."""
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")

    def _out(a: str = "a", b: str = "b") -> list:
        return [
            F.col(f"{a}.{id_col}").alias(out_left),
            F.col(f"{b}.{id_col}").alias(out_right),
        ]

    left = left.localCheckpoint(eager=False)
    r_small, r_big, big = _split_hot(right, key_col, skew_cutoff)
    plain = left.alias("a").join(r_small.alias("b"), key_col).select(*_out())

    s = salt_buckets
    l_big = left.join(F.broadcast(big), key_col, "left_semi").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    )
    r_big = r_big.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)))
    salted = l_big.alias("a").join(r_big.alias("b"), [key_col, "_salt"]).select(*_out())

    both = plain.unionByName(salted)
    if not dedup:
        return both
    return both.groupBy(out_left, out_right).agg(
        F.count("*").alias(count_alias)
    )


def capped_by_key(
    keyed: DataFrame,
    key_col: str,
    cap: int | None,
    id_col: str = "id",
) -> DataFrame:
    """Cap every key group to at most ``cap`` rows — deterministically and
    with NO single-partition sort. None = passthrough (exact).

    Keep rule: the ``cap`` rows with the smallest (xxhash64(id, key), id)
    per over-cap key. This replaces the earlier keep-lowest-ids
    row_number() window, which (a) sorted the entire mega-bucket — the very
    key the cap exists to mitigate — in ONE task, and (b) kept a
    lexicographic id prefix, i.e. a biased sample (ids are URLs: the lowest
    cap of a 100k-member boilerplate bucket are one domain). Hash-rank
    keeps a uniform deterministic sample and never materializes a
    total order:

      1. broadcast census of over-cap keys (``_split_hot`` with
         cutoff=cap: one map-side-combinable count);
      2. under-cap keys pass through untouched (left_anti probe);
      3. over-cap keys find their cap-th smallest (hash, id) via a
         two-level top-cap aggregation — each (key, salt) partial sorts
         ~m/S rows and keeps <= cap, the per-key merge sorts <= S*cap —
         and rows are kept by a broadcast threshold probe
         (struct(hash, id) <= threshold). Exactly ``cap`` rows survive per
         over-cap key ((hash, id) is unique per key since (id, key) rows
         are), so callers' dropped-row accounting is unchanged.

    Deterministic by construction: the kept set is a pure function of the
    (id, key) values — partitioning, task order, and salt fan-out never
    show through (every intermediate is array_sort-ed before slicing).
    """
    if cap is None:
        return keyed
    if cap < 1:
        # cap=0 would make every key over-cap with an EMPTY threshold set
        # (element_at on an empty slice raises under ANSI); it also means
        # "drop everything", which no caller can want silently
        raise ValueError(f"cap must be >= 1 or None, got {cap}")
    # salt fan-out for the threshold computation only; bounds the per-task
    # sort of a mega-bucket at m/S rows without changing the result
    thin_salts = 64
    h = F.xxhash64(F.col(id_col), F.col(key_col))
    small, big_rows, _ = _split_hot(keyed, key_col, cap)
    big_rows = big_rows.withColumn("_h", h).withColumn(
        "_salt", F.pmod(F.col("_h"), F.lit(thin_salts))
    )
    # explicit field names: struct <= struct comparison requires the two
    # struct types (incl. field names) to match exactly
    rank = F.struct(F.col("_h").alias("h"), F.col(id_col).alias("i"))
    partials = big_rows.groupBy(key_col, "_salt").agg(
        F.slice(F.array_sort(F.collect_list(rank)), 1, cap).alias("_top")
    )
    thresholds = partials.groupBy(key_col).agg(
        F.element_at(
            F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, cap), -1
        ).alias("_thr")
    )
    kept_big = (
        big_rows.join(F.broadcast(thresholds), key_col)
        .where(rank <= F.col("_thr"))
        .drop("_h", "_salt", "_thr")
    )
    return small.unionByName(kept_big.select(*small.columns))
