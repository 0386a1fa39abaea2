"""Distributed graph algorithms over edge-list DataFrames.

The reference has no graph operators (SURVEY.md §0); this extends the
engine's iterative-algorithm family (k-means in similarity.py,
connected components in dedup.py) with PageRank — the canonical
"repeat a join-aggregate until converged" workload, and the shape a
link-analysis pass over a 100 TB web-crawl corpus takes.

Scale notes: a graph with at most ``driver_state_max_edges`` edges is
collected once and iterated in NumPy on the driver (no Spark job per
round).  Above that gate each iteration is one join (rank ⋈ edges,
keyed on the source node — the edge list is persisted pre-partitioned
and sorted, so its side of the join needs no exchange) plus one
map-side-combined aggregate keyed on the destination.  Rank state is
O(nodes) and never collected there; ``localCheckpoint`` truncates the
lineage so the plan doesn't grow with iteration count (same
discipline as dedup.connected_components).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected → directed: emit each edge in both directions.

    Spelled as a single-pass explode, NOT ``fwd.union(rev)``: a union
    of two selects scans (and recomputes) the upstream edge pipeline
    twice — when the input is a derived graph (a pair build + distinct,
    as in q_pagerank) that doubles the most expensive stage.  The
    explode doubles rows map-side in one pass over one computation."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).alias("src"), F.col(dst).alias("dst")
                ),
                F.struct(
                    F.col(dst).alias("src"), F.col(src).alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    max_group_size: int | None = 100_000,
    on_oversize: str = "error",
) -> DataFrame:
    """All unordered item pairs co-occurring in a group: one output row
    per (group, a < b) occurrence — the co-purchase / token-
    co-occurrence edge builder shared by q_copurchase, q_pagerank and
    q_triangle_count.  Items are deduplicated within each group
    (collect_set), so a row per pair per group comes out exactly like
    ``SELECT DISTINCT group, item`` self-joined on the group key with
    ``a.item < b.item``.

    Implemented as ONE shuffle (the group-key hash-agg) followed by an
    array-local higher-order expansion — measured ~2× faster than the
    equivalent self-join at sf0.1, which shuffles the (group, item)
    table twice and builds a join hash table per task.  Each group's
    item set is buffered as ONE array row, so group sizes must be
    bounded; ``max_group_size`` ENFORCES that contract instead of
    leaving it to the docstring (r5 verdict: a pathological 10M-item
    group would otherwise OOM a task silently):

    * ``on_oversize="error"`` (default): any group over the cap fails
      the job with a descriptive error naming the group — the guard is
      a ``raise_error`` branch inside the kept projection (cannot be
      pruned by Catalyst), zero extra exchanges, default plan shape
      identical for in-contract data.
    * ``on_oversize="selfjoin"``: oversized groups are routed through
      the streaming self-join form (no array buffering — the pair
      blow-up streams out of the join) while in-contract groups keep
      the fast array expansion; output is the union, semantically
      identical.  Costs one extra shuffle pass over the (group, item)
      table, so it is the opt-in for genuinely skewed group-size
      distributions at open scale.
    * ``max_group_size=None`` disables the guard (caller has already
      capped/salted upstream).

    The ``error`` default is DELIBERATE (r6 advisor adjudication): an
    oversized group is almost always a data bug (a null/sentinel group
    key collecting millions of items), and silently degrading it to
    the self-join path would stream out k²/2 ≈ 10¹⁰ pairs for a 100k+
    group — a runaway job is worse than a loud failure naming the
    group.  Callers with a legitimately heavy-tailed group-size
    distribution opt into ``selfjoin`` explicitly, accepting the
    quadratic pair volume knowingly.

    The 100k default bounds the buffered array to a few MB; the pair
    EXPANSION (k²/2 rows) streams out of ``explode`` without
    materializing, so the array row is the only per-group memory."""
    if on_oversize not in ("error", "selfjoin"):
        raise ValueError(f"on_oversize must be error|selfjoin: {on_oversize}")
    from tmp_parquet_merge_spark.operators.dedup import spread_scan

    # parallelism floor for deficient scans (no-op at scale; r14
    # optimization round — see dedup.spread_scan), keyed by the group
    # so the collect_set aggregate's clustering reuses the exchange;
    # sort_array(collect_set) is layout-invariant
    df = spread_scan(df, group_col)
    sets = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("_items")
    )
    if max_group_size is not None and on_oversize == "error":
        # raise_error lives inside the _items expression consumed by
        # the explode, so column pruning cannot drop the check
        msg = F.concat(
            F.lit(
                "cooccurrence_pairs: group exceeds "
                f"max_group_size={max_group_size}: "
            ),
            F.col(group_col).cast("string"),
            F.lit(" has "),
            F.size("_items").cast("string"),
            F.lit(" items; cap/salt upstream or use on_oversize='selfjoin'"),
        )
        sets = sets.select(
            F.col(group_col),
            F.when(F.size("_items") <= max_group_size, F.col("_items"))
            .otherwise(F.raise_error(msg))
            .alias("_items"),
        )
    small = sets
    if max_group_size is not None and on_oversize == "selfjoin":
        small = sets.filter(F.size("_items") <= max_group_size)
    pairs = (
        small.select(F.explode("_items").alias("_a"), "_items")
        .select(
            "_a",
            F.explode(F.expr("filter(_items, x -> x > _a)")).alias("_b"),
        )
        .select(F.col("_a").alias("a"), F.col("_b").alias("b"))
    )
    if max_group_size is not None and on_oversize == "selfjoin":
        big_groups = sets.filter(
            F.size("_items") > max_group_size
        ).select(group_col)
        big_items = df.join(big_groups, group_col, "left_semi").select(
            group_col, item_col
        ).distinct()
        x, y = big_items.alias("_x"), big_items.alias("_y")
        big_pairs = x.join(
            y,
            (F.col(f"_x.{group_col}") == F.col(f"_y.{group_col}"))
            & (F.col(f"_x.{item_col}") < F.col(f"_y.{item_col}")),
        ).select(
            F.col(f"_x.{item_col}").alias("a"),
            F.col(f"_y.{item_col}").alias("b"),
        )
        pairs = pairs.unionByName(big_pairs)
    return pairs


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float = 1e-6,
    round_to: int = 6,
    check_every: int = 1,
    checkpoint_every: int = 1,
    num_partitions: int | None = None,
    symmetric: bool = False,
    driver_state_max_edges: int = 8_000_000,
) -> DataFrame:
    """PageRank over a directed edge list (columns ``src``, ``dst``).

    Returns (node, rank, n_iter) with ranks summing to ~1.  Dangling
    nodes (no out-edges) redistribute their mass uniformly each round —
    the standard formulation, kept exactly so the NumPy reference in
    tests/test_graph.py matches to float tolerance.  ``tol`` > 0 stops
    the loop once the L1 rank delta drops below it; the delta is read
    on rounds that are multiples of both ``check_every`` and
    ``checkpoint_every`` (and on the last round), on either path below.

    One job counts the edges, with no aggregate exchange.  Then one of
    two paths runs:

    * **Driver path** — at most ``driver_state_max_edges`` edges (the
      default covers the 2.4M-edge sf0.1 graph; driver memory peaks
      near 100 B per edge, under 1 GB at the default).  The edge list is collected once as Arrow, node
      ids map to dense indexes (``np.unique``), and every round is one
      ``np.bincount`` of ``rank[src] / deg[src]`` over the edges sorted
      by (dst, src) — a fixed summation order, so the ranks are
      deterministic.  Spark runs no job per round.
    * **Sort-merge path** — above the gate.  The edges are persisted
      hash-partitioned and sorted on ``src`` (:func:`keyed_edge_cache`)
      and one job counts nodes and dangling nodes.  Each round joins
      the rank state to that cache (zero Exchange and zero Sort on the
      edge side: the cache keeps its partitioning and ordering) and
      aggregates the contributions on ``dst``; the dangling mass rides
      the plan as a broadcast 1-row aggregate.  ``checkpoint_every``
      rounds share one eager ``localCheckpoint``, which truncates the
      lineage; the state carries the previous rank as ``prev`` so the
      L1 delta is a scan-aggregate over the checkpointed state.
      ``num_partitions`` pins the node-hash layout of the edge cache
      and the state (None keeps the session's shuffle-partition
      default).

    Both paths round the same doubles with the same ``F.round``, and
    they agree with each other (pinned in tests/test_pagerank_gate.py).

    ``symmetric=True`` is an UNCHECKED caller assertion that every edge
    is present in both directions (:func:`symmetrize` output): the node
    set is then the out-degree key set, so the node union+distinct
    pass and the degree left-join drop out.  On a graph that is not
    symmetric, the sort-merge path silently drops nodes that only have
    in-edges; pass it only for edge lists closed under reversal.
    """
    from tmp_parquet_merge_spark.operators._iter_cache import keyed_edge_cache

    def checked(it: int) -> bool:
        return it == max_iter or (
            it % checkpoint_every == 0 and it % check_every == 0
        )

    # counting the RDD of this DataFrame's own executed plan needs no
    # aggregate exchange, and the driver path's collect re-runs that same
    # plan, so a derived graph's shuffles (e.g. a pair build + distinct)
    # are computed once and nothing is cached in between
    raw = edges.select("src", "dst")
    n_edges = raw._jdf.queryExecution().toRdd().count()
    if n_edges == 0 or n_edges <= driver_state_max_edges:
        return _pagerank_on_driver(raw, damping, max_iter, tol, round_to, checked)
    with keyed_edge_cache(raw, "src", num_partitions) as edges:
        return _pagerank_sort_merge(
            edges,
            damping=damping,
            max_iter=max_iter,
            tol=tol,
            round_to=round_to,
            checked=checked,
            checkpoint_every=checkpoint_every,
            num_partitions=num_partitions,
            symmetric=symmetric,
        )


def _pagerank_sort_merge(
    edges: DataFrame,
    *,
    damping: float,
    max_iter: int,
    tol: float,
    round_to: int,
    checked: Callable[[int], bool],
    checkpoint_every: int,
    num_partitions: int | None,
    symmetric: bool,
) -> DataFrame:
    """:func:`pagerank`'s sort-merge path over the keyed edge cache.
    Every exit passes through an eager checkpoint (``it == max_iter``
    or the ``tol`` break), so the result does not depend on the cache
    the caller releases."""
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    if symmetric:
        node_deg = out_deg.select(F.col("src").alias("node"), "deg")
    else:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        node_deg = nodes.join(
            out_deg, nodes.node == out_deg.src, "left"
        ).select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
    n_nodes, n_dangling = node_deg.agg(
        F.count(F.lit(1)), F.sum((F.col("deg") == 0).cast("long"))
    ).first()
    state = node_deg.select(
        "node",
        "deg",
        F.lit(1.0 / n_nodes).alias("rank"),
        F.lit(0.0).alias("prev"),
    )
    if num_partitions:
        state = state.repartition(num_partitions, "node")
    state = state.localCheckpoint()
    it = 0
    for it in range(1, max_iter + 1):
        live = state.filter(F.col("deg") > 0)
        contribs = (
            live.join(edges, live.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        rank_expr = F.lit((1.0 - damping) / n_nodes) + F.lit(
            damping
        ) * F.coalesce("inflow", F.lit(0.0))
        joined = state.select(
            "node", "deg", F.col("rank").alias("prev")
        ).join(contribs, "node", "left")
        if n_dangling:
            dmass = state.filter(F.col("deg") == 0).agg(
                F.sum("rank").alias("_dmass")
            )
            joined = joined.crossJoin(F.broadcast(dmass))
            rank_expr = (
                rank_expr + F.lit(damping) * F.col("_dmass") / n_nodes
            )
        state = joined.select(
            "node", "deg", rank_expr.alias("rank"), "prev"
        )
        if num_partitions:
            state = state.repartition(num_partitions, "node")
        if it % checkpoint_every == 0 or it == max_iter:
            state = state.localCheckpoint()
            if tol > 0 and checked(it):
                delta = state.agg(
                    F.sum(F.abs(F.col("rank") - F.col("prev")))
                ).first()[0]
                if delta < tol:
                    break
    return state.select(
        "node",
        F.round("rank", round_to).alias("rank"),
        F.lit(it).alias("n_iter"),
    )


def _pagerank_on_driver(
    edges: DataFrame,
    damping: float,
    max_iter: int,
    tol: float,
    round_to: int,
    checked: Callable[[int], bool],
) -> DataFrame:
    """:func:`pagerank`'s driver path: one collect of the edge list,
    then every round in NumPy, in the same double arithmetic as the
    sort-merge path (contribution ``rank / deg`` per edge, then
    ``(1 - d) / n + d * inflow`` plus ``d * dangling_mass / n``)."""
    tbl = edges.toArrow()
    src = tbl.column("src").to_numpy()
    dst = tbl.column("dst").to_numpy()
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    s, d = idx[: len(src)], idx[len(src) :]
    order = np.lexsort((s, d))
    s, d = s[order], d[order]
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n) if n else np.zeros(0)
    it = 0
    for it in range(1, max_iter + 1) if n else ():
        inflow = np.bincount(d, weights=rank[s] / deg[s], minlength=n)
        new = (1.0 - damping) / n + damping * inflow
        if dangling.any():
            new = new + damping * rank[dangling].sum() / n
        delta = np.abs(new - rank).sum()
        rank = new
        if tol > 0 and checked(it) and delta < tol:
            break
    node_type = tbl.schema.field("src").type
    out = edges.sparkSession.createDataFrame(
        pa.table(
            {"node": pa.array(nodes, node_type), "rank": pa.array(rank)}
        )
    )
    return out.select(
        "node",
        F.round("rank", round_to).alias("rank"),
        F.lit(it).alias("n_iter"),
    )
