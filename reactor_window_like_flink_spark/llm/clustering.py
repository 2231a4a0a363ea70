"""Dedup-group clustering: connected components over the near-duplicate
pair graph, turning pairwise matches into keep/drop groups.

A training-data dedup pipeline doesn't stop at *pairs* — transitive
near-dups (A~B, B~C) must collapse into ONE group with one survivor, or the
kept corpus still contains duplicates. This module closes the pair graph
into components and elects ``min(doc_id)`` as each group's canonical
survivor.

Scale design:

* **One local finish for the graph family** (``connected_components``,
  ``pagerank``, ``label_propagation``, ``kcore``): each materializes
  its undirected edge list ``(u, v)`` once and one job counts it. A
  graph of at most ``LOCAL_FINISH_EDGES`` directed edges (2 × rows)
  runs every round in one single-task numpy kernel over those rows
  (``_local_finish``), which symmetrizes and dedups them itself
  (``_edge_index``), so no adjacency shuffle runs. Over the bound the
  distributed rounds run on the adjacency grouped from the same edge
  list (``_adjacency``). ``operators/analytics.py``'s
  ``q_triangle_count`` and ``q_degree_assortativity`` read the
  co-purchase adjacency and take each node's degree as
  ``size(dsts)``; they have no local finish.
* **Components over the bound** are large-star/small-star alternation
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): O(log n) join + groupBy rounds whatever the graph's
  diameter, each one shuffle keyed by node id, never an all-pairs
  product. The driver reads only the per-round edge-set stability
  check, and ``materialize`` truncates lineage every round so plans
  stay O(1) deep instead of O(rounds).

The pair graph comes from ``dedup.exact_jaccard_pairs`` (prefix-filtered
exact word-bigram Jaccard, threshold 0.5) — deterministic and lossless, so
the whole chain (shingle → prefix-filtered pair join → component closure)
is DuckDB-checkable via a recursive CTE over the equivalent all-pairs SQL.

Reference parity note: the reference engine (WindowPublisher.java) has no
dedup surface at all; this is north-star scope from BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.functions.materialize import (
    aggregate_row,
    materialize,
)
from reactor_window_like_flink_spark.llm.dedup import exact_jaccard_pairs
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

GROUP_JACCARD_THRESHOLD = 0.5
MAX_ROUNDS = 25  # star-contraction rounds over the local-finish bound

# DuckDB mirror of dedup._tokenized + _shingles_from_toks(2) pair generation
# (the q_dedup_ngram_jaccard oracle's bigram sets, threshold 0.5). A pair's
# intersection is counted over the (lang, bigram) equi-join of the
# distinct bigrams, so only pairs sharing a bigram are formed: the whole
# q_dedup_groups oracle runs in 11 s at sf0.1, where an all-pairs
# list_intersect took 300-440 s.
_DUCK_PAIRS = """
  shingled AS (
    SELECT doc_id, lang,
           list_distinct(CASE WHEN len(string_split(lower(text), ' ')) < 2
             THEN [lower(text)]
             ELSE list_transform(
               generate_series(1, len(string_split(lower(text), ' ')) - 1),
               i -> string_split(lower(text), ' ')[i] || ' '
                    || string_split(lower(text), ' ')[i + 1]) END) AS bg
    FROM documents
  ),
  grams AS (
    SELECT doc_id, lang, len(bg) AS n, unnest(bg) AS g FROM shingled
  ),
  pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM grams a JOIN grams b
      ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.n, b.n
    HAVING CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) >= 0.5
  )
"""


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_rounds: int = MAX_ROUNDS
) -> DataFrame:
    """Close an undirected edge list ``(u, v)`` over ``nodes (node)``
    into components: ``(node, comp)`` for every node of ``nodes`` or
    ``edges``, ``comp = min(node)`` reachable.

    Each node enters as a self-loop, so the one counted edge list holds
    every node, isolated ones included. At or below
    ``LOCAL_FINISH_EDGES`` the closure runs in one task
    (``_components_kernel``), else at most ``max_rounds`` star rounds
    over its adjacency (``_components_star_rounds``). The kernel's
    output is the whole answer in one partition, so
    ``q_dedup_groups``'s size window over it plans no exchange: the
    write is one job, where a left join of ``nodes`` to the labels
    measured 5."""
    loops = nodes.select(F.col("node").alias("u"), F.col("node").alias("v"))
    edges = materialize(edges.unionByName(loops))
    labels = _local_finish(edges, _components_kernel, "node {t}, comp {t}")
    if labels is None:
        labels = _components_star_rounds(_adjacency(edges), max_rounds)
    return labels


def _components_kernel(batches):
    """Single-task components over the edge rows: root hooking
    with pointer jumping (Shiloach-Vishkin) until every row's ends share
    a root. A root hooks only under a smaller one, so each root is its
    tree's smallest index, i.e. smallest node id. Yields (node, comp)."""
    import numpy as np
    import pandas as pd

    index = _edge_index(batches)
    if index is None:
        return
    nodes, si, di = index
    parent = np.arange(len(nodes))
    while True:
        # every node points at its root: hook each root under the
        # smallest root across its rows
        np.minimum.at(parent, parent[si], parent[di])
        while not np.array_equal(grand := parent[parent], parent):
            parent = grand
        if np.array_equal(parent[si], parent[di]):
            break
    yield pd.DataFrame({"node": nodes, "comp": nodes[parent]})


def _components_star_rounds(adj: DataFrame, max_rounds: int) -> DataFrame:
    """The distributed rounds of ``connected_components`` (over-bound
    side), large-star/small-star alternation (Kiveris et al., SoCC'14):
    ``(node, comp)`` for every node of ``adj`` in O(log n) rounds
    whatever the diameter. Round = two keyed groupBy/join passes over
    the edge list ``src > dst`` read off the adjacency:

    * **large-star**: per node u with m = min(neighbors ∪ {u}), re-point
      every neighbor v > u at m — halves the height of tall subtrees.
    * **small-star**: on the (big → small) directed edge list, per node u
      with m = min(neighbors), re-point u and its smaller neighbors at m —
      flattens what large-star staged.

    The edge list contracts toward a star forest rooted at each
    component's minimum; convergence is edge-set stability. Each pass
    shuffles by node id only."""
    e = adj.select("src", F.explode("dsts").alias("dst")).filter(
        F.col("src") > F.col("dst")
    )
    for _ in range(max_rounds):
        # large-star over the symmetrized list: (v, m) for v > u
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        m_large = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            sym.join(m_large, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on the directed (big -> small) list
        m_small = large.groupBy("src").agg(F.min("dst").alias("m"))
        nbrs = large.join(m_small, "src")
        new = (
            nbrs.filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(m_small.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .transform(materialize)
        )
        stable = new.subtract(e).isEmpty() and e.subtract(new).isEmpty()
        e = new
        if stable:
            # the star forest points every non-root at its root
            forest = e.select(F.col("src").alias("node"), F.col("dst").alias("comp"))
            return (
                adj.select(F.col("src").alias("node"))
                .join(forest, "node", "left")
                .select("node", F.coalesce("comp", "node").alias("comp"))
            )
    raise RuntimeError(f"star contraction did not converge in {max_rounds} rounds")


@REG.add(
    "q_dedup_groups",
    f"""
    WITH RECURSIVE {_DUCK_PAIRS},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS comp FROM documents
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(comp) AS group_id FROM reach GROUP BY node
    )
    SELECT doc_id, group_id,
           CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size,
           (doc_id = group_id) AS is_survivor
    FROM comp
    """,
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup groups over word-bigram Jaccard ≥ 0.5 pairs:
    every document labeled with its component's canonical survivor
    (``group_id = min(doc_id)``), the component size, and a keep flag.
    ``filter(~is_survivor)`` is the pipeline's drop list."""
    pairs = exact_jaccard_pairs(
        spark, sf_dir, GROUP_JACCARD_THRESHOLD, shingle_n=2
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    nodes = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    comp = connected_components(pairs, nodes)
    out = comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("group_id")
    )
    return out.select(
        "doc_id",
        "group_id",
        F.count("*")
        .over(Window.partitionBy("group_id"))
        .cast("long")
        .alias("group_size"),
        (F.col("doc_id") == F.col("group_id")).alias("is_survivor"),
    )


# ------------------------------------------- adjacency and local finish


def _adjacency(edges: DataFrame) -> DataFrame:
    """(src, dsts): every node of the undirected edge list ``(u, v)``
    with its distinct neighbours, in ONE shuffle, materialized. Both
    orientations enter the groupBy and ``collect_set`` dedups inside it,
    so a duplicate edge in either orientation counts once; in-array
    order is unspecified. The result is symmetric: every ``dst`` is
    also a ``src``.

    No repartition before the checkpoint: ``materialize`` output has no
    known partitioning (the plan reports ``UnknownPartitioning(0)``,
    lazy or eager), so every keyed operator over it exchanges anyway —
    a repartition there is a full shuffle nothing reads, and its fixed
    partition count keeps AQE from coalescing the stage
    (``tests/test_materialize.py`` pins the first fact)."""
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    return (
        sym.groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
        .transform(materialize)
    )


def _graph_size(adj: DataFrame) -> tuple[int, int]:
    """``(n_nodes, two_m)`` of an ``_adjacency`` frame — its row count
    and its directed-edge count Σ|dsts| — in one Spark job
    (``aggregate_row``), which also fills the adjacency's checkpoint."""
    row = aggregate_row(
        adj, F.count("*"), F.coalesce(F.sum(F.size("dsts")), F.lit(0))
    )
    return row[0], row[1]


# Local-finish bound of the graph family (connected_components, kcore,
# pagerank, label_propagation): at or below this many directed edges,
# counted as 2 × the edge list's rows before dedup, the whole iteration
# runs as ONE single-task numpy kernel instead of one or more Spark jobs
# per round. Peak RSS of the Python worker running each kernel
# (``resource.getrusage`` inside it, its 119 MiB baseline included) on
# 4M random undirected rows over 1M node ids, 8M directed edges at the
# bound, 4-vCPU host: components, pagerank and the kcore peel 566 MiB
# (all three peak while indexing the rows); all four fit a 1 GiB worker.
# Label propagation's per-round vote count sorts its keys in place and
# stays under the index's peak: on the same graph in one standalone
# process (236 MiB with the input batches), 560 MiB like components;
# an ``np.unique`` vote count's copies peaked at 933 MiB there.
# ``_edge_index`` took 1.7-2.1 s there, against 3.7-4.2 s for the
# adjacency-row index it replaced on the same graph. Over the bound the
# distributed rounds run: at 100 TB the gate does not fire, so this is
# a size-adaptive final-stage collapse (the iterative analog of a
# broadcast-join threshold), not a fixture shortcut.
LOCAL_FINISH_EDGES = 8_000_000


def _local_finish(edges: DataFrame, kernel, schema: str) -> DataFrame | None:
    """The one local-finish gate, over a materialized undirected edge
    list ``edges (u, v)``. One job counts its rows (``aggregate_row``,
    which also fills the checkpoint). At or below
    ``LOCAL_FINISH_EDGES`` directed edges, counted as 2 × rows (both
    orientations of every row, before the kernel dedups them), the rows
    stream into ONE task that runs ``kernel`` (a ``mapInPandas``
    function that indexes them with ``_edge_index``) over the whole
    graph; ``schema`` is its output DDL, ``{t}`` standing for the node
    id type. Over the bound, ``None``: the caller groups
    ``_adjacency(edges)`` and runs its distributed rounds.
    ``_edge_index`` dedups with ``_adjacency``'s meaning, so duplicate
    edges and self-loops count the same on both sides; the kernel's
    output reports ``SinglePartition``, so a keyed operator over it
    plans no exchange.

    The kernel reads the edge rows, not the adjacency: grouping them
    only to explode them back into one task cost a job and most of the
    key's shuffle bytes. Build + exec jobs of the registered keys at
    sf0.001, sf0.01 and sf0.1: ``q_kcore``, ``q_pagerank`` and
    ``q_communities_lpa`` 2 + 1 (3 + 1 through the adjacency; pagerank
    35 + 5 and LPA 10 + 8 as distributed rounds), ``q_dedup_groups``
    9 + 1 (10 + 1; 22 + 2 as rounds), identical output; ``q_kcore``'s
    sf0.1 shuffle 16.1 → 5.1 MB."""
    rows = aggregate_row(edges, F.count("*"))[0]
    if 2 * rows > LOCAL_FINISH_EDGES:
        return None
    t = edges.schema["u"].dataType.simpleString()
    return edges.coalesce(1).mapInPandas(kernel, schema.format(t=t))


def _edge_index(batches):
    """``(nodes, si, di)`` of the undirected ``(u, v)`` rows a
    local-finish kernel receives, in any order and any batching: the
    sorted distinct node ids and the endpoint indices into them (index
    order is id order) of the symmetric distinct directed edge set,
    sorted by ``(si, di)``; ``None`` for no rows. The meaning is
    ``_adjacency``'s: a duplicate edge in either orientation counts
    once, and a self-loop is one neighbour of its node."""
    import numpy as np

    us, vs = [], []
    for pdf in batches:
        if len(pdf):
            us.append(pdf["u"].to_numpy())
            vs.append(pdf["v"].to_numpy())
    if not us:
        return None
    m = sum(map(len, us))
    nodes, ends = np.unique(np.concatenate(us + vs), return_inverse=True)
    del us, vs
    n = len(nodes)
    # one key per directed edge, both orientations; unique dedups them
    # (n <= 2 × rows under the bound, so n * n fits an int64)
    keys = np.unique(np.concatenate((ends[:m] * n + ends[m:], ends[m:] * n + ends[:m])))
    del ends
    si, di = np.divmod(keys, n)
    return nodes, si, di


# ------------------------------------------------------------ PageRank

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 10


def pagerank(
    edges: DataFrame,
    damping: float = PAGERANK_DAMPING,
    iters: int = PAGERANK_ITERS,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list
    ``(u, v)`` (each undirected edge contributes both directions):
    rank_{t+1}(n) = (1-d)/N + d * Σ_{m -> n} rank_t(m)/outdeg(m).

    The edge list is checkpointed once and one job counts it. At or
    below ``LOCAL_FINISH_EDGES`` the ``iters`` rounds run in one task
    (``_local_finish``, ``_pagerank_kernel``): a bincount-weighted
    inflow per round, the same per-edge shares and the same
    base + d·inflow as the rounds below.

    Over the bound, distributed shape — the canonical iterative-join
    algorithm (Page et al. '99; the Pregel/GraphX workload) on plain
    DataFrame ops, in the ADJACENCY-LIST form: the graph is grouped
    ONCE into O(nodes) (src, dsts) rows (``_adjacency``), one job sizes
    it (N), and each round's rank join
    is O(nodes)-by-O(nodes) (the checkpoint keeps no partitioning, so
    the join exchanges node-sized rows, never edges) and the edge
    fan-out happens IN-ROW via ``explode``; only the exploded
    contributions shuffle (map-side combined into per-node inflows).
    Measured 2x over the flat (src, dst, outdeg) edge-join form at
    sf0.1 (10.9 s -> 5.8 s for 10 rounds on the 1.2M-edge graph).
    Lineage is truncated every third round; symmetrized edges mean no
    dangling nodes, so no dangling-mass term. Fixed ``iters`` (not a
    convergence test) keeps the result deterministic for the
    sequential-reference pytest; the driver sees only the loop counter.

    Returns (node, rank) for every node, rank rounded to 6dp."""
    edges = materialize(edges)
    ranks = _local_finish(
        edges, _pagerank_kernel(damping, iters), "node {t}, rank double"
    )
    if ranks is None:
        adj = _adjacency(edges)
        n_total, _ = _graph_size(adj)
        ranks = _pagerank_rounds(adj, n_total, damping, iters)
    return ranks.select("node", round_to("rank", 6).alias("rank"))


def _pagerank_kernel(damping: float, iters: int):
    """Single-task PageRank over the edge rows: yields (node, rank)
    unrounded."""

    def rank(batches):
        import numpy as np
        import pandas as pd

        index = _edge_index(batches)
        if index is None:
            return
        nodes, si, di = index
        n = len(nodes)
        deg = np.bincount(si, minlength=n)
        base = (1.0 - damping) / n
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            r = base + damping * np.bincount(di, weights=(r / deg)[si], minlength=n)
        yield pd.DataFrame({"node": nodes, "rank": r})

    return rank


def _pagerank_rounds(
    adj: DataFrame, n_total: int, damping: float, iters: int
) -> DataFrame:
    """The distributed rounds of ``pagerank`` (over-bound side)."""
    # symmetrized graph: every node appears as a src
    nodes = adj.select(F.col("src").alias("node"))
    if n_total == 0:
        # Empty graph: no nodes, no ranks — return the empty (node, rank)
        # frame instead of dividing by zero (the edge-case contract every
        # registered key honors: empty inputs yield empty outputs).
        return nodes.select("node", F.lit(0.0).alias("rank"))
    base = (1.0 - damping) / n_total
    ranks = nodes.select("node", F.lit(1.0 / n_total).alias("rank"))
    for i in range(iters):
        contrib = (
            adj.join(ranks, adj.src == ranks.node)
            .select(
                F.explode("dsts").alias("node"),
                (F.col("rank") / F.size("dsts")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
        # Cut lineage every 3rd round, not after the last (the
        # consumer's action runs the tail). Measured at sf0.1 (10
        # iters): cadence 2 plus final 14.6 s → cadence 3 7.2 s,
        # identical 6dp output; 3 keeps analysis O(1) per segment.
        if (i + 1) % 3 == 0 and i != iters - 1:
            ranks = materialize(ranks)
    return ranks


def _duck_rounds(n: int, first: str, step) -> str:
    """``n`` chained CTEs ``{first}1 … {first}n`` for the unrolled
    oracle SQL of a fixed-round graph key; ``step(i)`` is the body of
    round ``i`` (reading round ``i - 1``)."""
    return ",".join(f"\n    {first}{i} AS ({step(i)})" for i in range(1, n + 1))


# Symmetric distinct co-purchase edges (src, dst), src <> dst: the
# DuckDB mirror of _adjacency over _basket_pairs(lineitem).
_DUCK_COPURCHASE = """
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
    )"""


@REG.add(
    "q_pagerank",
    f"""
    WITH {_DUCK_COPURCHASE},
    g AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    n AS (SELECT count(*) AS n FROM g),
    r0 AS (SELECT src AS node, 1.0::DOUBLE / n.n AS rank FROM g, n),"""
    + _duck_rounds(
        PAGERANK_ITERS,
        "r",
        lambda i: f"""
      SELECT e.dst AS node,
             (1.0::DOUBLE - {PAGERANK_DAMPING}::DOUBLE) / n.n
               + {PAGERANK_DAMPING}::DOUBLE * sum(r.rank / g.d) AS rank
      FROM e JOIN r{i - 1} r ON e.src = r.node JOIN g ON g.src = e.src, n
      GROUP BY e.dst, n.n
    """,
    )
    + f"""
    SELECT node, ROUND(rank * 1000000, 0) / 1000000.0 AS rank
    FROM r{PAGERANK_ITERS}
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of every part in the co-purchase graph
    (see ``pagerank``) — which items sit at the center of basket
    co-occurrence. The iterative workload the engine's graph tier must
    sustain beyond single-pass components: rank mass flows along edges
    for 10 rounds. The oracle unrolls the 10 rounds as CTEs; pytest
    also asserts per-node agreement with a sequential numpy reference
    on both sides of the local-finish gate."""
    from reactor_window_like_flink_spark.operators.analytics import (
        _basket_pairs,
    )

    lineitem = load(spark, sf_dir, "lineitem")
    # No .distinct() here: pagerank symmetrizes and dedups the pairs
    # itself (_edge_index below the bound, _adjacency's collect_set over
    # it), so a pre-distinct pays a full extra shuffle of the pair
    # stream for nothing (proven output-identical at sf0.1, all 20k
    # ranks equal at 6dp).
    edges = _basket_pairs(lineitem, "l_orderkey", "l_partkey")
    return pagerank(edges)


# ------------------------------------------- label-propagation communities

LPA_ROUNDS = 5


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al.,
    Phys. Rev. E 76, 2007) over an undirected edge list ``(u, v)``:
    every node starts in its own community, and each round EVERY node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label — the deterministic synchronous
    variant (the asynchronous random-order original is irreproducible
    by design; fixing order + tie-break makes the result a pure
    function of the graph, which both the driver contract and the
    sequential-reference pytest require). Fixed ``rounds`` rather than
    a convergence test: synchronous LPA can two-cycle on bipartite
    structures, so production runs cap rounds anyway (5 reaches label
    consensus on the near-clique communities this tier targets —
    communities form in 2-3 hops).

    Unlike ``connected_components`` (which floods one label
    over everything reachable and answers "is A transitively tied to
    B"), LPA stops label takeover at the density boundary: a label
    needs majority support among a node's neighbors to cross, so two
    dense near-cliques joined by a thin bridge KEEP distinct labels —
    the modularity-forming workload between "connected" and
    "centrality" that co-purchase and near-dup-graph analyses use.

    The edge list is checkpointed once and one job counts it. At or
    below ``LOCAL_FINISH_EDGES`` the rounds run in one task
    (``_local_finish``, ``_lpa_kernel``): vote counts per (node, label)
    from one in-place sort of the round's keys, the same winner rule as
    the rounds below.

    Over the bound, distributed shape — the ``pagerank`` adjacency-list
    discipline over ``_adjacency`` of the same edge list: each round
    joins labels on src (node-sized rows
    exchange: the checkpoint keeps no partitioning), fans out IN-ROW
    via ``explode``, and re-aggregates with TWO map-side-combining
    shuffles: (node, label) vote counts, then per-node argmax via
    ``max_by(label, (votes, -label))`` — largest vote count wins,
    smallest label on ties, so no sort and no window. Lineage truncates
    every third round. Per-round shuffle volume is O(edges) vote rows
    combined map-side to O(distinct (node,label)) — never an all-pairs
    product.

    Returns (node, community) for every node with ≥1 edge."""
    edges = materialize(edges)
    labels = _local_finish(edges, _lpa_kernel(rounds), "node {t}, community {t}")
    if labels is None:
        labels = _lpa_rounds(_adjacency(edges), rounds)
    return labels


def _lpa_kernel(rounds: int):
    """Single-task synchronous LPA over the edge rows: yields
    (node, community). A label is a node index, so the smallest index
    is the smallest label."""

    def propagate(batches):
        import numpy as np
        import pandas as pd

        index = _edge_index(batches)
        if index is None:
            return
        nodes, si, di = index
        n = len(nodes)
        labels = np.arange(n)
        for _ in range(rounds):
            # votes per (receiving node, offered label): the edge set is
            # symmetric, so node si receives di's label; one in-place
            # sort groups the keys by node, then label, and a run of
            # equal keys is one vote count
            keys = si * n
            keys += labels[di]
            keys.sort()
            start = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
            keys = keys[start]
            u = len(keys)
            score = np.empty_like(start)
            np.subtract(start[1:], start[:-1], out=score[:-1])
            score[-1] = len(si) - start[-1]
            del start
            # score = votes * u - run (both <= 2 × rows under the bound,
            # so it fits an int64): a node's highest score is its most
            # votes, then its smallest label (labels ascend in a node)
            score *= u
            score -= np.arange(u)
            node = keys // n
            first = np.flatnonzero(np.r_[True, node[1:] != node[:-1]])
            best = np.maximum.reduceat(score, first)
            del score, node, first
            win = keys[-best % u]
            labels[win // n] = win % n
        yield pd.DataFrame({"node": nodes, "community": nodes[labels]})

    return propagate


def _lpa_rounds(adj: DataFrame, rounds: int) -> DataFrame:
    """The distributed rounds of ``label_propagation`` (over-bound
    side)."""
    labels = adj.select(F.col("src").alias("node"), F.col("src").alias("label"))
    for i in range(rounds):
        votes = (
            adj.join(labels, adj.src == labels.node)
            .select(F.explode("dsts").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("votes"))
        )
        labels = votes.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("votes"), (-F.col("label")).alias("_t"))
            ).alias("label")
        )
        # cadence 3, no checkpoint after the last round, as in pagerank
        if (i + 1) % 3 == 0 and i != rounds - 1:
            labels = materialize(labels)
    return labels.select("node", F.col("label").alias("community"))


@REG.add(
    "q_communities_lpa",
    f"""
    WITH {_DUCK_COPURCHASE},
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),"""
    + _duck_rounds(
        LPA_ROUNDS,
        "l",
        lambda i: f"""
      SELECT node, arg_max(label, votes * 1e12 - label) AS label
      FROM (
        SELECT e.dst AS node, l.label, count(*) AS votes
        FROM e JOIN l{i - 1} l ON e.src = l.node
        GROUP BY e.dst, l.label
      )
      GROUP BY node
    """,
    )
    + f"""
    SELECT node, label AS community,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM l{LPA_ROUNDS}
    """,
)
def q_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure of the part co-purchase graph via
    deterministic synchronous label propagation (see
    ``label_propagation``) — which groups of parts form densely
    co-purchased clusters, the tier between ``q_dedup_groups``'s
    connected components and ``q_pagerank``'s centrality. Emits one
    row per part with its community label plus the community size, a
    window count: over the local finish's single partition it plans no
    exchange, so the kernel runs once and the write is one job. The
    oracle unrolls the 5 rounds as CTEs, the vote winner as
    ``arg_max(label, votes * 1e12 - label)``."""
    from reactor_window_like_flink_spark.operators.analytics import (
        _basket_pairs,
    )

    lineitem = load(spark, sf_dir, "lineitem")
    # No .distinct(): label_propagation dedups neighbours itself
    # (_edge_index below the bound, _adjacency over it).
    edges = _basket_pairs(lineitem, "l_orderkey", "l_partkey")
    return label_propagation(edges).select(
        "node",
        "community",
        F.count("*")
        .over(Window.partitionBy("community"))
        .cast("long")
        .alias("community_size"),
    )


# ------------------------------------------- k-core extraction

KCORE_K = 8
KCORE_MEAN_FRACTION = 0.7  # registered key: k = ceil(0.7 x mean degree)
#   — scale-relative, so the peel does real work at every fixture scale
#   (the co-purchase graph's degrees grow with corpus size; any static k
#   is trivial at one scale and empty at another). Random-graph k-core
#   theory: the core survives while k stays below mean - O(sqrt(mean)),
#   so 0.7x mean peels the sparse tail without collapsing the core
#   (0.75 cascade-collapses the sparser sf0.01 graph — measured).
KCORE_MAX_ROUNDS = 50


def kcore(edges: DataFrame, k: int = KCORE_K, max_rounds: int = KCORE_MAX_ROUNDS) -> DataFrame:
    """The k-core of an undirected edge list ``(u, v)``: the maximal
    subgraph in which every node has degree >= k (Seidman, "Network
    structure and minimum degree", Social Networks 1983) — the dense-
    subgraph tier of the graph family: components answer "connected",
    LPA "which community", PageRank "how central", k-core "which part
    of the graph is DENSE" (the co-purchase workload: core product
    clusters that survive when incidental one-off co-occurrences peel
    away).

    Algorithm: iterative peeling — drop every node with current degree
    < k, re-derive degrees on the induced subgraph, repeat to fixpoint.
    The fixpoint is the k-core by the standard argument (peeling is
    confluent: removal order doesn't change the result, so the
    synchronous batch round is as correct as any sequential order — and
    deterministic).

    The edge list (self-loops dropped: a k-core counts distinct OTHER
    neighbours) is checkpointed once (``_kcore_edges``) and one job
    counts it. At or below ``LOCAL_FINISH_EDGES`` the whole cascade
    runs as one single-task numpy peel (``_local_finish``,
    ``_kcore_peel_kernel``); peeling is confluent, so the exhaustive
    local peel returns the identical core.

    Over the bound, distributed shape (DELTA peel, round-13 form): the
    edge list is grouped once into its adjacency (``_adjacency``),
    which is never rewritten; the edge list and the degrees are
    read off it with no further shuffle, and the degrees are then
    maintained incrementally. Each round:

    1. the frontier ``bad`` (survivors whose maintained degree fell
       below k) joins the static edge list to count, per still-alive
       neighbor, how many incident edges it just lost — the probe side
       is the full edge list but the build side is the frontier (tiny
       after round 1; AQE broadcasts it). The count's ``groupBy("dst")``
       exchanges (``materialize`` output has no known partitioning),
       but only the frontier's incident edges, map-side combined;
       nothing edge-sized shuffles or materializes;
    2. the O(nodes) degree frame drops the frontier (a ``deg >= k``
       filter — equivalent to the anti-join by the loop invariant, see
       ``_kcore_round``) and subtracts the decrements (left join keyed
       on node id against the frontier-sized aggregate);
    3. the next frontier is read off the DECREMENTED nodes only — a
       node whose degree didn't change cannot newly fall below k, so
       convergence checks O(frontier-neighborhood) rows, not O(nodes).

    vs the pre-round-13 form (full-edge-list degree re-aggregate + two
    anti-joins REWRITING the edge list + an edge-sized localCheckpoint,
    every round): per-round cost drops from O(E) shuffle+materialize to
    one O(E) in-memory broadcast probe plus O(V) degree maintenance —
    measured 43.0 s -> ~8.8 s at sf0.1 (21 cascade-tail rounds), sf1
    probe 1.79x at 10x data.
    ``localCheckpoint`` per round pins lineage on the O(V) frames only.
    Peeling is confluent, so the synchronous delta rounds reach the
    same fixpoint as whole-graph re-aggregation (pytest: equality with
    the sequential peeling reference).

    Returns (node, degree) for every node in the k-core, with its
    degree INSIDE the core."""
    return _kcore_finish(edges, k, max_rounds)


def _kcore_edges(edges: DataFrame) -> DataFrame:
    """The edge list minus self-loops, materialized: each node's
    initial degree is its distinct-neighbour count, the node itself not
    counted (``_edge_index``'s row count per node below the bound,
    ``size(dsts)`` of its ``_adjacency`` over it)."""
    return materialize(edges.filter(F.col("u") != F.col("v")))


def _kcore_k(n_nodes: int, two_m: int) -> int:
    """``q_kcore``'s scale-relative k of a graph of ``n_nodes`` nodes
    and ``two_m`` directed edges: ceil(``KCORE_MEAN_FRACTION`` × mean
    degree), at least 2; ``KCORE_K`` for the empty graph."""
    if not n_nodes:
        return KCORE_K
    return max(2, math.ceil(KCORE_MEAN_FRACTION * float(two_m) / n_nodes))


def _kcore_finish(
    edges: DataFrame, k: int | None, max_rounds: int = KCORE_MAX_ROUNDS
) -> DataFrame:
    """The k-core of an undirected edge list: one local peel at or
    below the bound, else the delta-peel rounds over its adjacency.
    ``k=None`` is ``_kcore_k`` of the loop-free graph, read in the
    kernel below the bound and off ``_graph_size`` over it."""
    edges = _kcore_edges(edges)
    core = _local_finish(edges, _kcore_peel_kernel(k), "node {t}, degree long")
    if core is not None:
        return core
    adj = _adjacency(edges)
    if k is None:
        k = _kcore_k(*_graph_size(adj))
    return _kcore_loop(adj, k, max_rounds)


def _kcore_peel_kernel(k: int | None):
    """Single-task exhaustive peel over the edge rows: numpy bincount
    decrements iterated to the fixpoint — the same per-round math as
    ``_kcore_round``, without the per-round job. ``k=None`` is
    ``_kcore_k`` of the indexed graph. Yields (node, degree-in-core)."""

    def peel(batches):
        import numpy as np
        import pandas as pd

        index = _edge_index(batches)
        if index is None:
            return
        nodes, si, di = index
        n = len(nodes)
        core_k = _kcore_k(n, len(si)) if k is None else k
        deg = np.bincount(si, minlength=n)
        alive = np.ones(n, dtype=bool)
        row_alive = np.ones(len(si), dtype=bool)
        while True:
            bad = alive & (deg < core_k)
            if not bad.any():
                break
            alive &= ~bad
            # decrement each dying node's still-alive out-rows; rows
            # between two same-round deaths decrement harmlessly dead
            # counters (both endpoints leave anyway — confluence)
            affected = row_alive & bad[si]
            deg = deg - np.bincount(di[affected], minlength=n)
            row_alive &= alive[si] & alive[di]
        keep = np.flatnonzero(alive)
        if keep.size:
            yield pd.DataFrame(
                {"node": nodes[keep], "degree": deg[keep].astype("int64")}
            )

    return peel


def _kcore_loop(
    adj: DataFrame, k: int, max_rounds: int = KCORE_MAX_ROUNDS
) -> DataFrame:
    """Delta-peel rounds to the fixpoint (see ``kcore``): the edge list
    ``sym`` and the initial degrees ``deg`` are narrow projections of
    the adjacency. The frontier count reads the round and fills its
    checkpoint in one job (``aggregate_row``; a bare ``count()`` took
    two): forced over the bound at sf0.01, 4 jobs per round, was 5.
    Chaining T rounds lazily per job was MEASURED WORSE and rejected
    (T=3 median 9.41 s vs T=1 8.18 s same-window: each round's output
    feeds both the next degree frame and the next frontier's broadcast,
    so an unmaterialized round's subtree is computed twice per
    successor — the duplication outruns the saved job floor)."""
    sym = adj.select("src", F.explode("dsts").alias("dst"))
    deg = adj.select("src", F.size("dsts").cast("long").alias("deg"))
    bad = deg.filter(F.col("deg") < k).select("src")
    for _ in range(max_rounds):
        upd = materialize(_kcore_round(sym, deg, bad, k))
        nxt = upd.filter(F.col("touched") & (F.col("deg") < k))
        n_bad = aggregate_row(nxt, F.count("*"))[0]
        deg = upd.select("src", "deg")
        bad = nxt.select("src")
        if n_bad == 0:
            break  # fixpoint: no survivor fell below k this round
    return (
        deg.filter(F.col("deg") >= k)
        .select(F.col("src").alias("node"), F.col("deg").cast("long").alias("degree"))
    )


def _kcore_round(
    sym: DataFrame, deg: DataFrame, bad: DataFrame, k: int
) -> DataFrame:
    """One delta-peel round: survivors with updated degree + touched
    flag (one checkpointable frame — the caller derives the next
    frontier from it with no extra jobs). The frontier (node ids only)
    and its decrement aggregate are explicitly broadcast — without the
    hint the planner sort-merges the full edge list every round
    (checkpointed sides have no stats; measured 39 s for the 21-round
    peel at sf0.1, vs ~8.8 s broadcast; plan-asserted in
    tests/test_plans.py). After round 1 the frontier is the cascade
    tail, far below any broadcast threshold; a graph whose round-1
    frontier is O(V) is one whose core collapsed — the loop ends on
    round 2.

    Survivor selection is a plain ``deg >= k`` FILTER, not the previous
    anti-join against the frontier: the loop's invariant is that every
    below-k row of ``deg`` IS the frontier (round 0 defines it so; later
    rounds filter survivors to >= k before decrementing, and an
    untouched survivor keeps its >= k degree), so the two are identical
    sets and the filter costs one scan instead of a broadcast join
    (r16, guide §2.4; output proven equal at sf0.1 — same 17,732-node
    core, same degrees)."""
    dec = (
        sym.join(F.broadcast(bad), "src")
        .groupBy("dst")
        .agg(F.count("*").alias("lost"))
        .select(F.col("dst").alias("src"), "lost")
    )
    return (
        deg.filter(F.col("deg") >= k)
        .join(F.broadcast(dec), "src", "left")
        .select(
            "src",
            (F.col("deg") - F.coalesce(F.col("lost"), F.lit(0))).alias(
                "deg"
            ),
            F.col("lost").isNotNull().alias("touched"),
        )
    )


@REG.add("q_kcore")  # rows-only: iterative peeling to a fixpoint has no
# SQL mirror; pytest asserts equality with a sequential peeling
# reference and planted clique-plus-tendrils behavior.
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ceil(0.7 × mean-degree)-core (k >= 2, scale-relative — the
    registered key sizes k from the measured mean degree via
    ``KCORE_MEAN_FRACTION``, NOT the ``kcore()`` library default of 8)
    of the part co-purchase graph: the products whose co-purchase
    neighborhood stays dense after incidental co-occurrences peel away
    — the dense-subgraph member of the graph tier (components / LPA
    communities / PageRank / triangles / k-core)."""
    from reactor_window_like_flink_spark.operators.analytics import (
        _basket_pairs,
    )

    lineitem = load(spark, sf_dir, "lineitem")
    # No pre-distinct on the pair stream: the graph family dedups it,
    # and k is read off the deduplicated graph with no job of its own —
    # in the kernel below the bound, off _graph_size over it (k=84 at
    # sf0.1, the same 17,732-node core either way).
    edges = _basket_pairs(lineitem, "l_orderkey", "l_partkey")
    return _kcore_finish(edges, None)
