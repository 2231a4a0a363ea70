"""Connected-components dedup grouping: transitive closure vs a pure-Python
union-find at sf0.001, plus unit checks on the component kernel itself."""

from __future__ import annotations

from _round import rhalf

import duckdb
import pytest

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.llm.clustering import (
    GROUP_JACCARD_THRESHOLD,
    connected_components,
)


def _union_find_groups(n_nodes: set[int], edges: list[tuple[int, int]]):
    parent = {v: v for v in n_nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in n_nodes}


def test_component_kernel_transitive_chain(spark, gate_sides):
    """A-B-C chain (A,C never share an edge) collapses to one component;
    isolated node stays a singleton. On both sides of the gate."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "u long, v long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "node long")
    for side, rows in gate_sides(lambda: connected_components(edges, nodes)).items():
        got = {r["node"]: r["comp"] for r in rows}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}, side


def test_star_kernel_handles_adversarial_chain(spark, gate_sides, monkeypatch):
    """A 200-node path has diameter 199, so per-round label propagation
    would need 199 rounds. Both sides close it: the local kernel by
    pointer jumping, star contraction within 12 of its O(log n) rounds.
    Over the bound, ``max_rounds`` still stops a contraction that has
    not converged."""
    from reactor_window_like_flink_spark.llm import clustering

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    sides = gate_sides(lambda: connected_components(edges, nodes, max_rounds=12))
    for side, rows in sides.items():
        assert {r["node"]: r["comp"] for r in rows} == {i: 0 for i in range(n)}, side
    monkeypatch.setattr(clustering, "LOCAL_FINISH_EDGES", -1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_rounds=3)


def test_dedup_groups_match_union_find(spark, sf_dir):
    """q_dedup_groups == union-find closure of the exact bigram-Jaccard
    pair graph (the same ground truth the pair key is tested against)."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, lower(text), lang FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()

    def bigrams(t):
        toks = t.split(" ")
        if len(toks) < 2:
            return frozenset({t})
        return frozenset(
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        )

    sets = {d: bigrams(t) for d, t, _ in rows}
    lang = {d: lg for d, _, lg in rows}
    ids = sorted(sets)
    edges = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if lang[a] != lang[b]:
                continue
            inter = len(sets[a] & sets[b])
            if inter / (len(sets[a]) + len(sets[b]) - inter) >= (
                GROUP_JACCARD_THRESHOLD
            ):
                edges.append((a, b))
    truth = _union_find_groups(set(ids), edges)

    out = entry_mod.queries()["q_dedup_groups"](spark, sf_dir).collect()
    got = {r["doc_id"]: r["group_id"] for r in out}
    assert got == truth
    # group_size and survivor flag are consistent with the labeling
    sizes = {}
    for gid in truth.values():
        sizes[gid] = sizes.get(gid, 0) + 1
    for r in out:
        assert r["group_size"] == sizes[r["group_id"]]
        assert r["is_survivor"] == (r["doc_id"] == r["group_id"])
    # at least one non-trivial transitive group exists in the fixture,
    # otherwise this test proves nothing — fail loudly so the fixture
    # assumption is visible
    assert any(s > 1 for s in sizes.values())


def _neighbours(edges, loops):
    """Undirected neighbour sets of an edge list, duplicates once; with
    ``loops`` a self-loop makes a node its own neighbour (``_adjacency``:
    pagerank and LPA count it), without it the loop is dropped (a k-core
    counts distinct OTHER neighbours)."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u != v or loops:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    return adj


def test_edge_index_symmetrizes_and_dedups_raw_rows():
    """``_edge_index`` (pure numpy, no Spark) turns raw undirected rows,
    unsorted and split across batches, into ``_adjacency``'s graph: the
    symmetric distinct directed edge set, a duplicate in either
    orientation once, a self-loop one neighbour of its node. Node 50
    appears only as a ``v``; an empty batch and no batches at all are
    handled."""
    import pandas as pd

    from reactor_window_like_flink_spark.llm.clustering import _edge_index

    rows = [(3, 1), (1, 3), (3, 1), (2, 2), (7, 2), (2, 7), (2, 2), (1, 50), (9, 3)]
    batches = [
        pd.DataFrame(rows[:3], columns=["u", "v"]),
        pd.DataFrame({"u": pd.Series([], dtype="int64"), "v": pd.Series([], dtype="int64")}),
        pd.DataFrame(rows[3:7], columns=["u", "v"]),
        pd.DataFrame(rows[7:], columns=["u", "v"]),
    ]
    nodes, si, di = _edge_index(iter(batches))
    assert nodes.tolist() == [1, 2, 3, 7, 9, 50]
    got = list(zip(nodes[si].tolist(), nodes[di].tolist()))
    assert got == sorted(
        {(a, b) for u, v in rows for a, b in ((u, v), (v, u))}
    ), got
    assert _edge_index(iter([])) is None


def _pagerank_reference(edges):
    """Sequential power iteration — the semantics spec: same damping,
    iteration count and uniform start; rank rounded to 6dp."""
    from reactor_window_like_flink_spark.llm.clustering import (
        PAGERANK_DAMPING,
        PAGERANK_ITERS,
    )

    adj = _neighbours(edges, loops=True)
    nodes = sorted(adj)
    r = {x: 1.0 / len(nodes) for x in nodes}
    d = PAGERANK_DAMPING
    for _ in range(PAGERANK_ITERS):
        nxt = {x: (1.0 - d) / len(nodes) for x in nodes}
        for x in nodes:
            share = r[x] / len(adj[x])
            for y in adj[x]:
                nxt[y] += d * share
        r = nxt
    return {x: rhalf(r[x], 6) for x in nodes}


def test_pagerank_matches_sequential_reference(spark, gate_sides):
    """PageRank equals a power iteration on the same symmetrized graph
    (same damping, same iteration count, same uniform start) to 1e-6
    per node at 6dp, on both sides of the local-finish gate — and
    conserves total rank mass."""
    import numpy as np

    from reactor_window_like_flink_spark.llm.clustering import pagerank

    rng = np.random.default_rng(17)
    n = 60
    raw = {
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(150, 2))
        if a != b
    }
    edges_list = sorted({(min(a, b), max(a, b)) for a, b in raw})
    df = spark.createDataFrame(edges_list, "u long, v long")
    want = _pagerank_reference(edges_list)
    for side, rows in gate_sides(lambda: pagerank(df)).items():
        got = {r["node"]: r["rank"] for r in rows}
        assert set(got) == set(want), side
        for x in want:
            assert abs(got[x] - want[x]) <= 1e-6, (side, x)
        assert abs(sum(got.values()) - 1.0) <= 1e-3, side  # mass conservation


def _lpa_reference(edges, rounds):
    """Sequential synchronous LPA — the semantics spec: every node
    simultaneously adopts its neighbors' plurality label, ties to the
    smallest label; a self-loop is one vote for the node's own label."""
    from collections import defaultdict

    adj = _neighbours(edges, loops=True)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n in adj:
            votes = defaultdict(int)
            for nb in adj[n]:
                votes[labels[nb]] += 1
            new[n] = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new
    return labels


def test_lpa_matches_sequential_reference_on_random_graph(spark, gate_sides):
    import random

    from reactor_window_like_flink_spark.llm.clustering import (
        LPA_ROUNDS,
        label_propagation,
    )

    rng = random.Random(77)
    edges = {tuple(sorted(rng.sample(range(80), 2))) for _ in range(200)}
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    want = _lpa_reference(edges, LPA_ROUNDS)
    for side, rows in gate_sides(lambda: label_propagation(df)).items():
        assert {r["node"]: r["community"] for r in rows} == want, side


def test_lpa_keeps_planted_communities_components_would_merge(spark):
    """Two 8-cliques joined by a single bridge: connected components
    collapse everything into one group; LPA must keep two communities
    (the bridge label lacks majority support to cross)."""
    from reactor_window_like_flink_spark.llm.clustering import (
        label_propagation,
    )
    from pyspark.sql import functions as F

    cliq_a = [(i, j) for i in range(8) for j in range(i + 1, 8)]
    cliq_b = [(i, j) for i in range(10, 18) for j in range(i + 1, 18)]
    edges = cliq_a + cliq_b + [(0, 10)]  # the thin bridge
    df = spark.createDataFrame(edges, "u long, v long")

    comm = {
        r["node"]: r["community"]
        for r in label_propagation(df).collect()
    }
    assert len(set(comm.values())) == 2
    assert {comm[i] for i in range(8)} == {comm[0]}
    assert {comm[i] for i in range(10, 18)} == {comm[10]}
    assert comm[0] != comm[10]

    comps = connected_components(df, df.select(F.col("u").alias("node")))
    assert comps.select("comp").distinct().count() == 1


def test_lpa_registered_key_shape_and_empty(spark, sf_dir, tmp_path):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out = qs["q_communities_lpa"](spark, sf_dir)
    assert out.columns == ["node", "community", "community_size"]
    rows = out.collect()
    assert len(rows) > 0
    # community_size is consistent with the label multiset
    from collections import Counter

    sizes = Counter(r["community"] for r in rows)
    assert all(sizes[r["community"]] == r["community_size"] for r in rows)
    # empty graph -> empty frame
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(
        0
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    assert qs["q_communities_lpa"](spark, str(tmp_path)).collect() == []


def _kcore_reference(edges, k):
    """Sequential peeling — the semantics spec (peeling is confluent,
    so any order reaches the same fixpoint)."""
    adj = _neighbours(edges, loops=False)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for nb in adj.pop(n):
                    adj[nb].discard(n)
                changed = True
    return {n: len(nbrs) for n, nbrs in adj.items() if nbrs}


def _multigraph():
    """300 random edges over 60 nodes, then duplicates in both
    orientations and one self-loop: (edges, the simple edge set)."""
    import random

    rng = random.Random(13)
    simple = sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(300)})
    loop_node = simple[0][0]
    multi = (
        simple
        + [(v, u) for u, v in simple[::2]]
        + simple[::3]
        + [(loop_node, loop_node)]
    )
    return multi, simple


def test_kcore_matches_sequential_reference_on_random_graph(spark, gate_sides):
    """Both sides of the local-finish gate — the one-task numpy peel at
    or under ``LOCAL_FINISH_EDGES`` and the distributed round loop over
    it — equal the sequential reference. The input is a multigraph
    (duplicate edges in both orientations, one self-loop): the
    adjacency's initial degree is each node's distinct-neighbour count,
    the self-loop not counted."""
    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.llm.clustering import (
        _adjacency,
        _kcore_edges,
        kcore,
    )

    multi, simple = _multigraph()
    df = spark.createDataFrame(multi, "u long, v long")
    deg = _adjacency(_kcore_edges(df)).select("src", F.size("dsts").alias("deg"))
    assert {r["src"]: r["deg"] for r in deg.collect()} == {
        n: len(s) for n, s in _neighbours(simple, loops=False).items()
    }
    for k in (3, 5, 8):
        want = _kcore_reference(simple, k)
        for side, rows in gate_sides(lambda: kcore(df, k=k)).items():
            assert {r["node"]: r["degree"] for r in rows} == want, (side, k)


def _star():
    """A hot key: hub 0 holds 200 of the 219 edges, and a short path
    among the leaves closes 19 triangles through it."""
    return [(0, i) for i in range(1, 201)] + [(i, i + 1) for i in range(1, 20)]


@pytest.mark.parametrize("graph", ["multigraph", "star", "empty"])
@pytest.mark.parametrize("algo", ["pagerank", "lpa", "kcore", "components"])
def test_graph_family_equal_on_both_sides_of_the_gate(spark, gate_sides, algo, graph):
    """Each algorithm of the local-finish family equals its sequential
    reference on both sides of the gate, on a multigraph with a
    self-loop, on a hot-key star and on an empty graph. Components get
    no ``nodes``: every edge endpoint is labeled all the same."""
    from reactor_window_like_flink_spark.llm.clustering import (
        LPA_ROUNDS,
        kcore,
        label_propagation,
        pagerank,
    )

    edges = {"multigraph": _multigraph()[0], "star": _star(), "empty": []}[graph]
    df = spark.createDataFrame(edges, "u long, v long")
    if algo == "pagerank":
        fn, want = (lambda: pagerank(df)), _pagerank_reference(edges)
    elif algo == "lpa":
        fn, want = (lambda: label_propagation(df)), _lpa_reference(edges, LPA_ROUNDS)
    elif algo == "kcore":
        fn, want = (lambda: kcore(df, k=2)), _kcore_reference(edges, 2)
    else:
        no_nodes = spark.createDataFrame([], "node long")
        fn, want = (lambda: connected_components(df, no_nodes)), _union_find_groups(
            {x for e in edges for x in e}, edges
        )
    for side, rows in gate_sides(fn).items():
        got = {r[0]: r[1] for r in rows}
        if algo == "pagerank":
            assert set(got) == set(want), side
            assert all(abs(got[x] - want[x]) <= 1e-6 for x in want), side
        else:
            assert got == want, side


def test_kcore_key_counts(spark, sf_dir):
    """``q_kcore`` at sf0.001: the build starts 2 jobs (the basket
    shuffle's map stage under the edge list's checkpoint, and the
    one-job count of its rows) and the local-finish write 1; no
    adjacency shuffle runs below the bound."""
    from reactor_window_like_flink_spark.observe import run

    key = entry_mod.queries()["q_kcore"]
    key(spark, sf_dir)  # infers the lineitem schema once per process
    r = run(spark, lambda: key(spark, sf_dir))
    assert (r["build_jobs"], r["jobs"]) == (2, 1), r


# (build_jobs, jobs) at sf0.001 of the keys that finish in one task
# below the edge bound
_LOCAL_FINISH_KEY_COUNTS = {
    "q_pagerank": (2, 1),
    "q_communities_lpa": (2, 1),
    "q_dedup_groups": (9, 1),
}


@pytest.mark.parametrize("name", list(_LOCAL_FINISH_KEY_COUNTS))
def test_local_finish_key_counts(spark, sf_dir, name):
    """Below the edge bound ``q_pagerank`` and ``q_communities_lpa``
    build like ``q_kcore`` (2 jobs); ``q_dedup_groups`` builds its pair
    frame first. Each writes in one job: the single-task kernel, and
    for LPA and the dedup groups the size window over its single
    partition, no exchange."""
    from reactor_window_like_flink_spark.observe import run

    key = entry_mod.queries()[name]
    key(spark, sf_dir)
    r = run(spark, lambda: key(spark, sf_dir))
    assert (r["build_jobs"], r["jobs"]) == _LOCAL_FINISH_KEY_COUNTS[name], r


# (build_jobs, jobs) at sf0.001 of the keys that read the co-purchase
# adjacency without a local finish
_ADJACENCY_KEY_COUNTS = {
    "q_triangle_count": (4, 6),
    "q_degree_assortativity": (2, 3),
}


@pytest.mark.parametrize("name", list(_ADJACENCY_KEY_COUNTS))
def test_adjacency_key_counts(spark, sf_dir, name):
    """``q_triangle_count`` builds 4 jobs (the basket and adjacency
    shuffles' map stages, the one-job read of n_nodes, 2m and the wedge
    count, and the far-end degree broadcast under the oriented edge
    list's checkpoint) and ``q_degree_assortativity`` 2 (the two
    shuffles' map stages); a ``.count()`` or a second degree table in
    either would show here."""
    from reactor_window_like_flink_spark.observe import run

    key = entry_mod.queries()[name]
    key(spark, sf_dir)
    r = run(spark, lambda: key(spark, sf_dir))
    assert (r["build_jobs"], r["jobs"]) == _ADJACENCY_KEY_COUNTS[name], r


def test_kcore_keeps_clique_peels_tendrils(spark):
    """A 6-clique with a pendant path hanging off it: the 5-core is
    exactly the clique (every tendril node peels), and an empty edge
    list yields an empty core."""
    from reactor_window_like_flink_spark.llm.clustering import kcore

    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    path = [(5, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + path, "u long, v long")
    got = {r["node"]: r["degree"] for r in kcore(df, k=5).collect()}
    assert got == {i: 5 for i in range(6)}
    empty = spark.createDataFrame([], "u long, v long")
    assert kcore(empty, k=2).collect() == []
