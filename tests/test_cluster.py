"""Connected components: large-star/small-star loop vs DSU on hand and
random graphs; O(log n)-ish round bound on a long path (FIXTURES.md §4
cc_graphs)."""

from __future__ import annotations

import math
import random

import pytest

from entity_resolution__spark.operators.cluster import (
    _dense_ids,
    assign_clusters,
    connected_components,
)
from tests.oracle import DSU


def _cc_spark(spark, edges, nodes=None, local_threshold=0):
    # local_threshold=0 forces the distributed star loop — these tests
    # exist to validate it; the adaptive local-DSU path has its own
    # parity test below
    e = spark.createDataFrame(edges, ["src", "dst"])
    cc = connected_components(e, local_threshold=local_threshold)
    if nodes is None:
        nodes = sorted({x for p in edges for x in p})
    n = spark.createDataFrame([(x,) for x in nodes], ["node"])
    out = assign_clusters(cc.assignments, n)
    rows = out.collect()
    comp: dict = {}
    for r in rows:
        comp.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    return {frozenset(v) for v in comp.values()}, cc.iterations, rows


def _cc_dsu(edges, nodes):
    dsu = DSU()
    for x in nodes:
        dsu.find(x)
    for a, b in edges:
        dsu.union(a, b)
    comp: dict = {}
    for x in nodes:
        comp.setdefault(dsu.find(x), set()).add(x)
    return {frozenset(v) for v in comp.values()}


def test_chain_clique_bridge_singleton(spark):
    edges = (
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(5)]  # chain n000..n005
        + [(f"k{i}", f"k{j}") for i in range(4) for j in range(i + 1, 4)]  # clique
        + [("n005", "k0")]  # bridge chain↔clique
        + [("x1", "x2")]
    )
    nodes = sorted({x for p in edges for x in p} | {"lonely"})
    got, _, rows = _cc_spark(spark, edges, nodes)
    assert got == _cc_dsu(edges, nodes)
    # sizes + dense ids
    by_node = {r["conv_id"]: r for r in rows}
    assert by_node["lonely"]["cluster_size"] == 1
    ids = sorted({r["cluster_id"] for r in rows})
    assert ids == list(range(len(ids)))  # dense 0..K-1
    # dense ids follow sorted min-member order (reference renumber)
    mins = sorted(min(c) for c in got)
    want_id = {m: i for i, m in enumerate(mins)}
    for c in got:
        m = min(c)
        for node in c:
            assert by_node[node]["cluster_id"] == want_id[m]


def test_random_graphs_match_dsu(spark):
    rnd = random.Random(7)
    nodes = [f"v{i:04d}" for i in range(200)]
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got, _, _ = _cc_spark(spark, edges, nodes)
    assert got == _cc_dsu(edges, nodes)


def test_long_path_converges_fast(spark):
    n = 2048
    edges = [(f"p{i:05d}", f"p{i+1:05d}") for i in range(n - 1)]
    got, iters, _ = _cc_spark(spark, edges)
    assert len(got) == 1 and len(next(iter(got))) == n
    # alternating star: ~log2(n) rounds, assert generous 3*log2+5 bound
    assert iters <= 3 * int(math.log2(n)) + 5, iters


def test_cohort_transitive_clusters_vs_dsu(spark):
    """G2 vs a per-cohort DSU oracle (reference apply_transitivity.py:
    107-168 semantics): union-find per cohort, global dense renumber over
    sorted (cohort, min member); multi-cohort nodes appear once PER
    cohort."""
    from entity_resolution__spark.operators.cluster import (
        cohort_transitive_clusters,
    )

    # (u, v, cohort): japan has {a,b,c} via a-b, b-c and {x,y};
    # canada has {a,d} — node a appears in BOTH cohorts
    seed_rows = [
        ("a", "b", "japan"),
        ("b", "c", "japan"),
        ("x", "y", "japan"),
        ("a", "d", "canada"),
    ]
    seed = spark.createDataFrame(seed_rows, ["u", "v", "cohort"])
    out = cohort_transitive_clusters(seed).collect()

    # python oracle: DSU per cohort, renumber by sorted (cohort, min member)
    comps = {}  # (cohort, frozenset(members))
    import collections

    adj = collections.defaultdict(lambda: collections.defaultdict(set))
    for u, v, c in seed_rows:
        adj[c][u].add(v)
        adj[c][v].add(u)
    comp_list = []
    for c, g in adj.items():
        seen = set()
        for n in g:
            if n in seen:
                continue
            stack, comp = [n], set()
            while stack:
                cur = stack.pop()
                if cur in comp:
                    continue
                comp.add(cur)
                stack.extend(g[cur] - comp)
            seen |= comp
            comp_list.append((c, min(comp), frozenset(comp)))
    comp_list.sort(key=lambda t: (t[0], t[1]))
    want = {}
    for cid, (c, _m, members) in enumerate(comp_list):
        for m in members:
            want[(c, m)] = (cid, len(members))

    got = {(r["cohort"], r["node_id"]): (r["cluster_id"], r["cluster_size"]) for r in out}
    assert got == want
    # node 'a' is in two cohorts → two rows
    assert ("japan", "a") in got and ("canada", "a") in got


def test_cohort_seed_edges_selection(spark):
    """Seed selection: prob ≥ 0.60 AND ≥1 shared country, exploded per
    shared country (reference apply_transitivity.py:107-119)."""
    from entity_resolution__spark.plans.pipeline import cohort_seed_edges

    scored = spark.createDataFrame(
        [
            ("a", "b", 0.9),   # share japan → seed
            ("a", "c", 0.9),   # disjoint countries → no seed
            ("b", "c", 0.59),  # below threshold → no seed
            ("a", "d", 0.7),   # share japan AND canada → 2 seed rows
            ("b", "e", 0.8),   # e has no countries → no seed
        ],
        ["id_left", "id_right", "prob_match"],
    )
    countries = spark.createDataFrame(
        [
            ("a", ["Canada", "Japan"]),
            ("b", ["Japan"]),
            ("c", ["France"]),
            ("d", ["Canada", "Japan"]),
            ("e", []),
        ],
        ["conv_id", "countries"],
    )
    got = {
        (r["u"], r["v"], r["cohort"])
        for r in cohort_seed_edges(scored, countries, min_prob=0.60).collect()
    }
    assert got == {("a", "b", "japan"), ("a", "d", "canada"), ("a", "d", "japan")}


def test_local_dsu_path_matches_star_loop(spark):
    """The size-adaptive single-task union-find path must produce
    EXACTLY the same (node, root=min member) assignments as the
    distributed large-star/small-star loop."""
    random.seed(7)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (random.choice(nodes), random.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["src", "dst"])
    local = connected_components(e)  # small → local path
    assert local.iterations == 0
    dist = connected_components(e, local_threshold=0)  # forced loop
    assert dist.iterations >= 1
    lrows = {(r["node"], r["root"]) for r in local.assignments.collect()}
    drows = {(r["node"], r["root"]) for r in dist.assignments.collect()}
    assert lrows == drows


def test_self_loop_parity_local_vs_distributed(spark):
    """Self-loop edges are dropped up front on BOTH paths (ADVICE round
    2: the local DSU used to emit a (node, node) row for a self-loop-only
    node while the star loop dropped it). Extra edge columns are ignored
    on both paths (a `weight` column used to crash the forest pre-pass
    with RESULT_COLUMN_NAMES_MISMATCH)."""
    rows = [("a", "b"), ("c", "c"), ("d", "d")]
    plain = spark.createDataFrame(rows, ["src", "dst"])
    weighted = spark.createDataFrame(
        [r + (0.5,) for r in rows], ["src", "dst", "weight"]
    )
    for e in (plain, weighted):
        local = connected_components(e)
        dist = connected_components(e, local_threshold=0)
        lrows = {(r["node"], r["root"]) for r in local.assignments.collect()}
        drows = {(r["node"], r["root"]) for r in dist.assignments.collect()}
        assert lrows == drows == {("a", "a"), ("b", "a")}


@pytest.mark.parametrize("local_threshold", [2_000_000, 0])
@pytest.mark.parametrize("kind", ["empty", "self_loops_only"])
def test_no_edges_gives_singletons(spark, kind, local_threshold):
    """Empty inputs on both paths: no assignment rows, and
    assign_clusters makes every node its own dense-id cluster."""
    rows = [] if kind == "empty" else [("a", "a"), ("b", "b")]
    e = spark.createDataFrame(rows, "src string, dst string")
    cc = connected_components(e, local_threshold=local_threshold)
    assert cc.assignments.count() == 0
    nodes = spark.createDataFrame([(n,) for n in "cab"], "node string")
    got = sorted(
        (r["conv_id"], r["cluster_id"], r["cluster_size"])
        for r in assign_clusters(cc.assignments, nodes).collect()
    )
    assert got == [("a", 0, 1), ("b", 1, 1), ("c", 2, 1)]


def test_local_dsu_null_edges_dropped_not_corrupted(spark):
    """Round-5 ADVICE: integer edge endpoints with nulls widen to
    float64 in pandas (NaN dict keys, >2^53 precision loss). Null
    endpoints are dropped BEFORE the Arrow transfer on both paths, and
    the surviving long ids stay exact integers."""
    big = 2**60 + 1  # would lose precision if routed through float64
    e = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (big, big + 2)],
        "src long, dst long",
    )
    # null edges contribute nothing; 3 appears in no valid edge
    want = {(1, 1), (2, 1), (big, big), (big + 2, big)}
    for local_threshold in (2_000_000, 0):
        cc = connected_components(e, local_threshold=local_threshold)
        assert cc.assignments.schema["node"].dataType.simpleString() == "bigint"
        assert {(r["node"], r["root"]) for r in cc.assignments.collect()} == want


def test_distributed_cc_at_size(spark):
    """Round-4 VERDICT #4: exercise the star loop AT SIZE — >100k chain
    edges (bench runs the same generator at 1.05M), forced past the
    single-task cutover. Asserts (a) the distributed path actually ran,
    (b) round count stays ~log2(longest chain), (c) assignments equal
    BOTH the analytic expectation (chain root = first node) and the
    single-task union-find path."""
    from entity_resolution__spark.data.synth import make_chain_edges

    edges, n_edges, expected = make_chain_edges(
        spark, n_chains=1200, chain_len=100, n_long=4, long_len=800
    )
    assert n_edges == 1200 * 100 + 4 * 800
    res = connected_components(edges, local_threshold=0)
    assert res.iterations > 0  # the star loop ran
    # diameter halves per round: ~log2(800) + fixpoint detection slack
    assert res.iterations <= math.ceil(math.log2(800)) + 4
    got = res.assignments
    assert got.count() == 1200 * 101 + 4 * 801
    assert got.join(expected, ["node", "root"]).count() == got.count()
    single = connected_components(edges)
    assert single.iterations == 0  # the single-task path ran
    dsu = single.assignments
    assert got.join(dsu, ["node", "root"]).count() == got.count()
    assert dsu.count() == got.count()


def test_incremental_clusters_merge_and_new_nodes(spark):
    """Delta re-clustering: a new edge bridging two prior clusters
    merges them; brand-new nodes form their own cluster; untouched
    singletons survive; result equals a full recluster over the union
    of all prior intra-cluster pairs and the new edges."""
    from entity_resolution__spark.operators.cluster import (
        assign_clusters,
        connected_components,
        incremental_clusters,
    )

    prior = spark.createDataFrame(
        [("a", 0, 2), ("b", 0, 2), ("c", 1, 2), ("d", 1, 2), ("e", 2, 1)],
        "conv_id string, cluster_id long, cluster_size int",
    )
    new_edges = spark.createDataFrame(
        [("b", "c"), ("f", "g")], "src string, dst string"
    )
    out = {
        r["conv_id"]: (r["cluster_id"], r["cluster_size"])
        for r in incremental_clusters(prior, new_edges).collect()
    }
    assert len({out[n][0] for n in "abcd"}) == 1  # merged across the bridge
    assert out["a"][1] == 4
    assert out["f"][0] == out["g"][0] and out["f"][1] == 2
    assert out["e"][1] == 1
    assert {out["e"][0], out["f"][0]} != {out["a"][0]}
    # dense ids, sorted-min-member order: min members a < e < f
    assert (out["a"][0], out["e"][0], out["f"][0]) == (0, 1, 2)

    # equivalence with a FULL recluster over prior pairs + new edges
    full_edges = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("b", "c"), ("f", "g")],
        "src string, dst string",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in "abcdefg"], "node string"
    )
    cc = connected_components(full_edges)
    want = {
        r["conv_id"]: (r["cluster_id"], r["cluster_size"])
        for r in assign_clusters(cc.assignments, nodes).collect()
    }
    assert out == want


def test_two_level_forest_prepass_equivalence(spark):
    """Round-7 two-level CC: the partition-local spanning-star pre-pass
    (_forest) must leave the distributed loop's (node, min-root) result
    equal to the DSU oracle — for string and for integer node ids."""
    import random as _r

    from entity_resolution__spark.operators.cluster import _forest

    _r.seed(13)
    nodes = [f"w{i:03d}" for i in range(150)]
    edges = [(_r.choice(nodes), _r.choice(nodes)) for _ in range(200)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["src", "dst"]).repartition(7)
    two = connected_components(e, local_threshold=0)
    dsu = DSU()
    for a, b in edges:
        dsu.union(a, b)
    comp: dict = {}
    for x in list(dsu.parent):
        comp.setdefault(dsu.find(x), []).append(x)
    want = {(x, min(c)) for c in comp.values() for x in c}
    assert {(r["node"], r["root"]) for r in two.assignments.collect()} == want

    # integer ids through the Arrow boundary
    ei = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40)], "src long, dst long"
    ).repartition(5)
    two_i = connected_components(ei, local_threshold=0)
    rows = {(r["node"], r["root"]) for r in two_i.assignments.collect()}
    assert rows == {(i, 0) for i in range(41)}

    # the pre-pass output is a connectivity-equivalent star set: every
    # non-root row points to a smaller root, never more such rows than
    # nodes-1 per component
    frows = _forest(ei).filter("node != root").collect()
    assert all(r["node"] > r["root"] for r in frows)
    assert len(frows) <= 40


@pytest.mark.parametrize(
    "rows,schema,keys",
    [
        ([("b", 2), ("a", 1), ("c", 5)], "root string, cluster_size int", ["root"]),
        (
            [("x", "b", 2), ("x", "a", 1), ("w", "c", 5)],
            "cohort string, root_node string, cluster_size int",
            ["cohort", "root_node"],
        ),
        ([], "root string, cluster_size int", ["root"]),
    ],
    ids=["string_keys", "cohort_root_keys", "empty"],
)
def test_dense_ids_driver_branch_runs_no_python(spark, rows, schema, keys):
    """The driver-numbered dimension is dense 0..K-1 in sorted-key order,
    and its plan is a JVM-side scan: no PythonRDD unpickles its rows."""
    dim = _dense_ids(spark.createDataFrame(rows, schema), keys, "cluster_id")
    debug = dim._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in debug, debug
    assert dim.columns == [c.split()[0] for c in schema.split(", ")] + ["cluster_id"]
    assert dict(dim.dtypes)["cluster_id"] == "bigint"
    want = [tuple(r) + (i,) for i, r in enumerate(sorted(rows))]
    assert [tuple(r) for r in dim.orderBy("cluster_id").collect()] == want
