"""Hand-computed expectations for the KG graph analytics operators
(triangle counts, BFS depths, neighbor Jaccard) on tiny fixed graphs.

The gate queries (bel_triangle_counts / bel_bfs_depths /
bel_neighbor_jaccard) cross-check the same operators against DuckDB SQL
twins on the full oracle corpus; these tests pin the semantics on graphs
small enough to verify by eye.
"""

import time

import pytest
from pyspark.sql import functions as F

from ebel_spark import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u string, v string")


class TestTriangles:
    def test_single_triangle_plus_tail(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
        got = {r["bel"]: r["n_triangles"]
               for r in G.triangle_counts(e).collect()}
        assert got == {"a": 1, "b": 1, "c": 1}

    def test_direction_and_duplicates_ignored(self, spark):
        # same triangle expressed with reversed/duplicated directed edges
        e = _edges(spark, [("b", "a"), ("a", "b"), ("c", "b"), ("a", "c")])
        got = {r["bel"]: r["n_triangles"]
               for r in G.triangle_counts(e).collect()}
        assert got == {"a": 1, "b": 1, "c": 1}

    def test_k4_counts(self, spark):
        # K4: 4 triangles, each node in exactly 3
        nodes = ["a", "b", "c", "d"]
        e = _edges(spark, [(x, y) for x in nodes for y in nodes if x < y])
        got = {r["bel"]: r["n_triangles"]
               for r in G.triangle_counts(e).collect()}
        assert got == {n: 3 for n in nodes}

    def test_square_has_none(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
        assert G.triangle_counts(e).count() == 0


def _jobs(spark, fn):
    """(fn(), Spark jobs it ran), counted from a job group around it."""
    sc = spark.sparkContext
    group = f"jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    time.sleep(0.5)  # the status store is fed by an async listener
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestIterate:
    """graph.iterate decides the lineage-cut cadence and the early stop
    of every iterative operator.  The state is one partition and the
    step a shuffle-free projection, so every cut or probe is one job."""

    def test_cadence_stop_and_converged(self, spark):
        start = spark.range(0, 4, 1, 1)  # ids 0..3; round r gives r..r+3

        def step(df, _):
            return df.select((F.col("id") + 1).alias("id"))

        # no probe: eager cuts after rounds 2, 4 and the last
        for rounds, cuts in [(4, 2), (5, 3)]:
            (out, converged), jobs = _jobs(
                spark, lambda: G.iterate(step, start, rounds))
            assert (jobs, converged) == (cuts, False)
            assert sorted(r.id for r in out.collect()) == [
                rounds, rounds + 1, rounds + 2, rounds + 3]

        # the probe first holds after round 3: one action per probing
        # round (the probe fills the lazy cut), converged iff it held
        # within `rounds`, and no round after it runs
        calls = []

        def low_ids_gone(prev, new):
            calls.append(1)
            return new.filter(F.col("id") < 3).isEmpty()

        for rounds, want_converged, want_rounds in [
                (2, False, 2), (3, True, 3), (5, True, 3)]:
            calls.clear()
            (out, converged), jobs = _jobs(
                spark, lambda: G.iterate(step, start, rounds, low_ids_gone))
            assert converged is want_converged
            assert len(calls) == jobs == want_rounds
            assert min(r.id for r in out.collect()) == want_rounds


class TestBfs:
    def test_depths_follow_direction(self, spark):
        e = _edges(spark, [("s", "a"), ("a", "b"), ("b", "c"), ("s", "b"),
                           ("x", "s")])  # x->s must NOT pull x in
        src = spark.createDataFrame([("s",)], "bel string")
        got = {r["bel"]: r["dist"]
               for r in G.bfs_depths(e, src, max_depth=6).collect()}
        assert got == {"s": 0, "a": 1, "b": 1, "c": 2}

    def test_max_depth_truncates(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        src = spark.createDataFrame([("a",)], "bel string")
        got = {r["bel"]: r["dist"]
               for r in G.bfs_depths(e, src, max_depth=2).collect()}
        assert got == {"a": 0, "b": 1, "c": 2}


class TestKCore:
    def test_peels_tail_keeps_core(self, spark):
        # triangle a-b-c with a pendant chain c-d-e: 2-core is the triangle
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                           ("c", "d"), ("d", "e")])
        got = {r["bel"]: r["deg"]
               for r in G.kcore_peel(e, k=2, rounds=6).collect()}
        assert got == {"a": 2, "b": 2, "c": 2}

    def test_cascading_peel_needs_rounds(self, spark):
        # pure chain: every round peels the endpoints; 2-core is empty
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
        assert G.kcore_peel(e, k=2, rounds=6).count() == 0

    def test_k3_keeps_k4(self, spark):
        nodes = ["a", "b", "c", "d"]
        k4 = [(x, y) for x in nodes for y in nodes if x < y]
        e = _edges(spark, k4 + [("a", "x"), ("b", "x")])  # x has deg 2 < 3
        got = {r["bel"]: r["deg"]
               for r in G.kcore_peel(e, k=3, rounds=6).collect()}
        assert got == {n: 3 for n in nodes}


class TestKCoreSparkLoop(TestKCore):
    """The same cases on the per-round Spark loop: these graphs are far
    below graph._LOCAL_MAX_EDGES, so TestKCore runs them in one task."""

    @pytest.fixture(autouse=True)
    def _spark_loop(self, monkeypatch):
        monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", 0)


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        # two triangles joined by one bridge edge: LPA must converge to
        # one label per clique (min node id of the clique under the
        # deterministic min-label tie-break)
        e = _edges(spark, [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
                           ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
                           ("a3", "b1")])
        got = {r["bel"]: r["label"]
               for r in G.label_propagation(e, iters=5).collect()}
        # every a-node shares a label; every pure b-node shares a label
        assert got["a1"] == got["a2"] == got["a3"]
        assert got["b2"] == got["b3"]

    def test_deterministic_across_runs(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
                           ("a", "c")])
        r1 = sorted(map(tuple, G.label_propagation(e, iters=4).collect()))
        r2 = sorted(map(tuple, G.label_propagation(e, iters=4).collect()))
        assert r1 == r2

    def test_star_adopts_min_leaf(self, spark):
        # hub h with leaves l1..l3: round 1, each leaf sees only {h} so
        # adopts h; h sees {l1,l2,l3} (all count 1) and adopts min = l1
        e = _edges(spark, [("h", "l1"), ("h", "l2"), ("h", "l3")])
        got = {r["bel"]: r["label"]
               for r in G.label_propagation(e, iters=1).collect()}
        assert got == {"h": "l1", "l1": "h", "l2": "h", "l3": "h"}


class TestLabelPropagationSparkLoop(TestLabelPropagation):
    """The same cases on the per-round Spark loop (see TestKCoreSparkLoop)."""

    @pytest.fixture(autouse=True)
    def _spark_loop(self, monkeypatch):
        monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", 0)


_SMALL_GRAPH_OPS = {
    "kcore": (lambda e: G.kcore_peel(e, k=2, rounds=6),
              [("bel", "string"), ("deg", "bigint")]),
    "lpa": (lambda e: G.label_propagation(e, iters=5),
            [("bel", "string"), ("label", "string")]),
}


@pytest.mark.parametrize("op", sorted(_SMALL_GRAPH_OPS))
class TestOneTaskFork:
    """kcore_peel / label_propagation run in one task up to
    _LOCAL_MAX_EDGES INPUT rows (the size probe is edges.count(), not the
    undirected edge count), and the Spark loop above it."""

    @pytest.fixture
    def one_task_calls(self, monkeypatch):
        calls = []
        real = G._in_one_task

        def spy(*args):
            calls.append(args)
            return real(*args)

        monkeypatch.setattr(G, "_in_one_task", spy)
        return calls

    def test_probe_counts_input_rows(self, spark, op, one_task_calls,
                                     monkeypatch):
        # 6 rows, reversed and repeated, of the 3 undirected triangle edges
        e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
                           ("a", "c"), ("a", "c")])
        fn, _ = _SMALL_GRAPH_OPS[op]
        monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", 6)
        in_task = sorted(map(tuple, fn(e).collect()))
        assert len(one_task_calls) == 1
        monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", 4)
        spark_loop = sorted(map(tuple, fn(e).collect()))
        assert len(one_task_calls) == 1  # 6 input rows > 4: Spark loop
        assert spark_loop == in_task and len(in_task) == 3

    @pytest.mark.parametrize("limit", [None, 0])
    @pytest.mark.parametrize("pairs", [
        [], [("a", "a"), ("b", "b")], [(None, "a"), ("b", None),
                                       (None, None)]],
        ids=["empty", "self_loops", "null_endpoints"])
    def test_no_edge_is_an_empty_frame(self, spark, op, pairs, limit,
                                       monkeypatch):
        fn, schema = _SMALL_GRAPH_OPS[op]
        if limit is not None:
            monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", limit)
        out = fn(_edges(spark, pairs))
        assert out.dtypes == schema
        assert out.collect() == []


class TestNeighborJaccard:
    def test_identical_neighbor_sets(self, spark):
        # x and y share exactly {h1, h2}: jaccard 1.0 (and symmetrically
        # h1/h2 share {x, y})
        e = _edges(spark, [("x", "h1"), ("x", "h2"), ("y", "h1"), ("y", "h2")])
        rows = G.neighbor_jaccard(e, threshold=0.5).collect()
        got = {(r["x"], r["y"]): (r["inter"], r["jaccard"]) for r in rows}
        assert got == {("x", "y"): (2, 1.0), ("h1", "h2"): (2, 1.0)}

    def test_partial_overlap_threshold(self, spark):
        # N(x)={h1,h2,h3}, N(y)={h2,h3,h4}: jaccard = 2/4 = 0.5
        e = _edges(spark, [("x", "h1"), ("x", "h2"), ("x", "h3"),
                           ("y", "h2"), ("y", "h3"), ("y", "h4")])
        rows = {(r["x"], r["y"]): r["jaccard"]
                for r in G.neighbor_jaccard(e, threshold=0.5).collect()}
        assert rows[("x", "y")] == 0.5
        assert all(j >= 0.5 for j in rows.values())

    def test_hub_cap_excludes_super_hub(self, spark):
        # h is adjacent to everyone (degree 4 > max_hub=3) and must not
        # generate candidates; x/y still pair via the small shared h2
        e = _edges(spark, [("h", "x"), ("h", "y"), ("h", "z"), ("h", "w"),
                           ("x", "h2"), ("y", "h2")])
        rows = G.neighbor_jaccard(e, threshold=0.1, max_hub=3).collect()
        pairs = {(r["x"], r["y"]) for r in rows}
        assert ("x", "y") in pairs
        # no pair may be witnessed by the super-hub alone
        assert ("w", "x") not in pairs and ("w", "z") not in pairs


class TestNegativeSamples:
    def test_deterministic_filtered_and_bounded(self, spark):
        from ebel_spark import graph as G
        from pyspark.sql import functions as F
        edges = spark.createDataFrame(
            [(f"e{i}", f"p(HGNC:S{i % 7})", "increases", f"p(HGNC:T{i % 5})")
             for i in range(40)],
            ["edge_key", "subject_bel", "relation", "object_bel"])
        got = G.negative_samples(edges, k=2, buckets=8).collect()
        # at most k per edge, never the true object, drawn from the universe
        ents = {r[0] for r in edges.select("subject_bel").collect()} | \
               {r[0] for r in edges.select("object_bel").collect()}
        per_edge = {}
        for r in got:
            per_edge.setdefault(r.edge_id, []).append(r)
            assert r.neg_object_bel != \
                [x for x in edges.collect() if x.edge_key == r.edge_id][0] \
                .object_bel
            assert r.neg_object_bel in ents
        assert all(len(v) <= 2 for v in per_edge.values())
        assert sum(len(v) for v in per_edge.values()) >= 40  # mostly 2/edge
        # bit-reproducible under repartitioning
        again = G.negative_samples(edges.repartition(16), k=2,
                                   buckets=8).collect()
        key = lambda r: (r.edge_id, r.neg_idx, r.neg_object_bel)
        assert sorted(map(key, got)) == sorted(map(key, again))


def _path_edges(spark, rows):
    """(eid, s, sc, o, oc, relation, anno_mesh, pmid) edge fixture in the
    materialized-edges column layout path_query reads."""
    df = spark.createDataFrame(
        rows,
        "edge_id string, subject_bel string, subject_class string, "
        "object_bel string, object_class string, relation string, "
        "mesh array<string>, pmid long")
    return df.withColumn(
        "annotation", F.create_map(F.lit("mesh"), F.col("mesh"))).drop("mesh")


def _path_nodes(spark, rows):
    return spark.createDataFrame(
        rows,
        "bel string, node_class string, namespace string, name string, "
        "involved_genes array<string>, involved_other array<string>")


class TestPathQuery:
    """Pins the PathQuery parametrization the SQL oracle (bel_paths) does
    not exercise: caps refusal, search modes, per-hop filters, gene_path,
    pmid/mesh edge predicates, skip/limit keyset."""

    @pytest.fixture()
    def chain(self, spark):
        # a -inc-> b -inc-> c -dec-> d, plus a side edge b -assoc-> x
        return _path_edges(spark, [
            ("e1", "a", "protein", "b", "protein", "increases",
             ["M1"], 100),
            ("e2", "b", "protein", "c", "rna", "increases", ["M2"], 200),
            ("e3", "c", "rna", "d", "abundance", "decreases", ["M1"], 300),
            ("e4", "b", "protein", "x", "pathology", "association",
             [], 400),
        ])

    def test_lengths_and_relation_filter(self, spark, chain):
        got = G.path_query(chain, min_len=1, max_len=3,
                           relations=["increases", "decreases"])
        rows = {(r.path_len, r.n1, r.n2, r.n3, r.n4)
                for r in got.collect()}
        assert (3, "a", "b", "c", "d") in rows
        # e4 filtered out by the relation predicate on every hop
        assert not any("x" in r for r in rows)
        assert {r[0] for r in rows} == {1, 2, 3}

    def test_min_len_drops_short_paths(self, spark, chain):
        got = G.path_query(chain, min_len=2, max_len=3)
        assert {r.path_len for r in got.collect()} == {2, 3}

    def test_name_only_spec_needs_rollup_columns(self, spark, chain):
        # a name-only non-genic spec filters on involved_* membership;
        # a nodes table without the rollup columns must raise a clear
        # error, not an AnalysisException deep in the join DAG
        plain = spark.createDataFrame(
            [("a", "protein", "HGNC", "A")],
            "bel string, node_class string, namespace string, name string")
        with pytest.raises(ValueError, match="materialize_nodes"):
            G.path_query(chain, plain, start={"name": "A"})

    def test_last_differs_from_first_only(self, spark):
        # triangle a->b->a: length-2 path a,b,a must be dropped (last ==
        # first) but a,b + b,a survive as length-1 paths
        e = _path_edges(spark, [
            ("e1", "a", "protein", "b", "protein", "increases", [], 1),
            ("e2", "b", "protein", "a", "protein", "increases", [], 2),
        ])
        got = G.path_query(e, min_len=1, max_len=2)
        assert {(r.path_len, r.n1, r.n3) for r in got.collect()} == {
            (1, "a", None), (1, "b", None)}

    def test_node_spec_modes_and_class(self, spark, chain):
        nodes = _path_nodes(spark, [
            ("a", "protein", "HGNC", "AKT1", ["AKT1"], []),
            ("b", "protein", "HGNC", "TNF", ["TNF"], []),
            ("c", "rna", "HGNC", "IL6", ["IL6"], []),
            ("d", "abundance", "CHEBI", "water", [], ["water"]),
        ])
        got = G.path_query(
            chain, nodes, min_len=2, max_len=2,
            start={"node_class": "protein", "name": "AKT", "how_name":
                   "starts_with"},
            end={"node_class": "rna"})
        assert [(r.n1, r.n3) for r in got.collect()] == [("a", "c")]
        # contains mode on the bel string of the end node
        got2 = G.path_query(
            chain, nodes, min_len=1, max_len=1,
            end={"bel": "", "how_bel": "contains", "node_class":
                 "pathology"})
        assert [(r.n1, r.n2) for r in got2.collect()] == [("b", "x")]

    def test_gene_path_and_inside_class(self, spark, chain):
        nodes = _path_nodes(spark, [
            ("a", "protein", "HGNC", "AKT1", ["AKT1"], []),
            ("b", "protein", "HGNC", "TNF", ["TNF"], []),
            ("c", "rna", "HGNC", "IL6", ["IL6"], []),
            ("d", "abundance", "CHEBI", "water", [], ["water"]),
        ])
        # inside node of a,b,c,d length-3 paths are b and c: both genic,
        # so gene_path keeps the path; inside_node_class=rna drops the
        # b-inside branch at hop boundary 2
        full = G.path_query(chain, nodes, min_len=3, max_len=3,
                            gene_path=True)
        assert [(r.n1, r.n4) for r in full.collect()] == [("a", "d")]
        only_rna_inside = G.path_query(chain, nodes, min_len=3, max_len=3,
                                       inside_node_class="rna")
        assert only_rna_inside.count() == 0  # b (protein) is an inside node

    def test_edge_pmid_and_mesh_filters(self, spark, chain):
        got = G.path_query(chain, min_len=1, max_len=1,
                           anno_terms=["M1"], pmids=[100, 300])
        assert {r.e1 for r in got.collect()} == {"e1", "e3"}

    def test_caps_refuse(self, spark, chain):
        with pytest.raises(G.PathExplosionError):
            G.path_query(chain, min_len=1, max_len=1, max_paths=2)
        with pytest.raises(G.PathExplosionError):
            G.path_query(chain, min_len=1, max_len=3,
                         max_unique_edges=2)

    def test_subgraph_pre_guard(self, spark, chain):
        # r5: the pre-guard refuses on the predicate-filtered subgraph
        # size BEFORE any hop join (chain has 4 edges; the relation
        # filter leaves 3, so the guard sees the POST-predicate count)
        with pytest.raises(G.PathExplosionError, match="pre-guard"):
            G.path_query(chain, min_len=1, max_len=2,
                         max_subgraph_edges=2)
        with pytest.raises(G.PathExplosionError, match="pre-guard"):
            G.path_query(chain, min_len=1, max_len=2,
                         relations=["increases", "decreases"],
                         max_subgraph_edges=2)
        # a zero budget is a budget, not "no guard": any non-empty
        # subgraph is refused
        with pytest.raises(G.PathExplosionError, match="pre-guard"):
            G.path_query(chain, min_len=1, max_len=2,
                         max_subgraph_edges=0)
        # at or under the budget: identical results to no pre-guard
        a = sorted(tuple(r) for r in G.path_query(
            chain, min_len=1, max_len=2,
            relations=["increases", "decreases"],
            max_subgraph_edges=3).collect())
        b = sorted(tuple(r) for r in G.path_query(
            chain, min_len=1, max_len=2,
            relations=["increases", "decreases"]).collect())
        assert a == b

    def test_skip_limit_keyset(self, spark, chain):
        base = G.path_query(chain, min_len=1, max_len=2)
        all_rows = sorted(
            tuple(r) for r in base.collect())
        page = G.path_query(chain, min_len=1, max_len=2, skip=1, limit=2)
        assert sorted(tuple(r) for r in page.collect()) == all_rows[1:3]


class TestMatchContext:
    def test_class_where_and_edge_predicates(self, spark):
        nodes = _path_nodes(spark, [
            ("a", "protein", "HGNC", "AKT1", [], []),
            ("b", "protein", "MGI", "Tnf", [], []),
            ("c", "rna", "HGNC", "IL6", [], []),
            ("z", "protein", "HGNC", "ZZZ", [], []),  # untouched
        ])
        edges = _path_edges(spark, [
            ("e1", "a", "protein", "b", "protein", "increases", [], 100),
            ("e2", "c", "rna", "a", "protein", "decreases", [], 200),
        ])
        got = G.match_context(
            nodes, edges, node_class="protein",
            node_where=F.col("namespace") == "HGNC",
            edge_relations=["increases"])
        assert [r.bel for r in got.collect()] == ["a"]

    def test_direction(self, spark):
        nodes = _path_nodes(spark, [
            ("a", "protein", "HGNC", "A", [], []),
            ("b", "protein", "HGNC", "B", [], []),
        ])
        edges = _path_edges(spark, [
            ("e1", "a", "protein", "b", "protein", "increases", [], 1),
        ])
        outs = G.match_context(nodes, edges, direction="out")
        ins = G.match_context(nodes, edges, direction="in")
        assert [r.bel for r in outs.collect()] == ["a"]
        assert [r.bel for r in ins.collect()] == ["b"]
        with pytest.raises(ValueError, match="direction"):
            G.match_context(nodes, edges, direction="outbound")


class TestReliableCheckpoint:
    """cut_lineage must switch every iterative op to RELIABLE
    checkpoint() when spark.checkpoint.dir is configured (replicated
    blocks survive executor loss on a real cluster) with results
    identical to the localCheckpoint fallback."""

    def test_pagerank_and_cc_identical_under_checkpoint_dir(
            self, spark, tmp_path):
        from ebel_spark.ops import dedup as D
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
                           ("e", "f")])
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("e", "f")], "a string, b string")
        pr_local = sorted(
            (r.bel, round(r.rank, 10))
            for r in G.pagerank(e, iters=5).collect())
        cc_local = sorted(tuple(r) for r in
                          D.connected_components(pairs).collect())

        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        old = jsc.checkpointDir()
        ckpt = str(tmp_path / "reliable_ckpt")
        sc.setCheckpointDir(ckpt)
        try:
            assert sc.getCheckpointDir() is not None
            pr_ckpt = sorted(
                (r.bel, round(r.rank, 10))
                for r in G.pagerank(e, iters=5).collect())
            cc_ckpt = sorted(tuple(r) for r in
                             D.connected_components(pairs).collect())
            # the reliable path actually wrote checkpoint data
            import os
            found = any(files for _, _, files in os.walk(ckpt))
            assert found, "no reliable checkpoint blocks written"
        finally:
            # restore the unset state so other session-scoped tests keep
            # exercising the localCheckpoint fallback
            getattr(jsc, "checkpointDir_$eq")(old)
        assert pr_ckpt == pr_local
        assert cc_ckpt == cc_local
        assert sc.getCheckpointDir() is None


class TestRandomWalks:
    def test_walks_follow_edges_and_stop_at_sinks(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
        rows = G.random_walks(e, walks_per_node=2, walk_len=3).collect()
        edges = {("a", "b"), ("b", "c"), ("a", "c")}
        walks = {}
        for r in rows:
            walks.setdefault((r["start"], r["walk"]), {})[r["step"]] = r["node"]
        # every (node, walk) pair starts at itself
        for (start, w), path in walks.items():
            assert path[0] == start
            for t in range(1, max(path) + 1):
                assert (path[t - 1], path[t]) in edges
        # c is a sink: its walks are just the start row
        assert max(walks[("c", 0)]) == 0
        # a has out-degree 2 at every step, so its walks always reach len 3
        # unless they hit the sink c
        assert ("a", 0) in walks and ("a", 1) in walks

    def test_deterministic_across_runs_and_partitionings(self, spark):
        pairs = [(f"n{i}", f"n{(i * 3 + 1) % 7}") for i in range(7)] + \
                [(f"n{i}", f"n{(i + 2) % 7}") for i in range(7)]
        e1 = _edges(spark, pairs)
        e2 = _edges(spark, pairs).repartition(5)
        k = lambda rows: sorted(map(tuple, rows))
        r1 = k(G.random_walks(e1, 2, 3).collect())
        r2 = k(G.random_walks(e2, 2, 3).collect())
        assert r1 == r2


class TestHits:
    def test_star_graph_authority_concentrates(self, spark):
        # a,b,c all point at z: z is the sole authority, a/b/c equal hubs
        e = _edges(spark, [("a", "z"), ("b", "z"), ("c", "z")])
        got = {r["bel"]: (round(r["hub"], 6), round(r["auth"], 6))
               for r in G.hits(e, iters=3).collect()}
        assert got["z"] == (0.0, 1.0)
        third = round(1 / 3, 6)
        for n in ("a", "b", "c"):
            assert got[n][1] == 0.0
            assert abs(got[n][0] - third) < 1e-6

    def test_l1_normalized_each_iteration(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")])
        rows = G.hits(e, iters=5).collect()
        assert abs(sum(r["hub"] for r in rows) - 1.0) < 1e-9
        assert abs(sum(r["auth"] for r in rows) - 1.0) < 1e-9


class TestSkipgramPairs:
    def test_window_pairs_on_fixed_chain(self, spark):
        # one deterministic walk a->b->c (plus b,c's own short walks):
        # hand-build the walk frame directly to pin the pair window
        rows = [("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c"),
                ("z", 0, 0, "z")]
        w = spark.createDataFrame(
            rows, "start string, walk int, step int, node string")
        got = {(r["center"], r["context"]): r["n_pairs"]
               for r in G.skipgram_pairs(w, window=2).collect()}
        # all ordered pairs within distance 2 of the a-walk; z alone = none
        assert got == {("a", "b"): 1, ("b", "a"): 1, ("a", "c"): 1,
                       ("c", "a"): 1, ("b", "c"): 1, ("c", "b"): 1}

    def test_window_1_excludes_distance_2(self, spark):
        rows = [("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c")]
        w = spark.createDataFrame(
            rows, "start string, walk int, step int, node string")
        got = {(r["center"], r["context"])
               for r in G.skipgram_pairs(w, window=1).collect()}
        assert ("a", "c") not in got and ("b", "c") in got


class TestEdgeSupport:
    def test_k4_every_edge_support_2(self, spark):
        # K4: each edge closes a triangle with each of the 2 other nodes
        nodes = ["a", "b", "c", "d"]
        e = _edges(spark, [(x, y) for x in nodes for y in nodes if x < y])
        got = {(r["a"], r["b"]): r["support"]
               for r in G.edge_support(e).collect()}
        assert got == {(x, y): 2 for x in nodes for y in nodes if x < y}

    def test_triangle_plus_tail(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
        got = {(r["a"], r["b"]): r["support"]
               for r in G.edge_support(e).collect()}
        # tail edge (c,d) is in no triangle -> absent
        assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}

    def test_direction_and_duplicates_ignored(self, spark):
        e = _edges(spark, [("b", "a"), ("a", "b"), ("c", "b"), ("a", "c")])
        got = {(r["a"], r["b"]): r["support"]
               for r in G.edge_support(e).collect()}
        assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}


class TestCooccurrencePmi:
    def test_hand_computed(self, spark):
        import math
        s = _edges(spark, [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y")])
        got = {(r["u"], r["v"]): (r["n_uv"], r["pmi"])
               for r in G.cooccurrence_pmi(s).collect()}
        # N=4; n(a)=3, n(b)=1 as subjects; n(x)=2, n(y)=2 as objects
        assert got[("a", "x")][0] == 2
        assert got[("a", "x")][1] == pytest.approx(math.log(2 * 4 / (3 * 2)))
        assert got[("a", "y")][1] == pytest.approx(math.log(1 * 4 / (3 * 2)))
        assert got[("b", "y")][1] == pytest.approx(math.log(1 * 4 / (1 * 2)))


class TestKTruss:
    def test_k4_stable_under_4truss(self, spark):
        # K4 edges each have support 2; a pendant triangle (support-1
        # edges) is peeled in round 1 and K4 is the stable 4-truss
        nodes = ["a", "b", "c", "d"]
        e = _edges(spark, [(x, y) for x in nodes for y in nodes if x < y]
                   + [("d", "e"), ("d", "f"), ("e", "f")])
        got = {(r["a"], r["b"]): r["support"]
               for r in G.ktruss_peel(e, k=4, rounds=3).collect()}
        assert got == {(x, y): 2 for x in nodes for y in nodes if x < y}

    def test_cascade_dissolves_diamond(self, spark):
        # two triangles sharing edge (b,c): only (b,c) has support 2, but
        # after round 1 drops the support-1 edges, (b,c) has no triangle
        # left -> dropped in round 2 (the cascade k-core can't see)
        e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"),
                           ("b", "d"), ("c", "d")])
        assert G.ktruss_peel(e, k=4, rounds=3).count() == 0

    def test_3truss_keeps_triangle_edges(self, spark):
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
        got = {(r["a"], r["b"]): r["support"]
               for r in G.ktruss_peel(e, k=3, rounds=2).collect()}
        assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}

    def test_fixpoint_equals_true_truss(self, spark):
        # r4 VERDICT #5: rounds=None peels to the exact fixpoint.  K4 on
        # {a,b,c,d} + triangle {c,d,e} + triangle {d,e,f}: edge (d,e)
        # starts at support 2 (>= k-2 for k=4) but its triangles dissolve
        # when (c,e)/(d,f)/(e,f) peel in round 1 — a 2-round cascade a
        # too-small fixed unrolling would miss.  True 4-truss = K4.
        nodes = ["a", "b", "c", "d"]
        k4 = [(x, y) for x in nodes for y in nodes if x < y]
        e = _edges(spark, k4 + [("c", "e"), ("d", "e"),
                                ("d", "f"), ("e", "f")])
        rows = G.ktruss_peel(e, k=4, rounds=None).collect()
        got = {(r["a"], r["b"]): r["support"] for r in rows}
        assert got == {(x, y): 2 for x, y in k4}
        assert all(r["converged"] for r in rows)
        # a 1-round unrolling of the SAME graph keeps the not-yet-
        # dissolved (c,d)-adjacent debris: the fixpoint result differs
        fixed1 = G.ktruss_peel(e, k=4, rounds=1)
        assert fixed1.count() > len(k4)

    def test_fixpoint_max_rounds_reports_unconverged(self, spark):
        e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"),
                           ("b", "d"), ("c", "d")])
        rows = G.ktruss_peel(e, k=4, rounds=None, max_rounds=1).collect()
        # round 1 drops the support-1 edges but (b,c) still pending ->
        # not converged at the bound
        assert rows and not rows[0]["converged"]

    def test_fixpoint_last_drop_at_max_rounds_is_unconverged(self, spark):
        # the test_fixpoint_equals_true_truss graph drops edges in rounds
        # 1 and 2 and is stable from round 3: converged means a round
        # within max_rounds removed nothing, so a bound of exactly 2
        # reports false although the surviving edges are already final
        nodes = ["a", "b", "c", "d"]
        k4 = [(x, y) for x in nodes for y in nodes if x < y]
        e = _edges(spark, k4 + [("c", "e"), ("d", "e"),
                                ("d", "f"), ("e", "f")])
        at_bound = G.ktruss_peel(e, k=4, rounds=None, max_rounds=2).collect()
        assert {(r["a"], r["b"]) for r in at_bound} == set(k4)
        assert not any(r["converged"] for r in at_bound)
        past = G.ktruss_peel(e, k=4, rounds=None, max_rounds=3).collect()
        assert {(r["a"], r["b"]) for r in past} == set(k4)
        assert all(r["converged"] for r in past)


class TestCycleEdges:
    @pytest.mark.parametrize("src,dst", [("s", "t"), ("v", "w")])
    def test_non_default_column_names(self, spark, src, dst):
        # the self-loop filter must read the aliased u/v columns, not
        # src/dst: with src="v", dst="w", F.col(src) resolved to the
        # ALIASED v (= w) and the filter became w != w, dropping every
        # edge
        e = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "c"), ("c", "c")],
            f"{src} string, {dst} string")
        got = {(r.u, r.v): r.cycle_len
               for r in G.cycle_edges(e, max_len=3, src=src,
                                      dst=dst).collect()}
        assert got == {("a", "b"): 2, ("b", "a"): 2}


class TestSsspRelax:
    def test_cheap_2hop_beats_expensive_direct(self, spark):
        # s -> t direct cost 3 (associative) vs s -> m -> t at 1+1
        # (causal chain): Bellman-Ford must return 2, what BFS (hops)
        # cannot see
        e = spark.createDataFrame(
            [("s", "t", 3), ("s", "m", 1), ("m", "t", 1), ("t", "z", 3)],
            ["u", "v", "cost"])
        src = spark.createDataFrame([("s",)], ["bel"])
        got = {r["bel"]: r["dist"]
               for r in G.sssp_relax(e, src, rounds=4).collect()}
        assert got == {"s": 0, "m": 1, "t": 2, "z": 5}

    def test_rounds_bound_limits_reach(self, spark):
        # chain a->b->c->d at cost 1 each: rounds=2 reaches only depth 2
        e = spark.createDataFrame(
            [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)],
            ["u", "v", "cost"])
        src = spark.createDataFrame([("a",)], ["bel"])
        got = {r["bel"]: r["dist"]
               for r in G.sssp_relax(e, src, rounds=2).collect()}
        assert got == {"a": 0, "b": 1, "c": 2}

    def test_multi_source_min(self, spark):
        # two sources: each node takes the nearer one
        e = spark.createDataFrame(
            [("s1", "x", 5), ("s2", "x", 1)], ["u", "v", "cost"])
        src = spark.createDataFrame([("s1",), ("s2",)], ["bel"])
        got = {r["bel"]: r["dist"]
               for r in G.sssp_relax(e, src, rounds=2).collect()}
        assert got == {"s1": 0, "s2": 0, "x": 1}


class TestNode2vecHubGuard:
    def test_hub_falls_back_to_unbiased_rule(self, spark):
        # r4 VERDICT #4: star hub h (8 in x 8 out = 64 2-paths) over
        # max_hub=32 -> h leaves the biased domain; its successor must
        # be the PREV-INDEPENDENT DeepWalk argmin, identical for every
        # walk arriving from any x_i
        from ebel_spark.oracle_xxh import spark_xxhash64_str
        xs = [f"x{i}" for i in range(8)]
        ys = [f"y{j}" for j in range(8)]
        e = _edges(spark, [(x, "h") for x in xs] + [("h", y) for y in ys])
        out = G.node2vec_walks(e, walks_per_node=1, walk_len=2,
                               max_hub=32)
        rows = {(r["start"], r["walk"], r["step"]): r["node"]
                for r in out.collect()}
        # the unbiased rule: min (xxhash64("h|0|1|y"), y) over out-nbrs
        want = min(ys, key=lambda y: (spark_xxhash64_str(f"h|0|1|{y}"), y))
        for x in xs:
            assert rows[(x, 0, 1)] == "h"
            assert rows[(x, 0, 2)] == want
        # cap NOT exercised (64 <= 64): biased path still runs end-to-end
        out2 = G.node2vec_walks(e, walks_per_node=1, walk_len=2,
                                max_hub=64)
        assert out2.filter("step = 2").count() == len(xs)

    def test_max_hub_none_keeps_exact_node2vec(self, spark):
        # uncapped == pre-r5 behavior: same row count on a graph with no
        # hub (cap irrelevant), and runs with the inner-join plan
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"),
                           ("b", "a")])
        capped = sorted(map(tuple, G.node2vec_walks(e, max_hub=4096)
                            .collect()))
        uncapped = sorted(map(tuple, G.node2vec_walks(e, max_hub=None)
                              .collect()))
        assert capped == uncapped


class TestAdamicAdar:
    def test_hand_computed_square(self, spark):
        import math
        # square a-b-c-d-a: (a,c) share {b,d}, (b,d) share {a,c}; all
        # degrees 2 -> aa = 2/ln(2) for both pairs
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
        got = {(r["x"], r["y"]): (r["common"], r["aa"])
               for r in G.adamic_adar(e, min_common=2).collect()}
        want = round(2 * round(10**12 / math.log(2)) / 1e12, 6)
        assert got == {("a", "c"): (2, want), ("b", "d"): (2, want)}

    def test_hub_cap_excludes_super_hub(self, spark):
        # star center h connects x1..x5 -> every pair shares only h;
        # with max_hub=4 the center (degree 5) is excluded -> no pairs
        e = _edges(spark, [("h", f"x{i}") for i in range(5)])
        assert G.adamic_adar(e, max_hub=4, min_common=1).count() == 0
        # with the cap raised the 10 pairs appear
        assert G.adamic_adar(e, max_hub=8, min_common=1).count() == 10


class TestNode2vec:
    def test_node2vec_walk_invariants_and_bias(self, spark):
        from ebel_spark import graph as G
        from ebel_spark.oracle_xxh import spark_xxhash64_str
        edges = [("a", "b"), ("b", "a"), ("b", "c"), ("b", "d"),
                 ("a", "c"), ("c", "d"), ("d", "a")]
        e = spark.createDataFrame(edges, ["u", "v"])
        p_param, q_param = 4.0, 0.25
        walks = G.node2vec_walks(e, walks_per_node=2, walk_len=3,
                                 p=p_param, q=q_param).collect()
        eset = set(edges)
        by_walk = {}
        for r in walks:
            by_walk.setdefault((r.start, r.walk), {})[r.step] = r.node
        for (start, w), steps in by_walk.items():
            ks = sorted(steps)
            assert ks == list(range(len(ks)))  # no gaps
            assert steps[0] == start
            for t in range(1, len(ks)):
                assert (steps[t - 1], steps[t]) in eset  # real edges
        # python replica of one biased transition: whatever state
        # (prev, cur) the walk (a, 0) reaches at step 1->2, the chosen
        # step-2 node must equal the key-argmin over cur's out-neighbors
        out_adj = {}
        for u, v in edges:
            out_adj.setdefault(u, []).append(v)
        st = by_walk[("a", 0)]
        if 2 in st:
            prev, cur = st[0], st[1]
            mult = {}
            for v in out_adj[cur]:
                if v == prev:
                    mult[v] = int(p_param * G.N2V_SCALE)
                elif (prev, v) in eset:
                    mult[v] = G.N2V_SCALE
                else:
                    mult[v] = int(q_param * G.N2V_SCALE)
            expect = min(
                out_adj[cur],
                key=lambda v: (
                    (spark_xxhash64_str(f"{prev}|{cur}|0|1|{v}")
                     % G.N2V_HMOD) * mult[v], v))
            assert st[2] == expect


class TestLinkPredictionEval:
    def test_lp_eval_invariants(self, spark):
        from ebel_spark import graph as G
        # dense-ish random-free graph: cliques give AA plenty of signal
        edges = [(f"n{i}", f"n{j}") for i in range(12) for j in range(12)
                 if i < j and (i + j) % 3 != 0]
        e = spark.createDataFrame(edges, ["u", "v"])
        got = G.link_prediction_eval(e, k=5, min_common=1).collect()
        und = {(min(a, b), max(a, b)) for a, b in edges}
        # every output row is a held-out undirected edge
        assert {(r.a, r.b) for r in got} <= und
        assert 0 < len(got) < len(und)  # a proper holdout slice
        ranks = [r.rank for r in got if r.rank is not None]
        assert len(ranks) == len(set(ranks))  # global ranks unique
        for r in got:
            if r.hit:
                assert r.rank is not None and r.rank <= 5
            if r.rank is None:
                assert not r.hit and r.aa is None
        # deterministic
        again = G.link_prediction_eval(e, k=5, min_common=1).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))
