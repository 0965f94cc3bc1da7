"""Spark-layer tests: parse UDF, validation joins, graph materialization.

Graph-count oracle: /root/reference/tests/test_manager/true_values.py
(node/edge counts per class after importing basic_import_test with the
protein2gene extension, polymorphic counts over the class hierarchy).
"""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ebel_spark import graph as G
from ebel_spark import link as L
from ebel_spark import parse as P
from ebel_spark import validate as V
from ebel_spark.namespaces import build_dimensions, dims_to_spark
from ebel_spark.schemas import SOURCE_SCHEMA

from conftest import load_true_values

REF_DATA = "/root/reference/tests/data"
needs_ref = pytest.mark.skipif(not os.path.isdir(REF_DATA),
                               reason="reference fixtures absent")


def _source_df(spark, contents: list[str]):
    rows = [
        ("repo0", f"docs/f{i}.bel", "c" * 40, "bel", c)
        for i, c in enumerate(contents)
    ]
    return spark.createDataFrame(rows, SOURCE_SCHEMA)


@pytest.fixture(scope="session")
def basic_parsed(spark):
    with open(os.path.join(REF_DATA, "import_tests/basic_import_test.bel")) as fd:
        content = fd.read()
    src = _source_df(spark, [content])
    parsed = P.parse_sources(src)
    parsed.cache()
    return parsed


@needs_ref
class TestParseStage:
    def test_statement_table(self, spark, basic_parsed):
        st = P.statements_table(basic_parsed).collect()
        assert len(st) == 3
        triples = {(r.subject_bel, r.relation, r.object_bel) for r in st}
        assert triples == {
            ('p(HGNC:"CD33")', "increases", 'p(HGNC:"IL2",pmod(Ph))'),
            ('r(HGNC:"CD33")', "decreases", 'g(HGNC:"TNF")'),
            ('a(CHEBI:"ATP")', "directly_increases", 'act(p(HGNC:"UCP1"))'),
        }
        assert all(r.pmid == 28714976 for r in st)
        assert all(r.evidence == "This is a test." for r in st)

    def test_file_sha_invariant(self, spark, basic_parsed):
        import hashlib
        with open(os.path.join(REF_DATA,
                               "import_tests/basic_import_test.bel")) as fd:
            content = fd.read()
        expected = hashlib.sha256(content.encode()).hexdigest()
        assert basic_parsed.select("file_sha").first()[0] == expected

    def test_documents_table(self, spark, basic_parsed):
        doc = P.documents_table(basic_parsed).first()
        assert doc.name == "test.bel"
        assert doc.version == "Test Version"
        assert doc.authors == ["Import Tester"]
        assert doc.n_statements == 3 and doc.ok


class TestGraphCounts:
    """The reference import test (tests/test_manager/test_bel.py:49-62):
    node and edge counts per class must match true_values exactly."""

    @needs_ref
    def test_counts_match_reference_true_values(self, spark, basic_parsed):
        tv = load_true_values()
        nodes_raw = P.nodes_table(basic_parsed)
        st = P.statements_table(basic_parsed)
        child = P.child_edges_table(basic_parsed)

        nodes = G.materialize_nodes(nodes_raw)
        edges_stmt = G.materialize_edges(st)
        struct = G.materialize_structural_edges(child)
        nodes, p2g_edges = G.protein2gene(nodes, edges_stmt)

        node_counts = G.count_nodes_by_class(nodes)
        assert node_counts == tv.NODES_EXTENSION

        from ebel_spark.pipeline import _align_edges
        all_edges = (
            _align_edges(edges_stmt)
            .unionByName(_align_edges(p2g_edges))
            .unionByName(_align_edges(
                struct.select("edge_id", "relation", "relation_category",
                              "subject_id", "object_id", "document_ids",
                              "n_statements")))
        )
        edge_counts = G.count_edges_by_class(all_edges)
        assert edge_counts == tv.EDGES_EXTENSION

    def test_jvm_id_twins_match_python(self, spark):
        """statements_table recomputes subject_id/object_id/edge_key with
        the JVM sha256 twins; they must equal the compiler's own ids
        (process_file with emit_ids=True) byte for byte — incl. the sorted
        annotation encoding."""
        from ebel_spark.belc.scriptproc import process_file
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'DEFINE ANNOTATION Cells AS LIST {"a1", "b2", "c3"}\n'
            'DEFINE ANNOTATION Zone AS LIST {"z1", "z2"}\n'
            'SET Citation = {"PubMed", "T", "11111"}\n'
            'SET Evidence = "ev text"\n'
            'SET Zone = {"z2", "z1"}\n'
            'SET Cells = "b2"\n'
            'p(HGNC:A) increases p(HGNC:B)\n'
            'UNSET Cells\n'
            'p(HGNC:C) decreases p(HGNC:D)\n'
            'p(HGNC:E)\n'
        )
        got = {
            (r.stmt_idx): (r.subject_id, r.object_id, r.edge_key)
            for r in P.statements_table(
                P.parse_sources(_source_df(spark, [bel]))).collect()
        }
        want = {
            s["stmt_idx"]: (s["subject_id"], s["object_id"], s["edge_key"])
            for s in process_file(bel, emit_ids=True)["statements"]
        }
        assert got == want
        assert any(v[2] is not None for v in want.values())
        assert any(v[2] is None for v in want.values())  # subject-only row

    def test_edge_dedup_merges_documents(self, spark):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'SET Citation = {"PubMed", "T", "11111"}\n'
            'SET Evidence = "same"\n'
            'p(HGNC:A) increases p(HGNC:B)\n'
        )
        src = _source_df(spark, [bel, bel.replace('"t"', '"t2"')])
        parsed = P.parse_sources(src)
        edges = G.materialize_edges(P.statements_table(parsed)).collect()
        assert len(edges) == 1
        assert len(edges[0].document_ids) == 2
        assert edges[0].n_statements == 2

    def test_pure_and_involved(self, spark):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'DEFINE NAMESPACE CHEBI AS URL "http://x/c.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            'complex(p(HGNC:F1), p(HGNC:F2), a(CHEBI:atp)) increases '
            'p(HGNC:T9, pmod(Ph))\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        nodes = G.materialize_nodes(P.nodes_table(parsed))

        rows = {r.bel: r for r in nodes.collect()}
        assert rows['p(HGNC:"F1")'].pure
        # reference quirk (true_values oracle): modified terms are still
        # "pure" because modifier out-edges are never materialized
        assert rows['p(HGNC:"T9",pmod(Ph))'].pure
        assert rows['p(HGNC:"T9",pmod(Ph))'].has_modifiers
        assert not rows['p(HGNC:"F1")'].has_modifiers

        # the per-term rollups ride through the node dedup
        cplx = rows['complex(a(CHEBI:"atp"),p(HGNC:"F1"),p(HGNC:"F2"))']
        assert cplx.involved_genes == ["F1", "F2"]
        assert cplx.involved_other == ["atp"]
        prot = rows['p(HGNC:"F1")']
        assert prot.involved_genes == ["F1"]

    def test_species(self, spark):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'DEFINE NAMESPACE MGI AS URL "http://x/m.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            'g(HGNC:AKT1) orthologous g(MGI:Akt1)\n'
            'complex(p(HGNC:F1), p(HGNC:F2)) increases p(HGNC:T9)\n'
            'complex(p(MGI:Akt1), p(MGI:Trp53)) decreases p(MGI:Mapt)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        nodes = G.materialize_nodes(P.nodes_table(parsed))
        edges = G.materialize_edges(P.statements_table(parsed))
        sp = {r.node_id: r.species for r in
              G.tag_species(nodes, edges).collect()}
        byb = {r.bel: r.node_id for r in nodes.collect()}
        assert sp[byb['g(HGNC:"AKT1")']] == 9606
        assert sp[byb['g(MGI:"Akt1")']] == 10090
        assert sp[byb['complex(p(HGNC:"F1"),p(HGNC:"F2"))']] == 9606
        # inferred unique-descendant rule, non-human branch: were the merge
        # a plain max() over taxids a human tag could never be overridden,
        # but the reference precedence is direct-rule-first (coalesce).
        # NB genuine direct-vs-inferred disagreement is structurally
        # impossible (the compiler's rollup includes the node itself, so
        # its own namespace is in the set), so direct-first is asserted by
        # shape:
        # the mouse complex gets the inferred mouse taxid.
        assert sp[byb['complex(p(MGI:"Akt1"),p(MGI:"Trp53"))']] == 10090


class TestValidation:
    @pytest.fixture(scope="class")
    def dims(self, spark):
        return dims_to_spark(spark, build_dimensions(n_hgnc=200, n_chebi=50,
                                                     n_go=50))

    @needs_ref
    def test_terminology_fixture_error_lines(self, spark, dims):
        with open(os.path.join(REF_DATA, "terminology_bel_tests.bel")) as fd:
            content = fd.read()
        src = _source_df(spark, [content])
        parsed = P.parse_sources(src)
        errors = V.semantic_errors(
            P.entries_table(parsed), P.definitions_table(parsed),
            dims["ns_dict"], dims["anno_dict"],
        ).collect()
        got = {(e.error_class, e.line_number) for e in errors}
        assert got == {
            ("WithoutDefinedNamespace", 44),
            ("NotInAnnotationList", 49),
        }

    def test_url_miss_hints(self, spark, dims):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'DEFINE NAMESPACE CHEBI AS URL "http://x/c.belns"\n'
            'p(HGNC:ATP) -> p(HGNC:NOSUCHGENE99)\n'   # ATP exists in CHEBI
            'p(HGNC:GENE0001X) -> p(HGNC:CD33)\n'     # prefix-similar
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        errors = V.semantic_errors(
            P.entries_table(parsed), P.definitions_table(parsed),
            dims["ns_dict"], dims["anno_dict"],
        ).collect()
        by_entry = {e.entry: e for e in errors}
        assert set(by_entry) == {"ATP", "NOSUCHGENE99", "GENE0001X"}
        assert by_entry["ATP"].hint.startswith("Did you mean: ")
        assert 'CHEBI:"ATP"' in by_entry["ATP"].hint
        assert by_entry["GENE0001X"].hint.startswith("Similar: ")
        assert by_entry["NOSUCHGENE99"].hint.startswith("[OLS suggests]")

    def test_pattern_and_list(self, spark, dims):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE dbSNP AS PATTERN "rs[0-9]+"\n'
            'DEFINE NAMESPACE FIXME AS LIST {"GW0742", "GM6001"}\n'
            'g(dbSNP:rs123) -> g(dbSNP:xx999)\n'
            'a(FIXME:GW0742) -> a(FIXME:other)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        errors = V.semantic_errors(
            P.entries_table(parsed), P.definitions_table(parsed),
            dims["ns_dict"], dims["anno_dict"],
        ).collect()
        got = {(e.error_class, e.entry) for e in errors}
        assert got == {
            ("NotInNamespacePattern", "xx999"),
            ("NotInNamespaceList", "other"),
        }

    def test_invalid_pattern_regex_contained_per_file(self, spark, dims):
        # one malformed PATTERN regex must yield error rows, not fail the
        # executor task and kill the corpus job (parse.py doctrine)
        bad = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE BROKEN AS PATTERN "["\n'
            'g(BROKEN:rs123) -> g(BROKEN:rs456)\n'
        )
        ok = (
            'SET DOCUMENT Name = "t2"\n'
            'DEFINE NAMESPACE dbSNP AS PATTERN "rs[0-9]+"\n'
            'g(dbSNP:rs123) -> g(dbSNP:xx999)\n'
        )
        src = _source_df(spark, [bad, ok])
        parsed = P.parse_sources(src)
        errors = V.semantic_errors(
            P.entries_table(parsed), P.definitions_table(parsed),
            dims["ns_dict"], dims["anno_dict"],
        ).collect()
        got = {(e.error_class, e.entry) for e in errors}
        # the valid pattern in the OTHER file still validates normally
        assert ("NotInNamespacePattern", "xx999") in got
        # every entry under the broken pattern is reported, with a hint
        broken = [e for e in errors if e.entry in ("rs123", "rs456")
                  and e.error_class == "NotInNamespacePattern"]
        assert {e.entry for e in broken} == {"rs123", "rs456"}
        assert all("invalid PATTERN regex" in (e.hint or "")
                   for e in broken)

    @pytest.mark.parametrize("with_hints", [True, False])
    def test_error_multiplicity(self, spark, dims, with_hints):
        # one error row per (entry, matching definition): K is both a
        # LIST and a URL namespace (its URL matches no dictionary), D is
        # a LIST defined twice, and O is defined only in the other file,
        # so its use in the first file has exactly one undefined row
        first = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE K AS LIST {"a", "b"}\n'
            'DEFINE NAMESPACE K AS URL "http://x/k.belns"\n'
            'DEFINE NAMESPACE D AS LIST {"x"}\n'
            'DEFINE NAMESPACE D AS LIST {"y"}\n'
            'p(K:a) -> p(K:zz)\n'
            'p(D:x) -> p(D:q)\n'
            'p(O:foo) -> p(K:b)\n'
        )
        second = (
            'SET DOCUMENT Name = "t2"\n'
            'DEFINE NAMESPACE O AS LIST {"foo"}\n'
            'p(O:foo) -> p(O:bar)\n'
        )
        src = _source_df(spark, [first, second])
        parsed = P.parse_sources(src)
        errors = V.semantic_errors(
            P.entries_table(parsed), P.definitions_table(parsed),
            dims["ns_dict"], dims["anno_dict"], with_hints=with_hints,
        ).collect()
        got = Counter((e.error_class, e.keyword, e.entry, e.line_number)
                      for e in errors)
        assert got == Counter({
            ("NotInNamespaceUrl", "K", "a", 6): 1,
            ("NotInNamespaceList", "K", "zz", 6): 1,
            ("NotInNamespaceUrl", "K", "zz", 6): 1,
            ("NotInNamespaceList", "D", "x", 7): 1,
            ("NotInNamespaceList", "D", "q", 7): 2,
            ("WithoutDefinedNamespace", "O", "foo", 8): 1,
            ("NotInNamespaceUrl", "K", "b", 8): 1,
            ("NotInNamespaceList", "O", "bar", 3): 1,
        })
        url = {e.url for e in errors if e.error_class == "NotInNamespaceUrl"}
        assert url == {"http://x/k.belns"}
        assert all(e.url is None for e in errors
                   if e.error_class != "NotInNamespaceUrl")

    def test_ols_hint_urlencodes_reserved_chars(self, spark, dims):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE CHEBI AS URL "http://x/c.belns"\n'
            'a(CHEBI:"no+such&chem (x)") -> a(CHEBI:ATP)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        errors = V.semantic_errors(
            P.entries_table(parsed), P.definitions_table(parsed),
            dims["ns_dict"], dims["anno_dict"],
        ).collect()
        from urllib.parse import quote_plus, urlencode
        by_entry = {e.entry: e for e in errors}
        miss = by_entry["no+such&chem (x)"]
        want = urlencode({"q": "no+such&chem (x)"}, quote_via=quote_plus)
        # models.py:233-235 parity: quote_plus encoding, byte-for-byte
        assert miss.hint == (
            f"[OLS suggests](https://www.ebi.ac.uk/ols/search?{want})")

    def test_exact_alternative_hint_is_case_insensitive(self, spark, dims):
        # reference models.py:204-212 uses SQL LIKE (case-insensitive
        # under MySQL/SQLite collation): 'atp' must hint CHEBI:"ATP"
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'p(HGNC:atp) -> p(HGNC:CD33)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        errors = V.semantic_errors(
            P.entries_table(parsed), P.definitions_table(parsed),
            dims["ns_dict"], dims["anno_dict"],
        ).collect()
        by_entry = {e.entry: e for e in errors}
        assert by_entry["atp"].hint.startswith("Did you mean: ")
        assert 'CHEBI:"ATP"' in by_entry["atp"].hint

    def test_ambiguity_warning(self, spark):
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE A AS URL "http://x/a.belns"\n'
            'DEFINE NAMESPACE B AS URL "http://x/b.belns"\n'
            'p(A:TNF) -> p(B:TNF)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        warns = V.ambiguity_warnings(P.entries_table(parsed)).collect()
        assert len(warns) == 2
        assert all(w.error_class == "AlsoUsedInOtherNamespace" for w in warns)


class TestLinking:
    def test_hgnc_uniprot_chebi(self, spark):
        dims = build_dimensions(n_hgnc=200, n_chebi=50, n_go=50)
        # give CD33 a previous symbol to exercise correction
        dims.hgnc.loc[dims.hgnc.symbol == "TNF", "prev_symbols"] = \
            dims.hgnc.loc[dims.hgnc.symbol == "TNF", "prev_symbols"].apply(
                lambda _: ["TNFA"])
        dim_dfs = dims_to_spark(spark, dims)
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'DEFINE NAMESPACE CHEBI AS URL "http://x/c.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            'p(HGNC:CD33) increases p(HGNC:TNFA)\n'   # TNFA is outdated
            'a(CHEBI:ATP) increases g(HGNC:CD33)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        nodes = G.materialize_nodes(P.nodes_table(parsed))
        linked = L.link_all(nodes, dim_dfs["hgnc"], dim_dfs["uniprot"],
                            dim_dfs["chebi"])
        rows = {(r.node_class, r.name): r for r in linked.collect()}

        cd33 = rows[("protein", "CD33")]
        assert cd33.hgnc_symbol == "CD33"
        assert cd33.label == "CD33 protein"
        assert cd33.uniprot and cd33.uniprot_taxid == 9606

        # prev-symbol correction rewrote name + bel, kept node_id
        tnf = rows[("protein", "TNF")]
        assert tnf.name_corrected == "TNFA"
        assert tnf.bel == 'p(HGNC:"TNF")'
        orig = {r.bel: r for r in nodes.collect()}['p(HGNC:"TNFA")']
        assert tnf.node_id == orig.node_id

        gene = rows[("gene", "CD33")]
        assert gene.location is not None
        # chromosome-location parser (reference hgnc.py:239-253): the
        # synthetic dims use '19q13.43'-style locations
        ls = gene.location_struct
        assert ls is not None and ls.chromosome is not None
        if ls.unknown_schema is None and ls.arm is not None:
            assert ls.arm in ("p", "q") and ls.region is not None

        atp = rows[("abundance", "ATP")]
        assert atp.chebi is not None

    def test_reactome_enrichment(self, spark):
        # link_reactome: pure uniprot-linked proteins pick up pathway
        # memberships from the deterministic synthetic dim; gene/
        # abundance/unlinked nodes do not (reactome.py:77-99 semantics)
        from ebel_spark.namespaces import build_reactome
        dims = build_dimensions(n_hgnc=200, n_chebi=50, n_go=50)
        dim_dfs = dims_to_spark(spark, dims)
        reactome_pdf = build_reactome(dims.uniprot)
        reactome = spark.createDataFrame(reactome_pdf)
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'DEFINE NAMESPACE CHEBI AS URL "http://x/c.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            'p(HGNC:CD33) increases p(HGNC:TNF)\n'
            'a(CHEBI:ATP) increases g(HGNC:CD33)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        nodes = G.materialize_nodes(P.nodes_table(parsed))
        linked = L.link_all(nodes, dim_dfs["hgnc"], dim_dfs["uniprot"],
                            dim_dfs["chebi"])
        mem = L.link_reactome(linked, reactome).collect()
        assert mem, "expected pathway memberships"
        by_bel = {}
        for r in mem:
            by_bel.setdefault(r.bel, []).append(r)
        # only the two protein nodes are enriched
        assert set(by_bel) == {'p(HGNC:"CD33")', 'p(HGNC:"TNF")'}
        # membership matches the dim's deterministic rule exactly
        up = {r.bel: r.uniprot for rs in by_bel.values() for r in rs}
        for bel_str, rows in by_bel.items():
            want = sorted(
                reactome_pdf[reactome_pdf.uniprot_accession
                             == up[bel_str]]["identifier"])
            assert sorted(r.pathway_id for r in rows) == want
        # array-valued node property: sorted, one row per node
        prop = {r.bel: r.reactome_pathways
                for r in L.reactome_node_property(
                    L.link_reactome(linked, reactome)).collect()}
        assert set(prop) == set(by_bel)
        for bel_str, names in prop.items():
            assert names == sorted(set(names))

    def test_intact_ppi_edges(self, spark):
        # link_intact: only interactions with BOTH endpoints resolved to
        # pure protein nodes become edges (intact.py:219 `if from_rid
        # and to_rid`), metadata carried through
        from ebel_spark.namespaces import build_intact
        dims = build_dimensions(n_hgnc=200, n_chebi=50, n_go=50)
        dim_dfs = dims_to_spark(spark, dims)
        up = {r.gene_symbol: r.accession
              for r in dim_dfs["uniprot"].collect() if r.taxid == 9606}
        intact_pdf = build_intact(dims.uniprot)
        intact = spark.createDataFrame(intact_pdf)
        # CD33 -> TREM2 IS an interaction in the deterministic dim
        # (EBI-1000013); CD33 -> TNF is not — the both-endpoints filter
        # must keep exactly the former
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            'p(HGNC:CD33) increases p(HGNC:TREM2)\n'
            'p(HGNC:CD33) increases p(HGNC:TNF)\n'
        )
        src = _source_df(spark, [bel])
        parsed = P.parse_sources(src)
        nodes = G.materialize_nodes(P.nodes_table(parsed))
        linked = L.link_all(nodes, dim_dfs["hgnc"], dim_dfs["uniprot"],
                            dim_dfs["chebi"])
        got = L.link_intact(linked, intact).collect()
        in_kg = {up["CD33"], up["TREM2"], up["TNF"]}
        want = intact_pdf[
            intact_pdf.int_a_uniprot_id.isin(in_kg)
            & intact_pdf.int_b_uniprot_id.isin(in_kg)]
        assert len(want) > 0, "fixture must exercise a real interaction"
        assert len(got) == len(want)
        sym_of = {v: k for k, v in up.items()}
        assert {(r.subject_bel, r.object_bel, r.interaction_id)
                for r in got} \
            == {(f'p(HGNC:"{sym_of[a]}")', f'p(HGNC:"{sym_of[b]}")', i)
                for a, b, i in zip(want.int_a_uniprot_id,
                                   want.int_b_uniprot_id,
                                   want.interaction_id)}

    def test_location_struct_bandless_matches_reference(self, spark):
        # reference-faithful quirk (hgnc.py:241): band-less locations
        # parse to chromosome only — arm/region require a .band suffix
        import ebel_spark.link as L2
        df = spark.createDataFrame(
            [("19q13",), ("Xq28",), ("19q13.43",), ("weird!",)], ["loc"])
        got = {r.loc: r.s for r in df.select(
            "loc", L2.location_struct_col(F.col("loc")).alias("s")
        ).collect()}
        assert got["19q13"].chromosome == "19"
        assert got["19q13"].arm is None and got["19q13"].region is None
        assert got["Xq28"].chromosome == "X" and got["Xq28"].arm is None
        assert got["19q13.43"] == ("19", "q", 13, 43, None)
        assert got["weird!"].unknown_schema == "weird!"

    def test_prev_symbol_regex_metachars_and_determinism(self, spark):
        # 1) a prev symbol with a regex metachar ('.' as in legacy
        #    NKX2.5-style names) must be patched literally, and must not
        #    rewrite a node whose name differs only at that position;
        # 2) two current symbols sharing a prev symbol must correct to
        #    the deterministic min symbol on every run
        hgnc = spark.createDataFrame(
            [("NEWA", "a label", "1p36.1", ["OLD.X"]),
             ("NEWB", "b label", "2q14.3", ["SHARED"]),
             ("NEWC", "c label", "3p21.2", ["SHARED"])],
            ["symbol", "label", "location", "prev_symbols"])
        bel = (
            'SET DOCUMENT Name = "t"\n'
            'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
            'SET Citation = {"PubMed", "T", "1"}\n'
            'p(HGNC:"OLD.X") increases p(HGNC:"OLDYX")\n'
            'p(HGNC:"SHARED") increases p(HGNC:"OLD.X")\n'
        )
        src = _source_df(spark, [bel])
        nodes = G.materialize_nodes(
            P.nodes_table(P.parse_sources(src)))
        linked = {r.name: r for r in L.link_hgnc(nodes, hgnc).collect()}
        assert linked["NEWA"].name_corrected == "OLD.X"
        assert linked["NEWA"].bel == 'p(HGNC:"NEWA")'
        # 'OLDYX' matches 'OLD.X' only if the dot is a regex wildcard
        assert "OLDYX" in linked and linked["OLDYX"].hgnc_symbol is None
        assert linked["OLDYX"].bel == 'p(HGNC:"OLDYX")'
        for _ in range(3):
            again = {r.name: r for r in
                     L.link_hgnc(nodes, hgnc).collect()}
            assert again["NEWB"].name_corrected == "SHARED"  # min symbol
            assert "NEWC" not in again


class TestPageRank:
    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np
        from ebel_spark.graph import pagerank

        edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")]
        # e is dangling (no out-edges), reachable from nothing
        nodes = sorted({x for p in edges for x in p} | {"e"})
        e = spark.createDataFrame(edges, ["u", "v"]).unionAll(
            spark.createDataFrame([("c", "e")], ["u", "v"]))
        edges = edges + [("c", "e")]

        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        M = np.zeros((n, n))
        outd = np.zeros(n)
        for u, v in edges:
            outd[idx[u]] += 1
        for u, v in edges:
            M[idx[v], idx[u]] = 1.0 / outd[idx[u]]
        d, r = 0.85, np.full(n, 1.0 / n)
        for _ in range(10):
            dangling = r[outd == 0].sum()
            r = (1 - d) / n + d * (M @ r + dangling / n)

        got = {row.bel: row.rank for row in pagerank(e, iters=10).collect()}
        for name in nodes:
            assert abs(got[name] - r[idx[name]]) < 1e-9, name
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_empty_edges_returns_empty(self, spark):
        from ebel_spark.graph import pagerank
        e = spark.createDataFrame([], "u string, v string")
        got = pagerank(e, iters=3)
        assert got.columns == ["bel", "rank"]
        assert got.count() == 0

    def test_personalized_matches_numpy_and_degenerates(self, spark):
        import numpy as np
        from ebel_spark.graph import pagerank, personalized_pagerank

        edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a"),
                 ("c", "e")]  # e dangling
        nodes = sorted({x for p in edges for x in p})
        e = spark.createDataFrame(edges, ["u", "v"])

        idx = {x: i for i, x in enumerate(nodes)}
        n = len(nodes)
        M = np.zeros((n, n))
        outd = np.zeros(n)
        for u, v in edges:
            outd[idx[u]] += 1
        for u, v in edges:
            M[idx[v], idx[u]] = 1.0 / outd[idx[u]]
        p = np.zeros(n)
        for s in ("a", "b"):      # seed set
            p[idx[s]] = 0.5
        d, r = 0.85, p.copy()
        for _ in range(10):
            dangling = r[outd == 0].sum()
            r = (1 - d) * p + d * (M @ r + dangling * p)

        seeds = spark.createDataFrame([("a",), ("b",), ("zzz",)], ["bel"])
        got = {row.bel: row.rank for row in
               personalized_pagerank(e, seeds, iters=10).collect()}
        for name in nodes:
            assert abs(got[name] - r[idx[name]]) < 1e-9, name
        # mass conserved; non-seed source d gets only the (1-d)*0 base
        assert abs(sum(got.values()) - 1.0) < 1e-9
        assert got["d"] == 0.0

        # seeds = all nodes degenerates to uniform PageRank
        allseeds = spark.createDataFrame([(x,) for x in nodes], ["bel"])
        ppr_all = {row.bel: row.rank for row in
                   personalized_pagerank(e, allseeds, iters=10).collect()}
        uni = {row.bel: row.rank for row in
               pagerank(e, iters=10).collect()}
        for name in nodes:
            assert abs(ppr_all[name] - uni[name]) < 1e-12, name

        # empty seed intersection -> all-zero ranks, not an error
        none = spark.createDataFrame([("nope",)], ["bel"])
        zero = {row.bel: row.rank for row in
                personalized_pagerank(e, none, iters=3).collect()}
        assert set(zero.values()) == {0.0}
