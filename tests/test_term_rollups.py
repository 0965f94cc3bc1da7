"""The compiler's per-term has__* rollups (no Spark needed): involved_genes,
involved_other and inferred_species on every node row of process_file
(belc.canon.term_rollups; reference biodbs/bel.py:419-454, 555-598)."""

from ebel_spark.belc.scriptproc import process_file

HDR = (
    'SET DOCUMENT Name = "t"\n'
    'DEFINE NAMESPACE HGNC AS URL "http://x/h.belns"\n'
    'DEFINE NAMESPACE MGI AS URL "http://x/m.belns"\n'
    'DEFINE NAMESPACE CHEBI AS URL "http://x/c.belns"\n'
    'SET Citation = {"PubMed", "T", "1"}\n'
    'SET Evidence = "e"\n'
)


def _nodes(statements: str) -> dict:
    r = process_file(HDR + statements)
    assert r["ok"], r["syntax_errors"]
    return {n["bel"]: n for n in r["nodes"]}


def test_involved_genes_and_other():
    nodes = _nodes('complex(p(HGNC:F1), p(HGNC:F2), a(CHEBI:atp)) '
                   'increases p(HGNC:T9, pmod(Ph))\n')
    cplx = nodes['complex(a(CHEBI:"atp"),p(HGNC:"F1"),p(HGNC:"F2"))']
    assert cplx["involved_genes"] == ["F1", "F2"]
    assert cplx["involved_other"] == ["atp"]
    # the node itself is part of its own rollup
    assert nodes['p(HGNC:"F1")']["involved_genes"] == ["F1"]
    assert nodes['p(HGNC:"F1")']["involved_other"] == []
    assert nodes['a(CHEBI:"atp")']["involved_genes"] == []
    assert nodes['a(CHEBI:"atp")']["involved_other"] == ["atp"]
    # modifiers are not nodes, so they add nothing
    assert nodes['p(HGNC:"T9",pmod(Ph))']["involved_genes"] == ["T9"]


def test_inferred_species():
    nodes = _nodes(
        'g(HGNC:AKT1) orthologous g(MGI:Akt1)\n'
        'complex(p(HGNC:F1), p(HGNC:F2)) increases p(HGNC:T9)\n'
        'complex(p(MGI:Akt1), p(MGI:Trp53)) decreases p(MGI:Mapt)\n'
        'complex(p(HGNC:F1), p(MGI:Trp53)) increases a(CHEBI:atp)\n'
    )
    species = {b: n["inferred_species"] for b, n in nodes.items()}
    assert species['g(HGNC:"AKT1")'] == 9606
    assert species['g(MGI:"Akt1")'] == 10090
    assert species['complex(p(HGNC:"F1"),p(HGNC:"F2"))'] == 9606
    assert species['complex(p(MGI:"Akt1"),p(MGI:"Trp53"))'] == 10090
    # two namespaces below the term: no unique species
    assert species['complex(p(HGNC:"F1"),p(MGI:"Trp53"))'] is None
    # no gene-like node below the term at all
    assert species['a(CHEBI:"atp")'] is None


def test_deep_term_is_not_truncated():
    """A term nested 11 deep keeps every gene: the Spark-side closure
    this replaced stopped at depth 8 and silently lost DEEP, L0 and L1."""
    term = "complex(p(HGNC:DEEP), p(HGNC:L0))"
    for i in range(1, 10):
        term = f"complex({term}, p(HGNC:L{i}))"
    nodes = _nodes(term + " increases p(HGNC:X)\n")
    root = max((n for n in nodes.values() if n["node_class"] == "complex"),
               key=lambda n: len(n["bel"]))
    assert root["involved_genes"] == sorted(
        ["DEEP"] + [f"L{i}" for i in range(10)])
    assert root["inferred_species"] == 9606


def test_rollups_are_per_term():
    """The same term gets the same rollups in every file, whatever else the
    file holds: materialize_nodes keeps any one occurrence's values."""
    a = _nodes('complex(p(HGNC:F1), a(CHEBI:atp)) increases p(HGNC:T9)\n')
    b = _nodes('p(MGI:Mapt) decreases complex(p(HGNC:F1), a(CHEBI:atp))\n'
               'complex(p(HGNC:F1), a(CHEBI:atp)) association '
               'complex(p(HGNC:F1), p(HGNC:F2))\n')
    cols = ("involved_genes", "involved_other", "inferred_species")
    for bel in a.keys() & b.keys():
        assert [a[bel][c] for c in cols] == [b[bel][c] for c in cols]
    assert len(a.keys() & b.keys()) == 3
