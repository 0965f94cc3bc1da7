"""Triple precision/recall vs reference-produced output (BASELINE.json).

The only reference-*produced* artifact shipped with the reference test suite
is the golden JSON IR (basic_import_test.bel.json, written by the reference
compiler).  We fold THAT file through the same downstream semantics
(fold_statements + canonical strings) and require our end-to-end triples
(parse of the .bel source) to match exactly: P = R = 1.0 >= 0.95.

The remaining fixtures have no reference-emitted triples (lark is not
installable here), so grammar-level agreement is covered by the exact IR
and Return-False-line oracles in test_belc_parser.py.
"""

import json
import os

import pytest

from ebel_spark.belc.canon import bel_string, fold_statements
from ebel_spark.belc.scriptproc import process_file

REF = "/root/reference/tests/data/import_tests"


def triples_from_ir(statements_and_sets) -> set:
    out = set()
    for st in fold_statements(statements_and_sets):
        if st["object"] is None or st["relation"] is None:
            continue
        out.add((
            bel_string(st["subject"]),
            st["relation"],
            bel_string(st["object"]),
            st["citation_type"],
            st["citation_ref"],
            st["evidence"],
            json.dumps(st["annotation"], sort_keys=True),
        ))
    return out


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures absent")
class TestTriplePR:
    def test_pr_vs_reference_golden_json(self):
        with open(os.path.join(REF, "basic_import_test.bel.json")) as fd:
            golden = json.load(fd)
        reference_triples = triples_from_ir(golden[2]["statements_and_sets"])
        assert len(reference_triples) == 3

        with open(os.path.join(REF, "basic_import_test.bel")) as fd:
            out = process_file(fd.read())
        ours = {
            (s["subject_bel"], s["relation"], s["object_bel"],
             s["citation_type"], s["citation_ref"], s["evidence"],
             json.dumps(s["annotation"], sort_keys=True))
            for s in out["statements"] if s["object_bel"]
        }

        tp = len(ours & reference_triples)
        precision = tp / len(ours)
        recall = tp / len(reference_triples)
        assert precision == 1.0 and recall == 1.0  # >= 0.95 required
