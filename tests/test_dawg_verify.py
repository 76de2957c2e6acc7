"""The DAWG verifier's N-Triples reader (scripts/dawg_verify.py), which
tests/test_dawg_manifest.py and testing/w3c.py compare graphs with,
reads blank-node labels by rdfio's label rule: a label never ends in
the statement's dot."""

from scripts.dawg_verify import isomorphic, nt_triples


def test_bnode_label_stops_before_final_dot():
    assert nt_triples("<urn:s> <urn:p> _:o.") == [("<urn:s>", "<urn:p>", "_:o")]
    assert nt_triples("_:s <urn:p> _:a.b .") == [("_:s", "<urn:p>", "_:a.b")]
    assert nt_triples(["_:x <urn:p> _:y ."]) == [("_:x", "<urn:p>", "_:y")]


def test_dot_terminated_graph_is_isomorphic_to_spaced_one():
    got = nt_triples("_:a <urn:p> _:b.\n_:b <urn:p> \"v\".\n")
    want = nt_triples("_:x <urn:p> _:y .\n_:y <urn:p> \"v\" .\n")
    assert isomorphic(got, want)
