"""Standalone DAWG-case verifier: evaluate manifest-style cases against the
engine and print a pass/fail report with diffs.

Usage: python scripts/dawg_verify.py <cases.json> [name-substring]

Shares the comparison semantics of tests/test_dawg_manifest.py, plus the
``construct_isomorphic`` mode (bnode-bijection graph equality) used for
CONSTRUCT templates that mint fresh blank nodes.
"""

from __future__ import annotations

import json
import os
import re
import sys
from itertools import permutations

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TERM_RE = re.compile(
    r'<[^>]*>|_:[^\s]*[^\s.]|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?'
)


def nt_triples(text_or_lines) -> list[tuple]:
    lines = (
        text_or_lines.splitlines()
        if isinstance(text_or_lines, str)
        else text_or_lines
    )
    out = []
    for ln in lines:
        ln = ln.strip()
        if not ln or ln.startswith("#"):
            continue
        terms = _TERM_RE.findall(ln)
        if len(terms) != 3:
            raise ValueError(f"bad NT line: {ln!r} -> {terms}")
        out.append(tuple(terms))
    return out


def isomorphic(got: list[tuple], want: list[tuple]) -> bool:
    """Graph equality modulo a bijection of blank-node labels (small graphs:
    brute-force over label permutations, fine for <= 7 bnodes)."""
    if len(got) != len(want):
        return False
    gb = sorted({t for tr in got for t in tr if t.startswith("_:")})
    wb = sorted({t for tr in want for t in tr if t.startswith("_:")})
    if len(gb) != len(wb):
        return False
    want_set = set(want)
    if len(want_set) != len(want):
        raise ValueError("duplicate triples in expected graph")
    for perm in permutations(wb):
        m = dict(zip(gb, perm))
        if {tuple(m.get(t, t) for t in tr) for tr in got} == want_set:
            return True
    return False


def binding_key(b: dict) -> frozenset:
    return frozenset(
        (var, term["type"], term["value"], term.get("xml:lang"),
         term.get("datatype"))
        for var, term in b.items()
    )


def run_cases(cases, name_filter=None):
    from pyspark.sql import SparkSession

    from fourstore_spark.sources.rdfio import quads_from_nt_text
    from fourstore_spark.sparql.engine import SparqlEngine

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("dawg-verify")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    n_pass = n_fail = 0
    for case in cases:
        if name_filter and name_filter not in case["name"]:
            continue
        try:
            if "update" in case:
                from fourstore_spark.sources.rdfio import quads_to_nq_lines
                from fourstore_spark.sparql.update import UpdateEngine

                ue = UpdateEngine(
                    spark,
                    quads_from_nt_text(spark, case["data"])
                    if case["data"]
                    else None,
                )
                ue.update(case["update"])
                got_q = {
                    r["value"] for r in quads_to_nq_lines(ue.quads).collect()
                }
                ok = got_q == set(case["expect_nquads"])
                detail = f"got={sorted(got_q)!r}"
                if ok:
                    n_pass += 1
                    print(f"PASS {case['name']}")
                else:
                    n_fail += 1
                    print(f"FAIL {case['name']}\n     {detail[:1600]}")
                continue
            eng = SparqlEngine(spark, quads_from_nt_text(spark, case["data"]))
            res = eng.query(case["query"])
            if "ask" in case:
                got = res.ask()
                ok = got is case["ask"]
                detail = f"ask={got}"
            elif "construct_isomorphic" in case:
                got_nt = [
                    ln for ln in res.serialize("ntriples").splitlines()
                    if ln.strip()
                ]
                got_tr = nt_triples(got_nt)
                want_tr = nt_triples(case["construct_isomorphic"])
                ok = isomorphic(got_tr, want_tr)
                detail = f"got={sorted(got_tr)!r}"
            elif "construct_ntriples" in case:
                got_set = {
                    ln.strip()
                    for ln in res.serialize("ntriples").splitlines()
                    if ln.strip()
                }
                ok = got_set == set(case["construct_ntriples"])
                detail = f"got={sorted(got_set)!r}"
            else:
                got = json.loads(res.serialize("json"))["results"]["bindings"]
                if case.get("ordered"):
                    ok = [binding_key(b) for b in got] == [
                        binding_key(b) for b in case["results"]
                    ]
                else:
                    gk = sorted(map(binding_key, got), key=repr)
                    ok = gk == sorted(
                        map(binding_key, case["results"]), key=repr
                    )
                    if not ok and "alt_results" in case:
                        ok = gk == sorted(
                            map(binding_key, case["alt_results"]), key=repr
                        )
                detail = f"got={json.dumps(got, sort_keys=True)}"
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            ok, detail = False, f"EXC {type(e).__name__}: {e}"
        if ok:
            n_pass += 1
            print(f"PASS {case['name']}")
        else:
            n_fail += 1
            print(f"FAIL {case['name']}\n     {detail[:1600]}")
    print(f"\n{n_pass} pass / {n_fail} fail")
    return n_fail


if __name__ == "__main__":
    with open(sys.argv[1], encoding="utf-8") as fh:
        doc = json.load(fh)
    cases = doc["cases"] if isinstance(doc, dict) else doc
    sys.exit(1 if run_cases(
        cases, sys.argv[2] if len(sys.argv) > 2 else None) else 0)
