"""CLI drivers: info / compact / rid subcommands (4s-info, 4s-rid
parity: src/frontend/4s-info.c, src/utilities/4s-rid.c)."""

import json

from pyspark.sql import functions as F

from fourstore_spark.cli import main
from fourstore_spark.sources.rdfio import quads_from_nt_text
from fourstore_spark.store import append_quads, write_store


def _build(spark, tmp_path):
    nt = '<urn:a> <urn:p> "v1" .\n<urn:b> <urn:p> "v2" .'
    path = str(tmp_path / "store")
    write_store(quads_from_nt_text(spark, nt), path, partitions=2)
    return path


def test_cli_info(spark, tmp_path, capsys):
    path = _build(spark, tmp_path)
    assert main(["info", path]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["rows"] == 2
    assert out["predicates"] == 1
    assert out["property_table"] is True


def test_cli_info_missing_store(tmp_path, capsys):
    assert main(["info", str(tmp_path / "nope")]) == 1


def test_cli_compact(spark, tmp_path, capsys):
    path = _build(spark, tmp_path)
    for i in range(3):
        append_quads(
            quads_from_nt_text(spark, f'<urn:c{i}> <urn:p> "w{i}" .'), path
        )
    assert main(["compact", path]) == 0
    out = json.loads(capsys.readouterr().out)
    assert "urn:p" in out and out["urn:p"][1] < out["urn:p"][0]


def test_cli_rid_matches_engine_term_rid(spark, capsys):
    from fourstore_spark.model import KIND_LITERAL, KIND_URI, term_struct
    from fourstore_spark.sparql.translator import term_rid

    cases = [
        ("<urn:a>", KIND_URI, "urn:a", None, None),
        ('"hi"@en-GB', KIND_LITERAL, "hi", None, "en-gb"),
        (
            '"5"^^<http://www.w3.org/2001/XMLSchema#integer>',
            KIND_LITERAL,
            "5",
            "http://www.w3.org/2001/XMLSchema#integer",
            None,
        ),
    ]
    for nt, kind, lex, dt, lang in cases:
        assert main(["rid", nt]) == 0
        got = int(capsys.readouterr().out.strip())
        expect = spark.range(1).select(
            term_rid(
                term_struct(
                    F.lit(kind).cast("tinyint"),
                    F.lit(lex),
                    F.lit(dt),
                    F.lit(lang),
                    F.lit(None).cast("double"),
                )
            ).alias("r")
        ).head()["r"]
        assert got == expect, nt


def test_cli_rid_bad_term(capsys):
    assert main(["rid", "not a term"]) == 1


def test_cli_rid_resolve_roundtrip(spark, tmp_path, capsys):
    path = _build(spark, tmp_path)
    for nt in ["<urn:a>", '"v1"']:
        assert main(["rid", nt]) == 0
        rid = capsys.readouterr().out.strip()
        assert main(["resolve", path, rid]) == 0
        out = capsys.readouterr().out.strip()
        assert out == f"{rid}\t{nt}", nt


def test_cli_resolve_unknown_rid(spark, tmp_path, capsys):
    path = _build(spark, tmp_path)
    assert main(["resolve", path, "12345"]) == 1
    assert "#unknown#" in capsys.readouterr().out


def _read_dump(path):
    import os as _os
    if _os.path.isdir(path):
        return "".join(
            open(_os.path.join(path, f), encoding="utf-8").read()
            for f in sorted(_os.listdir(path))
            if f.startswith("part-")
        )
    return open(path, encoding="utf-8").read()


def test_cli_delete_model_and_restore(spark, tmp_path, capsys):
    from fourstore_spark.cli import main

    store = str(tmp_path / "dmstore")
    nt = tmp_path / "d.nq"
    nt.write_text(
        '<urn:a> <urn:p> "keep" .\n'
        '<urn:b> <urn:p> "g1" <urn:g1> .\n'
        '<urn:c> <urn:p> "g2" <urn:g2> .\n'
    )
    assert main(["restore", store, str(nt)]) == 0
    assert main(["delete-model", store, "urn:g1"]) == 0
    out = tmp_path / "out.nq"
    assert main(["dump", store, str(out)]) == 0
    dumped = _read_dump(str(out))
    assert "keep" in dumped and "g2" in dumped and "g1" not in dumped
    # --all clears everything
    assert main(["delete-model", store, "--all"]) == 0
    assert main(["dump", store, str(out)]) == 0
    assert _read_dump(str(out)).strip() == ""
    # the emptied store stays USABLE: update (which reopens it via
    # UpdateEngine.restore) must not crash on a zero-predicate-dir store
    assert main(["update", store, 'INSERT DATA { <urn:d> <urn:p> "back" }']) == 0
    assert main(["dump", store, str(out)]) == 0
    assert "back" in _read_dump(str(out))
    # missing args is an error
    assert main(["delete-model", store]) == 1


def test_cli_bind_pattern_scan(spark, tmp_path, capsys):
    from fourstore_spark.cli import main

    store = str(tmp_path / "bindstore")
    nt = tmp_path / "b.nq"
    nt.write_text(
        '<urn:a> <urn:p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<urn:a> <urn:q> "x" .\n'
        '<urn:b> <urn:p> "y" <urn:g1> .\n'
    )
    assert main(["restore", store, str(nt)]) == 0
    capsys.readouterr()
    assert main(["bind", store, "-s", "<urn:a>", "-p", "<urn:p>"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == [
        '<urn:a> <urn:p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .'
    ]
    # object-term filter with graph wildcard
    assert main(["bind", store, "-o", '"y"']) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ['<urn:b> <urn:p> "y" <urn:g1> .']


def test_cli_transaction_atomic(spark, tmp_path, capsys):
    from fourstore_spark.cli import main

    store = str(tmp_path / "txstore")
    nt = tmp_path / "t.nq"
    nt.write_text('<urn:a> <urn:p> "base" .\n')
    assert main(["restore", store, str(nt)]) == 0
    good = tmp_path / "good.ru"
    good.write_text('INSERT DATA { <urn:b> <urn:p> "added" }')
    bad = tmp_path / "bad.ru"
    bad.write_text("THIS IS NOT SPARQL")
    # failure in the second file rolls back the first file's insert
    assert main(["transaction", store, str(good), str(bad)]) == 1
    out = tmp_path / "out.nq"
    assert main(["dump", store, str(out)]) == 0
    assert "added" not in _read_dump(str(out))
    # clean batch commits
    assert main(["transaction", store, str(good)]) == 0
    assert main(["dump", store, str(out)]) == 0
    assert "added" in _read_dump(str(out))


def test_cli_store_swap_survives_failed_rename_in(
    spark, tmp_path, monkeypatch
):
    import os

    import pytest

    store = str(tmp_path / "swapstore")
    nt = tmp_path / "s.nq"
    nt.write_text('<urn:a> <urn:p> "old" .\n')
    assert main(["restore", store, str(nt)]) == 0

    real = os.rename
    failed = []

    def rename(src, dst):
        if dst == store and not failed:  # the new store's rename-in
            failed.append(src)
            raise OSError("injected rename-in failure")
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    insert = 'INSERT DATA { <urn:b> <urn:p> "new" }'
    with pytest.raises(OSError, match="injected"):
        main(["update", store, insert])
    assert failed
    out = tmp_path / "out.nq"
    assert main(["dump", store, str(out)]) == 0
    dumped = _read_dump(str(out))
    assert "old" in dumped and "new" not in dumped

    assert main(["update", store, insert]) == 0
    assert main(["dump", store, str(out)]) == 0
    dumped = _read_dump(str(out))
    assert "old" in dumped and "new" in dumped
