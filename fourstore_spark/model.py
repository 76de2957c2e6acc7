"""Quad / RDF-term data model and the one RDF term codec.

The reference stores quads as 4 x 64-bit resource IDs (``fs_rid``,
src/common/4s-datatypes.h:52) plus a separate resource table mapping RID ->
(lexical form, datatype-or-lang attribute) (src/backend/rhash.c:76-87).  We
instead keep the lexical data *inline* in one ``quads`` DataFrame — this
deletes the reference's entire RID-resolve path (src/frontend/results.c:
2533-2594) and lets Parquet dictionary encoding do what the rhash did.

Quads schema (FIXTURES.md F1):

    g       STRING   graph/model URI; default graph = ``default:``
    s       STRING   subject URI or bnode id (``_:b<N>``)
    s_kind  TINYINT  0=URI, 1=BNODE
    p       STRING   predicate URI
    o_kind  TINYINT  0=URI, 1=BNODE, 2=LITERAL
    o_lex   STRING   object lexical form (the URI string when o_kind=0)
    o_dt    STRING   datatype URI; NULL for plain/lang literals, non-literals
    o_lang  STRING   lowercase language tag or NULL
    o_num   DOUBLE   pre-parsed numeric value when o_dt is numeric else NULL

RDF terms bound to SPARQL variables travel through the engine as one struct
column per variable:

    STRUCT<kind TINYINT, lex STRING, dt STRING, lang STRING, num DOUBLE>

Term equality == struct equality (kind, lex, dt, lang determine num), so
multi-pattern joins are plain equi-joins on the variable columns and Spark
is free to pick broadcast/SMJ per join.

Term codec — every path that turns a parsed term into a term row or a term
struct (import, update, query constants, VALUES, SERVICE, the CLI) goes
through this module, like the reference's one fs_hash_literal/fs_hash_uri
codec (src/common/4s-hash.h:68-70, const_literal_to_rid
src/frontend/query.c:2015-2077):

- kind codes follow the reference's 2-bit RID tag (src/common/4s-hash.h:
  8-13, FS_IS_BNODE/FS_IS_URI/FS_IS_LITERAL) renumbered densely:
  0=URI, 1=BNODE, 2=LITERAL;
- ``num`` is set only for a literal whose datatype is in
  ``NUMERIC_DATATYPES`` and whose lexical form, ignoring surrounding space,
  tab, CR and LF, matches that type's XSD lexical pattern (no range
  facets), from ``NUM_PATTERNS``:

      integer family   [+-]?[0-9]+
      xsd:decimal      [+-]?([0-9]+(.[0-9]*)?|.[0-9]+)
      xsd:double/float the decimal form with an optional [eE][+-]?[0-9]+
                       exponent, or [+-]?INF, or NaN

  so "1_000", "0x10" and "1d" are ill-typed and carry no value;
  ``term_num`` is the Python form, ``num_col`` the Column form (pattern
  check + ``try_cast``) — the two agree on every input;
- language tags are lowercased;
- blank-node labels are chosen by the caller, which knows its scope (per
  import, per update request, per SERVICE call, per solution row);
- the 64-bit term key (``term_rid``) hashes kind, lex, dt and lang;
- the IRI rule: an IRI (URI term, datatype, graph) has no character of
  ``[\\x00-\\x20<>"{}|^`\\\\]`` (the N-Triples IRIREF exclusions); the
  language-tag rule: a tag matches ``[A-Za-z]+(-[A-Za-z0-9]+)*``. Python
  form: ``check_iri``/``iri_row``/``term_row`` raise ``ValueError`` (an
  import line is rejected or skipped, a SERVICE call fails); Column form:
  ``iri_ok``/``lang_ok`` (IRI(), URI() and STRLANG() give unbound).

Term writer — the inverse of ``term_row``, the one source of N-Triples
term text (result documents, graph serializations, SERVICE VALUES, the
CLI, the N-Quads dump), like the reference's one output dispatch
(fs_query_results_output, src/frontend/results.c:2900-2918):

- ``<iri>``, ``"lex"``, ``"lex"@lang``, ``"lex"^^<dt>`` or ``_:label``;
  the lexical form escapes backslash, ``"``, LF, CR and TAB as
  ``\\\\ \\" \\n \\r \\t`` (``NT_ESCAPES``, the one escape table), nothing else;
- the caller chooses blank-node labels: a function from the stored label
  to the written one (``_BnodeNamer``'s ``b0``, ``b1``, ... in result
  documents; ``stored_label`` keeps the stored one);
- ``nt_term`` is the Python form, ``nt_term_col`` the Column form; they
  write the same text;
- XML writers put IRIs, datatypes and language tags into attributes
  through ``xml.sax.saxutils.quoteattr``.

Term match — the one test that a stored or bound term equals a constant,
like the reference's one bind routine (fs_bind, src/backend/
query-backend.c:155-596): ``term_eq(term, term_row(t))`` on any term
struct (``quad_term(slot)``, a variable column, a property-table value):

- kind and lex are compared; a literal's dt and lang are compared
  null-safe too (``num`` follows from lex and dt);
- on ``quad_term`` Catalyst folds the struct access to the quad columns,
  so the conditions still push down to the parquet scan;
- ``term_row(a) == term_row(b)`` is the Python form (sameTerm of two
  constants).

Term structs of quad slots (``quad_term``) and of constants
(``const_term_col``) are one ``F.expr`` each, generated from
``TERM_FIELDS`` and ``TERM_SCHEMA``: one parse instead of a py4j command
per field. Every constant in that SQL text is written by ``sql_str``.
"""

from __future__ import annotations

import math
import re
from urllib.parse import urljoin

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from fourstore_spark.sparql import algebra as A

KIND_URI = 0
KIND_BNODE = 1
KIND_LITERAL = 2

DEFAULT_GRAPH = "default:"  # reserved default-graph model, src/common/rdf-constants.h:44
SYSTEM_CONFIG_GRAPH = "system:config"  # src/common/rdf-constants.h:45

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_FLOAT = XSD + "float"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATETIME = XSD + "dateTime"
XSD_DATE = XSD + "date"

# Numeric datatypes recognized for o_num pre-parsing; mirrors the pre-hashed
# XSD types in struct fs_globals (src/common/4s-hash.h:22-60).
NUMERIC_DATATYPES = frozenset(
    [
        XSD_INTEGER,
        XSD_DECIMAL,
        XSD_DOUBLE,
        XSD_FLOAT,
        XSD + "int",
        XSD + "long",
        XSD + "short",
        XSD + "byte",
        XSD + "unsignedInt",
        XSD + "unsignedLong",
        XSD + "unsignedShort",
        XSD + "unsignedByte",
        XSD + "nonNegativeInteger",
        XSD + "nonPositiveInteger",
        XSD + "negativeInteger",
        XSD + "positiveInteger",
    ]
)

QUADS_SCHEMA = StructType(
    [
        StructField("g", StringType(), False),
        StructField("s", StringType(), False),
        StructField("s_kind", ByteType(), False),
        StructField("p", StringType(), False),
        StructField("o_kind", ByteType(), False),
        StructField("o_lex", StringType(), False),
        StructField("o_dt", StringType(), True),
        StructField("o_lang", StringType(), True),
        StructField("o_num", DoubleType(), True),
    ]
)

TERM_SCHEMA = StructType(
    [
        StructField("kind", ByteType(), True),
        StructField("lex", StringType(), True),
        StructField("dt", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("num", DoubleType(), True),
    ]
)

TERM_FIELDS = ("kind", "lex", "dt", "lang", "num")
TERM_DDL = TERM_SCHEMA.simpleString()


def term_struct(kind: Column, lex: Column, dt: Column, lang: Column, num: Column) -> Column:
    """Assemble a term struct column from its parts."""
    return _term_col(
        kind.cast("tinyint"),
        lex.cast("string"),
        dt.cast("string"),
        lang.cast("string"),
        num.cast("double"),
    )


# ------------------------------------------------------------ term codec
_INT_LEX = r"[+-]?[0-9]+"
_DEC_LEX = r"[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)"
_DBL_LEX = _DEC_LEX + r"(?:[eE][+-]?[0-9]+)?|[+-]?INF|NaN"

# XSD lexical pattern per numeric datatype (the num rule's one table)
NUM_PATTERNS = {
    dt: (
        _DBL_LEX if dt in (XSD_DOUBLE, XSD_FLOAT)
        else _DEC_LEX if dt == XSD_DECIMAL
        else _INT_LEX
    )
    for dt in NUMERIC_DATATYPES
}


def _padded(pat: str) -> str:
    # surrounding space, tab, CR and LF are ignored; Python's float()
    # and Spark's try_cast both skip them too
    return f"[ \t\r\n]*(?:{pat})[ \t\r\n]*"


_NUM_RES = {dt: re.compile(_padded(pat)) for dt, pat in NUM_PATTERNS.items()}


def term_num(lex: str, dt: str | None) -> float | None:
    """The num rule, Python form: the double value of a well-typed
    numeric literal, else None."""
    pat = _NUM_RES.get(dt)
    return float(lex) if pat is not None and pat.fullmatch(lex) else None


def num_col(lex: Column, dt: Column) -> Column:
    """The num rule, Column form (agrees with ``term_num``): one
    anchored pattern check per pattern family, then ``try_cast``."""
    out, val = None, lex.try_cast("double")
    for pat in sorted(set(NUM_PATTERNS.values())):
        dts = sorted(d for d, p in NUM_PATTERNS.items() if p == pat)
        ok = dt.isin(dts) & lex.rlike(f"^{_padded(pat)}$")
        out = F.when(ok, val) if out is None else out.when(ok, val)
    return out


_IRI_BAD = r'[\x00-\x20<>"{}|^`\\]'
_LANG = r"[A-Za-z]+(?:-[A-Za-z0-9]+)*"
_IRI_BAD_RE = re.compile(_IRI_BAD)
_LANG_RE = re.compile(_LANG)


def check_iri(iri: str) -> str:
    """The IRI rule, Python form: ``iri`` itself, or ValueError."""
    if _IRI_BAD_RE.search(iri):
        raise ValueError(f"IRI with a character IRIREF excludes: {iri!r}")
    return iri


def escape_iri(text: str) -> str:
    """``text`` with each character the IRI rule excludes percent-encoded
    (a file path made a base IRI)."""
    return _IRI_BAD_RE.sub(lambda m: f"%{ord(m.group()):02X}", text)


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def resolve_iri(base: str, ref: str) -> str:
    """RFC 3986 resolution of ``ref`` against ``base`` ("" for none), as
    raptor resolves every document-relative IRI. urljoin only resolves
    schemes in urllib's uses_relative list; for other base schemes
    (4s-httpd's default BASE <local:local>, httpd.c:1925; a PUT of
    data/swh.xrdf under graph <graph:x> must yield <graph:swh.xrdf.asc>,
    httpd-extras exemplars) the §5.3 merge is done by hand:
    fragment-only keeps the whole base path (<#x> -> local:local#x),
    query-only keeps the path (<?y> -> local:local?y), a path ref
    replaces the base path's last segment (<A> -> local:A). urljoin
    normalizes dot segments ("../x"); the runtime IRI() column path
    (expr._resolve_iri_col) keeps them literal."""
    if not base or _SCHEME_RE.match(ref):
        return ref
    out = urljoin(base, ref)
    if out != ref or not _SCHEME_RE.match(base):
        return out
    if ref.startswith("#"):
        return base.split("#", 1)[0] + ref
    b = base.split("#", 1)[0].split("?", 1)[0]
    if ref.startswith("?"):
        return b + ref
    scheme_end = b.index(":") + 1
    path = b[scheme_end:]
    cut = path.rfind("/") + 1  # 0 when no '/': drop path
    return b[:scheme_end] + path[:cut] + ref


def iri_ok(iri: Column) -> Column:
    """The IRI rule, Column form."""
    return ~iri.rlike(_IRI_BAD)


def lang_ok(lang: Column) -> Column:
    """The language-tag rule, Column form."""
    return lang.rlike(f"^{_LANG}$")


def iri_row(iri: str) -> tuple:
    """Term row of an IRI (ValueError if it breaks the IRI rule)."""
    return (KIND_URI, check_iri(iri), None, None, None)


def bnode_row(label: str) -> tuple:
    """Term row of a blank node stored under ``label``, which the caller
    scopes (per import, update request, SERVICE call or solution row)."""
    return (KIND_BNODE, label, None, None, None)


def term_row(term) -> tuple:
    """An algebra Iri/BNode/Literal, or a raw ``(lex, dt, lang)`` literal
    triple -> ``(kind, lex, dt, lang, num)``. A BNode keeps its written
    ``_:label``; callers that scope labels themselves use ``bnode_row``.
    ValueError if an IRI, datatype or language tag breaks its rule."""
    if isinstance(term, tuple):
        lex, dt, lang = term
    elif isinstance(term, A.Literal):
        lex, dt, lang = term.lex, term.dt, term.lang
    elif isinstance(term, A.Iri):
        return iri_row(term.value)
    elif isinstance(term, A.BNode):
        return bnode_row("_:" + term.label)
    else:
        raise TypeError(f"not an RDF term: {term!r}")
    if dt is not None:
        check_iri(dt)
    if lang and not _LANG_RE.fullmatch(lang):
        raise ValueError(f"malformed language tag: {lang!r}")
    return (KIND_LITERAL, lex, dt, lang.lower() if lang else None, term_num(lex, dt))


# ------------------------------------------------------------ term writer
# N-Triples string escapes, backslash first
NT_ESCAPES = (
    ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t"),
)


def stored_label(lex: str) -> str:
    """Blank-node label function that writes the label as stored."""
    return lex[2:] if lex.startswith("_:") else lex


def nt_iri(iri: str) -> str:
    """N-Triples text of an IRI."""
    return f"<{iri}>"


def nt_term(kind: int, lex: str, dt, lang, bnode, iri=nt_iri) -> str:
    """The term writer, Python form: N-Triples text of a term. ``bnode``
    maps a stored blank-node label to the written one (without ``_:``);
    ``iri`` writes URIs and datatypes (Turtle writers may compact them)."""
    if kind == KIND_URI:
        return iri(lex)
    if kind == KIND_BNODE:
        return "_:" + bnode(lex)
    lex = lex or ""
    for c, e in NT_ESCAPES:
        lex = lex.replace(c, e)
    if lang:
        return f'"{lex}"@{lang}'
    if dt:
        return f'"{lex}"^^{iri(dt)}'
    return f'"{lex}"'


def nt_term_col(kind: Column, lex: Column, dt=None, lang=None) -> Column:
    """The term writer, Column form: ``nt_term`` with ``stored_label``.
    ``dt``/``lang`` left out mean a term that is never a tagged or typed
    literal (a subject, predicate or graph)."""
    iri = F.concat(F.lit("<"), lex, F.lit(">"))
    label = F.concat(F.lit("_:"), F.regexp_replace(lex, "^_:", ""))
    esc = F.coalesce(lex, F.lit(""))
    for c, e in NT_ESCAPES:
        esc = F.replace(esc, F.lit(c), F.lit(e))
    lit = F.concat(F.lit('"'), esc, F.lit('"'))
    if lang is not None:
        lit = F.when(lang != "", F.concat(lit, F.lit("@"), lang)).when(
            dt != "", F.concat(lit, F.lit("^^<"), dt, F.lit(">"))
        ).otherwise(lit)
    return (
        F.when(kind == KIND_URI, iri)
        .when(kind == KIND_BNODE, label)
        .otherwise(lit)
    )


def _term_col(kind: Column, lex: Column, dt=None, lang=None, num=None) -> Column:
    """Term struct from its parts; a part left out is a typed null."""
    rest = zip(("dt", "lang", "num"), (dt, lang, num), ("string", "string", "double"))
    return F.struct(
        kind.alias("kind"),
        lex.alias("lex"),
        *((F.lit(None).cast(t) if c is None else c).alias(n) for n, c, t in rest),
    )


# ---------------------------------------------------- term struct SQL
# SQL type of each term field, in TERM_FIELDS order
_TERM_SQL_TYPES = tuple(f.dataType.simpleString().upper() for f in TERM_SCHEMA.fields)


def sql_str(text: str) -> str:
    """The SQL string-literal renderer: every constant put into Spark SQL
    text goes through it. Backslash and quote are escaped; ``$`` is
    written ``\\u0024`` because the SQL parser substitutes ``${...}``
    variables in the raw text, inside quotes too."""
    for c, e in (("\\", "\\\\"), ("'", "\\'"), ("$", "\\u0024")):
        text = text.replace(c, e)
    return f"'{text}'"


def _sql_const(value, sql_type: str) -> str:
    """SQL text of a constant cast to ``sql_type`` (None: a typed null)."""
    if value is None:
        v = "NULL"
    elif isinstance(value, str):
        v = sql_str(value)
    elif isinstance(value, float):
        # repr round-trips every finite double; inf and nan have no
        # literal, so they are cast from Java's spelling
        v = f"{value!r}D" if math.isfinite(value) else sql_str(
            repr(value).replace("inf", "Infinity").replace("nan", "NaN")
        )
    else:
        v = str(int(value))
    return f"CAST({v} AS {sql_type})"


def _term_expr(*parts: str) -> Column:
    """Term struct from the SQL text of its leading fields, in
    TERM_FIELDS order; the fields left out are typed nulls. One
    ``F.expr``, one parse."""
    parts += tuple(_sql_const(None, t) for t in _TERM_SQL_TYPES[len(parts):])
    body = ", ".join(f"{p} AS {f}" for p, f in zip(parts, TERM_FIELDS))
    return F.expr(f"struct({body})")


def const_term_col(row: tuple) -> Column:
    """Constant term struct of a ``term_row`` tuple."""
    kind, lex, *rest = row
    return _term_expr(
        _sql_const(kind, _TERM_SQL_TYPES[0]),
        sql_str(lex),
        *(_sql_const(v, t) for v, t in zip(rest, _TERM_SQL_TYPES[2:])),
    )


def uri_term(lex: Column) -> Column:
    """URI term struct of a string column."""
    return _term_col(F.lit(KIND_URI).cast("tinyint"), lex)


def bnode_term(lex: Column) -> Column:
    """Blank-node term struct of a (caller-scoped) label column."""
    return _term_col(F.lit(KIND_BNODE).cast("tinyint"), lex)


def quad_term(slot: str) -> Column:
    """Term struct of one slot of a quads row: "s", "p", "g" or "o"."""
    if slot == "o":
        return _term_expr(*(f"`o_{f}`" for f in TERM_FIELDS))
    if slot == "s":
        return _term_expr("`s_kind`", "`s`")
    return _term_expr(_sql_const(KIND_URI, _TERM_SQL_TYPES[0]), f"`{slot}`")


def term_eq(term: Column, row: tuple) -> Column:
    """The match rule: does term struct ``term`` equal the ``term_row``
    constant ``row``? Kind and lex always; a literal's datatype and
    language null-safe as well."""
    kind, lex, dt, lang, _ = row
    out = (term["kind"] == kind) & (term["lex"] == lex)
    if kind == KIND_LITERAL:
        out = (
            out
            & term["dt"].eqNullSafe(F.lit(dt))
            & term["lang"].eqNullSafe(F.lit(lang))
        )
    return out


def term_of(x: Column) -> Column:
    """Term struct of the five term fields of a wider struct (the
    property table's per-graph values)."""
    return _term_col(*(x[f] for f in TERM_FIELDS))


def quad_cols(s: Column, p: Column, o: Column) -> list[Column]:
    """The inverse of ``quad_term``: quad columns (all but ``g``) from
    subject, predicate and object term structs."""
    return [
        s["lex"].alias("s"),
        s["kind"].alias("s_kind"),
        p["lex"].alias("p"),
        *(o[f].alias("o_" + f) for f in TERM_FIELDS),
    ]


def term_rid(term: Column) -> Column:
    """64-bit term key — the fs_rid analogue (4s-hash.h:52,68: every term
    hashes to an fs_rid; joins and dedup compare RIDs, never lexical
    forms). Join conditions compare these 8-byte keys instead of the full
    term struct: exchanges hash a long, sort-merge sorts longs, and no
    string comparison happens per row. Like the reference we accept the
    2^-64 collision risk (the reference's own group-by hash notes "no
    guarantee of non-collision", group.c:47-48). ``num`` is excluded: it
    is derived from (lex, dt). NULL inputs are skipped by xxhash64, which
    makes the subject-position hash (dt/lang absent) agree with the
    object-position hash of the same URI."""
    return F.xxhash64(term["kind"], term["lex"], term["dt"], term["lang"])


# SPARQL total term order (src/frontend/order.c:66-126): unbound < blank
# nodes < URIs (lexical) < literals (by value, then lexical form).
def term_order_key(term: Column) -> Column:
    """Sort-key struct implementing the reference's ORDER BY comparator."""
    rank = (
        F.when(term.isNull(), F.lit(0))
        .when(term["kind"] == KIND_BNODE, F.lit(1))
        .when(term["kind"] == KIND_URI, F.lit(2))
        .otherwise(F.lit(3))
    )
    # Literals compare numerically when both numeric, else by lexical form.
    num = F.when(term["kind"] == KIND_LITERAL, term["num"])
    has_num = num.isNotNull().cast("tinyint")
    return F.struct(
        rank.alias("rank"),
        # numeric literals sort before non-numeric ones at equal rank
        (1 - has_num).alias("nonnum"),
        num.alias("num"),
        term["lex"].alias("lex"),
        term["dt"].alias("dt"),
        term["lang"].alias("lang"),
    )
