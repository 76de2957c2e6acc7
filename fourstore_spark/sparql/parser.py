"""SPARQL 1.1 recursive-descent parser -> algebra.

Covers the reference's query surface (it links Rasqal's "sparql11" grammar,
src/frontend/query.c:347-354): SELECT/ASK/CONSTRUCT/DESCRIBE, BGPs with
';'/','/'a'/bnode-property-lists/collections, OPTIONAL/UNION/MINUS/GRAPH/
FILTER/BIND/VALUES, sub-SELECT, expressions and aggregates, solution
modifiers, FROM/FROM NAMED.  BEYOND the reference's (Rasqal-bound)
surface, this parser also accepts SPARQL 1.1 property paths
(seq/alt/inverse/negated sets/closures — translator._path_sol) and
SERVICE federated query; paths remain rejected where the spec forbids
them (CONSTRUCT templates, update quad patterns).

Group -> algebra translation follows SPARQL 1.1 §18.2.2.6 (the reference's
equivalent is graph_pattern_walk, src/frontend/query.c:1305-1437).
"""

from __future__ import annotations

import re

from fourstore_spark.model import (
    RDF,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    resolve_iri,
)
from fourstore_spark.sparql import algebra as A
from fourstore_spark.sparql.tokenizer import SparqlSyntaxError, Token, tokenize

RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"

BUILTINS = {
    "STR", "LANG", "LANGMATCHES", "DATATYPE", "BOUND", "IRI", "URI", "BNODE",
    "RAND", "ABS", "CEIL", "FLOOR", "ROUND", "CONCAT", "STRLEN", "UCASE",
    "LCASE", "ENCODE_FOR_URI", "CONTAINS", "STRSTARTS", "STRENDS",
    "STRBEFORE", "STRAFTER", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
    "SECONDS", "TIMEZONE", "TZ", "NOW", "UUID", "STRUUID", "MD5", "SHA1",
    "SHA256", "SHA384", "SHA512", "COALESCE", "IF", "STRLANG", "STRDT",
    "SAMETERM", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC",
    "REGEX", "SUBSTR", "REPLACE", "FROM_UNIXTIME", "TO_UNIXTIME",
}
AGGREGATES = {"COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT"}

_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def unescape(s: str) -> str:
    """The string-escape decoder of SPARQL, Turtle and N-Triples
    literals and IRIs: ECHAR and UCHAR; a UCHAR that the end of the
    string cuts short stays as written."""
    if "\\" not in s:
        return s
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if nxt == "u" and i + 6 <= len(s):
                out.append(chr(int(s[i + 2:i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and i + 10 <= len(s):
                out.append(chr(int(s[i + 2:i + 10], 16)))
                i += 10
                continue
        out.append(c)
        i += 1
    return "".join(out)


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.tokens = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self._bnode_n = 0

    # ------------------------------------------------------- token utils
    def peek(self, k: int = 0) -> Token:
        return self.tokens[min(self.i + k, len(self.tokens) - 1)]

    def next(self) -> Token:
        t = self.tokens[self.i]
        self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.type == "IDENT" and t.value.upper() in kws

    def take_kw(self, *kws: str) -> str | None:
        if self.at_kw(*kws):
            return self.next().value.upper()
        return None

    def expect_kw(self, kw: str) -> None:
        if not self.take_kw(kw):
            raise SparqlSyntaxError(f"expected {kw} at {self.peek().pos}, got {self.peek().value!r}")

    def at_op(self, op: str) -> bool:
        t = self.peek()
        return t.type == "OP" and t.value == op

    def take_op(self, op: str) -> bool:
        if self.at_op(op):
            self.next()
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.take_op(op):
            raise SparqlSyntaxError(f"expected {op!r} at {self.peek().pos}, got {self.peek().value!r}")

    def err(self, msg: str):
        t = self.peek()
        raise SparqlSyntaxError(f"{msg} at {t.pos} (near {t.value!r})")

    def fresh_bnode(self) -> A.BNode:
        self._bnode_n += 1
        return A.BNode(f"__anon{self._bnode_n}")

    # ------------------------------------------------------------ terms
    def resolve_iri(self, raw: str) -> str:
        return resolve_iri(self.base, raw[1:-1])

    def resolve_pname(self, raw: str) -> str:
        pfx, _, local = raw.partition(":")
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(f"undefined prefix {pfx!r}:")
        local = re.sub(r"\\(.)", r"\1", local)
        return self.prefixes[pfx] + local

    def parse_iri(self) -> A.Iri:
        t = self.peek()
        if t.type == "IRIREF":
            self.next()
            return A.Iri(self.resolve_iri(t.value))
        if t.type == "PNAME":
            self.next()
            return A.Iri(self.resolve_pname(t.value))
        self.err("expected IRI")

    def _string_token_value(self, raw: str) -> str:
        if raw[:3] in ('"""', "'''"):
            return unescape(raw[3:-3])
        return unescape(raw[1:-1])

    def parse_literal(self) -> A.Literal:
        t = self.next()
        lex = self._string_token_value(t.value)
        nxt = self.peek()
        if nxt.type == "LANGTAG":
            self.next()
            return A.Literal(lex, lang=nxt.value[1:].lower())
        if nxt.type == "OP" and nxt.value == "^^":
            self.next()
            return A.Literal(lex, dt=self.parse_iri().value)
        return A.Literal(lex)

    def parse_numeric(self, sign: str = "") -> A.Literal:
        t = self.next()
        if t.type == "INTEGER":
            return A.Literal(sign + t.value, dt=XSD_INTEGER)
        if t.type == "DECIMAL":
            return A.Literal(sign + t.value, dt=XSD_DECIMAL)
        return A.Literal(sign + t.value, dt=XSD_DOUBLE)

    # term in data (graph pattern) position; may emit extra triples for
    # bnode property lists / collections
    def parse_graph_node(self, triples: list) -> object:
        t = self.peek()
        if t.type == "VAR":
            self.next()
            return A.Var(t.value[1:])
        if t.type in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if t.type == "STRING":
            return self.parse_literal()
        if t.type in ("INTEGER", "DECIMAL", "DOUBLE"):
            return self.parse_numeric()
        if t.type == "BLANK":
            self.next()
            return A.BNode(t.value[2:])
        if t.type == "IDENT" and t.value.lower() in ("true", "false"):
            self.next()
            return A.Literal(t.value.lower(), dt=XSD_BOOLEAN)
        if self.at_op("+") or self.at_op("-"):
            sign = self.next().value
            if self.peek().type in ("INTEGER", "DECIMAL", "DOUBLE"):
                return self.parse_numeric("-" if sign == "-" else "")
            self.err("expected number after sign")
        if self.at_op("["):
            self.next()
            node = self.fresh_bnode()
            if not self.take_op("]"):
                self.parse_property_list(node, triples)
                self.expect_op("]")
            return node
        if self.at_op("("):
            self.next()
            if self.take_op(")"):
                return A.Iri(RDF_NIL)
            items = []
            while not self.take_op(")"):
                items.append(self.parse_graph_node(triples))
            head = self.fresh_bnode()
            cur = head
            for j, item in enumerate(items):
                triples.append(A.TriplePattern(cur, A.Iri(RDF_FIRST), item))
                rest = self.fresh_bnode() if j + 1 < len(items) else A.Iri(RDF_NIL)
                triples.append(A.TriplePattern(cur, A.Iri(RDF_REST), rest))
                cur = rest
            return head
        self.err("expected term")

    def parse_verb(self) -> object:
        t = self.peek()
        if t.type == "VAR":
            self.next()
            return A.Var(t.value[1:])
        return self.parse_path()

    # SPARQL 1.1 property-path grammar (sparql11-query #grammar, rules
    # [88]-[96]) — beyond the reference (4store/rasqal is BGP-only and
    # rejects these; this parser is a fresh implementation)
    def parse_path(self) -> object:
        alts = [self.parse_path_seq()]
        while self.take_op("|"):
            alts.append(self.parse_path_seq())
        return alts[0] if len(alts) == 1 else A.PathAlt(tuple(alts))

    def parse_path_seq(self) -> object:
        steps = [self.parse_path_elt_or_inverse()]
        while self.take_op("/"):
            steps.append(self.parse_path_elt_or_inverse())
        return steps[0] if len(steps) == 1 else A.PathSeq(tuple(steps))

    def parse_path_elt_or_inverse(self) -> object:
        if self.take_op("^"):
            return A.PathInverse(self.parse_path_elt())
        return self.parse_path_elt()

    def parse_path_elt(self) -> object:
        prim = self.parse_path_primary()
        t = self.peek()
        if t.type == "OP" and t.value in ("?", "*", "+"):
            self.next()
            return A.PathMod(prim, t.value)
        return prim

    def parse_path_primary(self) -> object:
        t = self.peek()
        if t.type == "IDENT" and t.value == "a":
            self.next()
            return A.Iri(RDF_TYPE)
        if t.type in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if self.take_op("!"):
            return self.parse_path_negated()
        if self.take_op("("):
            inner = self.parse_path()
            self.expect_op(")")
            return inner
        self.err("expected predicate or property path")

    def parse_path_negated(self) -> A.PathNeg:
        forward: list = []
        inverse: list = []

        def one():
            (inverse if self.take_op("^") else forward).append(
                self._path_neg_iri()
            )

        if self.take_op("("):
            if not self.take_op(")"):
                one()
                while self.take_op("|"):
                    one()
                self.expect_op(")")
        else:
            one()
        return A.PathNeg(tuple(forward), tuple(inverse))

    def _path_neg_iri(self) -> A.Iri:
        t = self.peek()
        if t.type == "IDENT" and t.value == "a":
            self.next()
            return A.Iri(RDF_TYPE)
        if t.type in ("IRIREF", "PNAME"):
            return self.parse_iri()
        self.err("expected IRI in negated property set")

    def parse_property_list(self, subj, triples: list) -> None:
        while True:
            verb = self.parse_verb()
            while True:
                obj = self.parse_graph_node(triples)
                triples.append(A.TriplePattern(subj, verb, obj))
                if not self.take_op(","):
                    break
            if not self.take_op(";"):
                return
            # allow trailing ';'
            t = self.peek()
            if (t.type == "OP" and t.value in (".", "}", "]")) or t.type == "EOF":
                return

    def parse_triples_block(self) -> list:
        triples: list = []
        while True:
            t = self.peek()
            if t.type == "OP" and t.value in ("{", "}"):
                break
            if t.type == "EOF" or (t.type == "IDENT" and t.value.upper() in (
                "FILTER", "OPTIONAL", "MINUS", "GRAPH", "BIND", "VALUES",
                "SERVICE", "UNION",
            )):
                break
            if self.at_op("["):
                # bnode property list as subject
                self.next()
                subj = self.fresh_bnode()
                if not self.take_op("]"):
                    self.parse_property_list(subj, triples)
                    self.expect_op("]")
                if not (self.at_op(".") or self.at_op("}")):
                    self.parse_property_list(subj, triples)
            else:
                subj = self.parse_graph_node(triples)
                self.parse_property_list(subj, triples)
            if not self.take_op("."):
                break
        return triples

    # ------------------------------------------------------ expressions
    def parse_expression(self):
        return self.parse_or()

    def parse_or(self):
        left = self.parse_and()
        args = [left]
        while self.take_op("||"):
            args.append(self.parse_and())
        return args[0] if len(args) == 1 else A.EOr(args)

    def parse_and(self):
        left = self.parse_relational()
        args = [left]
        while self.take_op("&&"):
            args.append(self.parse_relational())
        return args[0] if len(args) == 1 else A.EAnd(args)

    def parse_relational(self):
        left = self.parse_additive()
        for op in ("<=", ">=", "!=", "=", "<", ">"):
            if self.at_op(op):
                self.next()
                return A.ECompare(op, left, self.parse_additive())
        if self.at_kw("IN"):
            self.next()
            return A.EIn(left, self.parse_expr_list(), negated=False)
        if self.at_kw("NOT") and self.peek(1).type == "IDENT" and self.peek(1).value.upper() == "IN":
            self.next()
            self.next()
            return A.EIn(left, self.parse_expr_list(), negated=True)
        return left

    def parse_expr_list(self) -> list:
        self.expect_op("(")
        out = []
        if not self.take_op(")"):
            out.append(self.parse_expression())
            while self.take_op(","):
                out.append(self.parse_expression())
            self.expect_op(")")
        return out

    def parse_additive(self):
        left = self.parse_multiplicative()
        while self.at_op("+") or self.at_op("-"):
            op = self.next().value
            left = A.EArith(op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self):
        left = self.parse_unary()
        while self.at_op("*") or self.at_op("/"):
            op = self.next().value
            left = A.EArith(op, left, self.parse_unary())
        return left

    def parse_unary(self):
        if self.take_op("!"):
            return A.EUnary("!", self.parse_unary())
        if self.take_op("+"):
            return A.EUnary("+", self.parse_unary())
        if self.take_op("-"):
            return A.EUnary("-", self.parse_unary())
        return self.parse_primary()

    def parse_primary(self):
        t = self.peek()
        if self.at_op("("):
            self.next()
            e = self.parse_expression()
            self.expect_op(")")
            return e
        if t.type == "VAR":
            self.next()
            return A.EVar(t.value[1:])
        if t.type == "STRING":
            return A.EConst(self.parse_literal())
        if t.type in ("INTEGER", "DECIMAL", "DOUBLE"):
            return A.EConst(self.parse_numeric())
        if t.type == "IDENT":
            kw = t.value.upper()
            if kw in ("TRUE", "FALSE"):
                self.next()
                return A.EConst(A.Literal(kw.lower(), dt=XSD_BOOLEAN))
            if kw in AGGREGATES:
                return self.parse_aggregate()
            if kw in ("EXISTS", "NOT"):
                negated = False
                if kw == "NOT":
                    self.next()
                    self.expect_kw("EXISTS")
                    negated = True
                else:
                    self.next()
                grp = self.parse_group_graph_pattern()
                return A.EExists(grp, negated=negated)
            if kw in BUILTINS:
                self.next()
                if kw == "BNODE" and not self.at_op("("):
                    return A.ECall("BNODE", [])
                if kw in ("NOW", "RAND", "UUID", "STRUUID"):
                    self.expect_op("(")
                    self.expect_op(")")
                    return A.ECall(kw, [])
                args = self.parse_expr_list()
                return A.ECall(kw, args)
            self.err(f"unknown function {t.value!r}")
        if t.type in ("IRIREF", "PNAME"):
            iri = self.parse_iri()
            if self.at_op("("):
                args = self.parse_expr_list()
                return A.ECall(iri.value, args)  # cast / extension function
            return A.EConst(iri)
        self.err("expected expression")

    def parse_aggregate(self):
        name = self.next().value.upper()
        self.expect_op("(")
        distinct = bool(self.take_kw("DISTINCT"))
        if name == "COUNT" and self.at_op("*"):
            self.next()
            self.expect_op(")")
            return A.EAggregate("COUNT", None, distinct)
        expr = self.parse_expression()
        sep = " "
        if name == "GROUP_CONCAT" and self.take_op(";"):
            self.expect_kw("SEPARATOR")
            self.expect_op("=")
            sep = self._string_token_value(self.next().value)
        self.expect_op(")")
        return A.EAggregate(name, expr, distinct, sep)

    # ---------------------------------------------------- graph patterns
    def parse_group_graph_pattern(self):
        self.expect_op("{")
        if self.at_kw("SELECT"):
            sub = self.parse_select_query(subselect=True)
            self.expect_op("}")
            return A.SubSelect(sub)
        elements: list = []
        filters: list = []
        while not self.at_op("}"):
            if self.at_kw("FILTER"):
                self.next()
                filters.append(self.parse_constraint())
                self.take_op(".")
            elif self.at_kw("OPTIONAL"):
                self.next()
                grp = self.parse_group_graph_pattern()
                elements.append(("optional", grp))
                self.take_op(".")
            elif self.at_kw("MINUS"):
                self.next()
                grp = self.parse_group_graph_pattern()
                elements.append(("minus", grp))
                self.take_op(".")
            elif self.at_kw("GRAPH"):
                self.next()
                t = self.peek()
                if t.type == "VAR":
                    self.next()
                    gterm = A.Var(t.value[1:])
                else:
                    gterm = self.parse_iri()
                grp = self.parse_group_graph_pattern()
                elements.append(("pattern", A.GraphPattern(gterm, grp)))
                self.take_op(".")
            elif self.at_kw("BIND"):
                self.next()
                self.expect_op("(")
                expr = self.parse_expression()
                self.expect_kw("AS")
                var = self.next()
                if var.type != "VAR":
                    self.err("expected variable in BIND")
                self.expect_op(")")
                elements.append(("bind", expr, var.value[1:]))
                self.take_op(".")
            elif self.at_kw("VALUES"):
                self.next()
                elements.append(("pattern", self.parse_inline_data()))
                self.take_op(".")
            elif self.at_kw("SERVICE"):
                # SPARQL 1.1 Federated Query — beyond the reference
                # (4store has no federation). The inner group's RAW TEXT
                # is kept so the translator can ship it verbatim to the
                # remote endpoint; parsing it here still validates syntax.
                self.next()
                silent = self.take_kw("SILENT") is not None
                if self.peek().type == "VAR":
                    self.err("SERVICE with a variable endpoint is not supported")
                endpoint = self.parse_iri()
                start = self.peek().pos  # the '{'
                self.parse_group_graph_pattern()  # validate inner syntax
                end = self.tokens[self.i - 1].pos  # the consumed '}'
                elements.append(
                    (
                        "pattern",
                        A.ServicePattern(
                            endpoint.value,
                            self.text[start : end + 1],
                            dict(self.prefixes),
                            silent,
                            self.base,
                        ),
                    )
                )
                self.take_op(".")
            elif self.at_op("{"):
                grp = self.parse_group_graph_pattern()
                while self.at_kw("UNION"):
                    self.next()
                    rhs = self.parse_group_graph_pattern()
                    grp = A.Union(grp, rhs)
                elements.append(("pattern", grp))
                self.take_op(".")
            else:
                triples = self.parse_triples_block()
                if not triples:
                    self.err("expected graph pattern element")
                elements.append(("bgp", triples))
        self.expect_op("}")
        return self._translate_group(elements, filters)

    def parse_constraint(self):
        if self.at_op("("):
            self.next()
            e = self.parse_expression()
            self.expect_op(")")
            return e
        return self.parse_primary()  # BuiltInCall or FunctionCall

    def _translate_group(self, elements: list, filters: list):
        # SPARQL 1.1 §18.2.2.6
        g: object = A.Unit()
        for el in elements:
            if el[0] == "bgp":
                bgp = A.BGP(el[1])
                g = bgp if isinstance(g, A.Unit) else A.Join(g, bgp)
            elif el[0] == "optional":
                rhs = el[1]
                if isinstance(rhs, A.Filter):
                    g = A.LeftJoin(g, rhs.pattern, rhs.expr)
                else:
                    g = A.LeftJoin(g, rhs, None)
            elif el[0] == "minus":
                g = A.Minus(g, el[1])
            elif el[0] == "bind":
                g = A.Extend(g, el[2], el[1])
            elif el[0] == "pattern":
                p = el[1]
                g = p if isinstance(g, A.Unit) else A.Join(g, p)
        if filters:
            expr = filters[0] if len(filters) == 1 else A.EAnd(filters)
            g = A.Filter(expr, g)
        return g

    def parse_inline_data(self) -> A.ValuesTable:
        t = self.peek()
        if t.type == "VAR":
            self.next()
            variables = [t.value[1:]]
            self.expect_op("{")
            rows = []
            while not self.take_op("}"):
                rows.append([self.parse_data_value()])
            return A.ValuesTable(variables, rows)
        self.expect_op("(")
        variables = []
        while not self.take_op(")"):
            v = self.next()
            if v.type != "VAR":
                self.err("expected variable in VALUES")
            variables.append(v.value[1:])
        self.expect_op("{")
        rows = []
        while not self.take_op("}"):
            self.expect_op("(")
            row = []
            while not self.take_op(")"):
                row.append(self.parse_data_value())
            if len(row) != len(variables):
                self.err("VALUES row arity mismatch")
            rows.append(row)
        return A.ValuesTable(variables, rows)

    def parse_data_value(self):
        t = self.peek()
        if t.type == "IDENT" and t.value.upper() == "UNDEF":
            self.next()
            return None
        if t.type in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if t.type == "STRING":
            return self.parse_literal()
        if t.type in ("INTEGER", "DECIMAL", "DOUBLE"):
            return self.parse_numeric()
        if t.type == "IDENT" and t.value.lower() in ("true", "false"):
            self.next()
            return A.Literal(t.value.lower(), dt=XSD_BOOLEAN)
        if self.at_op("+") or self.at_op("-"):
            sign = self.next().value
            return self.parse_numeric("-" if sign == "-" else "")
        self.err("expected VALUES data value")

    # -------------------------------------------------------- queries
    def parse_query(self) -> A.Query:
        self.parse_prologue()
        if self.at_kw("SELECT"):
            q = self.parse_select_query()
        elif self.at_kw("ASK"):
            q = self.parse_ask_query()
        elif self.at_kw("CONSTRUCT"):
            q = self.parse_construct_query()
        elif self.at_kw("DESCRIBE"):
            q = self.parse_describe_query()
        else:
            self.err("expected SELECT/ASK/CONSTRUCT/DESCRIBE")
        if self.at_kw("VALUES"):
            self.next()
            q.values = self.parse_inline_data()
        if self.peek().type != "EOF":
            self.err("unexpected trailing input")
        q.base = self.base  # IRI(expr) resolves row values against it
        return q

    def parse_prologue(self):
        while True:
            if self.at_kw("PREFIX"):
                self.next()
                p = self.next()
                if p.type != "PNAME" or not p.value.endswith(":"):
                    self.err("expected prefix name")
                iri = self.next()
                if iri.type != "IRIREF":
                    self.err("expected IRI in PREFIX")
                self.prefixes[p.value[:-1]] = self.resolve_iri(iri.value)
            elif self.at_kw("BASE"):
                self.next()
                iri = self.next()
                self.base = self.resolve_iri(iri.value)
            else:
                return

    def parse_dataset_clauses(self, q: A.Query):
        while self.at_kw("FROM"):
            self.next()
            if self.take_kw("NAMED"):
                q.from_named.append(self.parse_iri().value)
            else:
                q.from_graphs.append(self.parse_iri().value)

    def parse_select_query(self, subselect: bool = False) -> A.Query:
        self.expect_kw("SELECT")
        q = A.Query(form="SELECT")
        if self.take_kw("DISTINCT"):
            q.distinct = True
        elif self.take_kw("REDUCED"):
            q.reduced = True
        if self.take_op("*"):
            q.projection = []
        else:
            proj = []
            while True:
                t = self.peek()
                if t.type == "VAR":
                    self.next()
                    proj.append(("var", t.value[1:]))
                elif self.at_op("("):
                    self.next()
                    expr = self.parse_expression()
                    self.expect_kw("AS")
                    v = self.next()
                    if v.type != "VAR":
                        self.err("expected variable after AS")
                    self.expect_op(")")
                    proj.append(("expr", expr, v.value[1:]))
                else:
                    break
            if not proj:
                self.err("empty SELECT list")
            q.projection = proj
        if not subselect:
            self.parse_dataset_clauses(q)
        self.take_kw("WHERE")
        q.pattern = self.parse_group_graph_pattern()
        self.parse_solution_modifier(q)
        if subselect and self.at_kw("VALUES"):
            self.next()
            q.values = self.parse_inline_data()
        self._validate_select(q)
        self._validate_distinct_order(q)
        return q

    def _validate_select(self, q: A.Query):
        """Spec 18.2.4.1 projection rules (the reference relies on Rasqal
        for the same checks): a variable may appear only once in the
        SELECT clause; under aggregation a projected plain variable must
        be a GROUP BY key; SELECT * is incompatible with grouping."""
        seen: set = set()
        for item in q.projection:
            name = item[1] if item[0] == "var" else item[2]
            if name in seen:
                self.err(f"variable ?{name} appears twice in SELECT")
            seen.add(name)

        def has_agg(e) -> bool:
            if isinstance(e, A.EAggregate):
                return True
            if isinstance(e, (A.EAnd, A.EOr, A.ECall)):
                return any(has_agg(a) for a in e.args)
            if isinstance(e, A.EUnary):
                return has_agg(e.arg)
            if isinstance(e, (A.ECompare, A.EArith)):
                return has_agg(e.left) or has_agg(e.right)
            if isinstance(e, A.EIn):
                return has_agg(e.expr) or any(has_agg(o) for o in e.options)
            return False

        grouped = bool(q.group_by) or bool(q.having) or any(
            item[0] == "expr" and has_agg(item[1]) for item in q.projection
        )
        if not grouped:
            return
        if not q.projection:
            self.err("SELECT * cannot be used with GROUP BY")
        keys: set = set()
        for g in q.group_by:
            if isinstance(g, A.EVar):
                keys.add(g.name)
            elif isinstance(g, tuple) and g[0] == "as":
                keys.add(g[2])
        for item in q.projection:
            if item[0] == "var" and item[1] not in keys:
                self.err(
                    f"variable ?{item[1]} is projected but neither "
                    "aggregated nor a GROUP BY key"
                )

    def _validate_distinct_order(self, q: A.Query):
        """Spec 15.1/15.3.1: with SELECT DISTINCT, ordering conditions may
        only use projected variables — ordering by a non-projected
        variable is ambiguous after duplicate elimination (which source
        row's value would order the surviving one?)."""
        if not ((q.distinct or q.reduced) and q.projection and q.order_by):
            return
        names = {
            item[1] if item[0] == "var" else item[2] for item in q.projection
        }

        def walk(e, out):
            if isinstance(e, A.EVar):
                out.add(e.name)
            elif isinstance(e, A.EAggregate):
                out.add("__agg__")
            elif isinstance(e, (A.EAnd, A.EOr, A.ECall)):
                for a in e.args:
                    walk(a, out)
            elif isinstance(e, A.EUnary):
                walk(e.arg, out)
            elif isinstance(e, (A.ECompare, A.EArith)):
                walk(e.left, out)
                walk(e.right, out)
            elif isinstance(e, A.EIn):
                walk(e.expr, out)
                for o in e.options:
                    walk(o, out)

        for expr, _asc in q.order_by:
            used: set = set()
            walk(expr, used)
            bad = used - names
            if bad:
                self.err(
                    "ORDER BY with SELECT DISTINCT may only use projected "
                    f"variables (offending: {sorted(bad)})"
                )

    def parse_ask_query(self) -> A.Query:
        self.expect_kw("ASK")
        q = A.Query(form="ASK")
        self.parse_dataset_clauses(q)
        self.take_kw("WHERE")
        q.pattern = self.parse_group_graph_pattern()
        self.parse_solution_modifier(q)
        return q

    def _reject_paths(self, triples: list, where: str) -> list:
        for tp in triples:
            if not isinstance(tp.p, (A.Iri, A.Var)):
                self.err(f"property paths are not allowed in {where}")
        return triples

    def parse_construct_query(self) -> A.Query:
        self.expect_kw("CONSTRUCT")
        q = A.Query(form="CONSTRUCT")
        if self.at_op("{"):
            self.next()
            q.construct_template = self._reject_paths(
                self.parse_triples_block(), "a CONSTRUCT template"
            )
            self.expect_op("}")
            self.parse_dataset_clauses(q)
            self.take_kw("WHERE")
            q.pattern = self.parse_group_graph_pattern()
        else:
            # short form: CONSTRUCT WHERE { triples }
            self.parse_dataset_clauses(q)
            self.expect_kw("WHERE")
            self.expect_op("{")
            q.construct_template = self._reject_paths(
                self.parse_triples_block(), "a CONSTRUCT template"
            )
            self.expect_op("}")
            q.pattern = A.BGP(list(q.construct_template))
        self.parse_solution_modifier(q)
        return q

    def parse_describe_query(self) -> A.Query:
        self.expect_kw("DESCRIBE")
        q = A.Query(form="DESCRIBE")
        if self.take_op("*"):
            q.describe_terms = ["*"]
        else:
            terms = []
            while True:
                t = self.peek()
                if t.type == "VAR":
                    self.next()
                    terms.append(A.Var(t.value[1:]))
                elif t.type in ("IRIREF", "PNAME"):
                    terms.append(self.parse_iri())
                else:
                    break
            q.describe_terms = terms
        self.parse_dataset_clauses(q)
        if self.take_kw("WHERE") or self.at_op("{"):
            q.pattern = self.parse_group_graph_pattern()
        self.parse_solution_modifier(q)
        return q

    def parse_solution_modifier(self, q: A.Query):
        if self.at_kw("GROUP"):
            self.next()
            self.expect_kw("BY")
            while True:
                t = self.peek()
                if t.type == "VAR":
                    self.next()
                    q.group_by.append(A.EVar(t.value[1:]))
                elif self.at_op("("):
                    self.next()
                    expr = self.parse_expression()
                    if self.take_kw("AS"):
                        v = self.next()
                        self.expect_op(")")
                        q.group_by.append(("as", expr, v.value[1:]))
                    else:
                        self.expect_op(")")
                        q.group_by.append(expr)
                elif t.type == "IDENT" and t.value.upper() in BUILTINS:
                    q.group_by.append(self.parse_primary())
                else:
                    break
            if not q.group_by:
                self.err("empty GROUP BY")
        if self.at_kw("HAVING"):
            self.next()
            while self.at_op("(") or (self.peek().type == "IDENT" and self.peek().value.upper() in BUILTINS | AGGREGATES):
                q.having.append(self.parse_constraint())
            if not q.having:
                self.err("empty HAVING")
        if self.at_kw("ORDER"):
            self.next()
            self.expect_kw("BY")
            while True:
                t = self.peek()
                if self.at_kw("ASC") or self.at_kw("DESC"):
                    asc = self.next().value.upper() == "ASC"
                    self.expect_op("(")
                    expr = self.parse_expression()
                    self.expect_op(")")
                    q.order_by.append((expr, asc))
                elif t.type == "VAR":
                    self.next()
                    q.order_by.append((A.EVar(t.value[1:]), True))
                elif self.at_op("("):
                    self.next()
                    expr = self.parse_expression()
                    self.expect_op(")")
                    q.order_by.append((expr, True))
                elif t.type == "IDENT" and t.value.upper() in BUILTINS:
                    q.order_by.append((self.parse_primary(), True))
                else:
                    break
            if not q.order_by:
                self.err("empty ORDER BY")
        # LIMIT/OFFSET in either order
        for _ in range(2):
            if self.at_kw("LIMIT"):
                self.next()
                q.limit = int(self.next().value)
            elif self.at_kw("OFFSET"):
                self.next()
                q.offset = int(self.next().value)


    # --------------------------------------------------------- updates
    # SPARQL 1.1 Update grammar (the reference parses these via Rasqal's
    # "sparql11-update" syntax, fs_update src/frontend/update.c:425-427)
    def parse_update(self) -> list:
        ops: list = []
        while True:
            self.parse_prologue()
            if self.peek().type == "EOF":
                break
            ops.append(self.parse_update_op())
            if not self.take_op(";"):
                break
        if self.peek().type != "EOF":
            self.err("unexpected trailing input in update")
        return ops

    def parse_update_op(self):
        if self.at_kw("INSERT"):
            self.next()
            if self.take_kw("DATA"):
                return A.InsertDataOp(self.parse_quad_data(allow_vars=False))
            return self.parse_modify(insert_first=True)
        if self.at_kw("DELETE"):
            self.next()
            if self.take_kw("DATA"):
                quads = self.parse_quad_data(allow_vars=False)
                for q in quads:
                    if isinstance(q.s, A.BNode) or isinstance(q.o, A.BNode):
                        self.err("DELETE DATA cannot contain blank nodes")
                return A.DeleteDataOp(quads)
            if self.at_kw("WHERE"):
                # DELETE WHERE {..} shorthand — unsupported in the
                # reference (update.c:268-273); we support it
                self.next()
                quads = self.parse_quad_data(allow_vars=True)
                return A.ModifyOp(
                    delete=list(quads), where=self._quads_to_pattern(quads)
                )
            return self.parse_modify(insert_first=False)
        if self.at_kw("WITH"):
            self.next()
            g = self.parse_iri().value
            if self.take_kw("DELETE"):
                op = self.parse_modify(insert_first=False)
            elif self.take_kw("INSERT"):
                op = self.parse_modify(insert_first=True)
            else:
                self.err("expected DELETE or INSERT after WITH")
            op.with_graph = g
            return op
        if self.at_kw("LOAD"):
            self.next()
            silent = bool(self.take_kw("SILENT"))
            src = self.parse_iri().value
            g = None
            if self.take_kw("INTO"):
                self.expect_kw("GRAPH")
                g = self.parse_iri().value
            return A.LoadOp(src, g, silent)
        if self.at_kw("CLEAR", "DROP"):
            drop = self.next().value.upper() == "DROP"
            silent = bool(self.take_kw("SILENT"))
            return A.ClearOp(self.parse_graph_ref(), drop=drop, silent=silent)
        if self.at_kw("CREATE"):
            self.next()
            silent = bool(self.take_kw("SILENT"))
            self.expect_kw("GRAPH")
            return A.CreateOp(self.parse_iri().value, silent)
        if self.at_kw("ADD", "MOVE", "COPY"):
            kind = self.next().value.lower()
            silent = bool(self.take_kw("SILENT"))
            src = self.parse_graph_or_default()
            self.expect_kw("TO")
            dst = self.parse_graph_or_default()
            return A.GraphCopyOp(kind, src, dst, silent)
        self.err("expected update operation")

    def parse_graph_ref(self):
        if self.take_kw("GRAPH"):
            return ("graph", self.parse_iri().value)
        if self.take_kw("DEFAULT"):
            return "default"
        if self.take_kw("NAMED"):
            return "named"
        if self.take_kw("ALL"):
            return "all"
        self.err("expected GRAPH <iri> | DEFAULT | NAMED | ALL")

    def parse_graph_or_default(self):
        if self.take_kw("DEFAULT"):
            return None
        self.take_kw("GRAPH")
        return self.parse_iri().value

    def parse_modify(self, insert_first: bool) -> A.ModifyOp:
        """[DELETE {tmpl}] [INSERT {tmpl}] (USING ..)* WHERE {pattern};
        the leading DELETE/INSERT keyword is already consumed."""
        op = A.ModifyOp()
        first = self.parse_quad_data(allow_vars=True)
        if insert_first:
            op.insert = first
        else:
            op.delete = first
            if self.take_kw("INSERT"):
                op.insert = self.parse_quad_data(allow_vars=True)
        while self.at_kw("USING"):
            self.next()
            if self.take_kw("NAMED"):
                op.using_named.append(self.parse_iri().value)
            else:
                op.using.append(self.parse_iri().value)
        self.expect_kw("WHERE")
        op.where = self.parse_group_graph_pattern()
        return op

    def parse_quad_data(self, allow_vars: bool) -> list:
        """'{' (triples | GRAPH iri '{' triples '}')* '}' -> QuadPatterns."""
        self.expect_op("{")
        quads: list = []

        def add(triples, g):
            self._reject_paths(triples, "update quad patterns")
            for tp in triples:
                if not allow_vars:
                    for t in (tp.s, tp.p, tp.o):
                        if isinstance(t, A.Var):
                            self.err("variables not allowed in data block")
                quads.append(A.QuadPattern(g, tp.s, tp.p, tp.o))

        while not self.take_op("}"):
            if self.take_kw("GRAPH"):
                t = self.peek()
                if allow_vars and t.type == "VAR":
                    self.next()
                    g = A.Var(t.value[1:])
                else:
                    g = self.parse_iri()
                self.expect_op("{")
                add(self.parse_triples_block(), g)
                self.expect_op("}")
                self.take_op(".")
            else:
                add(self.parse_triples_block(), None)
        return quads

    @staticmethod
    def _quads_to_pattern(quads: list):
        """DELETE WHERE shorthand: the quad block is also the pattern."""
        plain = [
            A.TriplePattern(q.s, q.p, q.o) for q in quads if q.g is None
        ]
        node = A.BGP(plain) if plain else None
        for q in quads:
            if q.g is None:
                continue
            gp = A.GraphPattern(q.g, A.BGP([A.TriplePattern(q.s, q.p, q.o)]))
            node = gp if node is None else A.Join(node, gp)
        return node or A.Unit()


# --------------------------------------------------- static scope check
# SPARQL 1.1 §18.2.1 in-scope variables + the grammar-level constraints
# that reference them: BIND's target must not already be in scope in the
# group up to the BIND (grammar note on rule [60]), and a SELECT
# expression's alias must not reuse a WHERE/GROUP BY-scoped variable
# (§18.2.4.4).  The official W3C NegativeSyntaxTest11 suites
# (syn-bind-02-style cases) require these to fail AT PARSE TIME, so the
# checks run here as a post-parse walk as well as (defensively) in the
# translator.


def _in_scope(node) -> set[str]:
    """In-scope variable names of a pattern node per §18.2.1."""
    if node is None or isinstance(node, (A.Unit, A.ServicePattern)):
        # SERVICE groups ship as raw text — conservatively contribute
        # nothing (under-approximating can only miss a violation, never
        # reject a legal query)
        return set()
    if isinstance(node, A.BGP):
        out: set[str] = set()
        for t in node.triples:
            for term in (t.s, t.p, t.o):
                if isinstance(term, A.Var):
                    out.add(term.name)
        return out
    if isinstance(node, (A.Join, A.LeftJoin, A.Union)):
        return _in_scope(node.left) | _in_scope(node.right)
    if isinstance(node, A.Minus):
        return _in_scope(node.left)  # right side never binds outward
    if isinstance(node, A.Filter):
        return _in_scope(node.pattern)
    if isinstance(node, A.Extend):
        return _in_scope(node.pattern) | {node.var}
    if isinstance(node, A.GraphPattern):
        g = {node.graph.name} if isinstance(node.graph, A.Var) else set()
        return _in_scope(node.pattern) | g
    if isinstance(node, A.ValuesTable):
        return {v if isinstance(v, str) else v.name for v in node.variables}
    if isinstance(node, A.SubSelect):
        q = node.query
        if q.projection:
            out = set()
            for item in q.projection:
                out.add(item[1] if item[0] == "var" else item[2])
            return out
        scope = _in_scope(q.pattern)
        for g in q.group_by:
            if isinstance(g, tuple) and g[0] == "as":
                scope.add(g[2])
        return scope
    return set()


def _validate_expr(expr) -> None:
    if isinstance(expr, A.EExists):
        _validate_pattern(expr.pattern)
        return
    for attr in ("left", "right", "arg", "expr"):
        v = getattr(expr, attr, None)
        if v is not None and not isinstance(v, (str, int, float, bool)):
            _validate_expr(v)
    for attr in ("args", "options"):
        for v in getattr(expr, attr, ()) or ():
            _validate_expr(v)


def _validate_pattern(node) -> None:
    if node is None or isinstance(
        node, (A.Unit, A.BGP, A.ValuesTable, A.ServicePattern)
    ):
        return
    if isinstance(node, (A.Join, A.Union, A.Minus)):
        _validate_pattern(node.left)
        _validate_pattern(node.right)
        return
    if isinstance(node, A.LeftJoin):
        _validate_pattern(node.left)
        _validate_pattern(node.right)
        if node.expr is not None:
            _validate_expr(node.expr)
        return
    if isinstance(node, A.Filter):
        _validate_expr(node.expr)
        _validate_pattern(node.pattern)
        return
    if isinstance(node, A.Extend):
        _validate_pattern(node.pattern)
        _validate_expr(node.expr)
        if node.var in _in_scope(node.pattern):
            raise SparqlSyntaxError(
                f"BIND: variable ?{node.var} is already in scope in the "
                "group (SPARQL 1.1 grammar constraint on BIND)"
            )
        return
    if isinstance(node, A.GraphPattern):
        _validate_pattern(node.pattern)
        return
    if isinstance(node, A.SubSelect):
        validate_query(node.query)
        return


def validate_query(q: A.Query) -> None:
    """Parse-time rejection of in-scope rule violations (§18.2.4.4 +
    grammar note on BIND); re-raised as SparqlSyntaxError so W3C
    NegativeSyntaxTest11 cases fail at parse like the spec requires."""
    _validate_pattern(q.pattern)
    scope = _in_scope(q.pattern)
    for g in q.group_by:
        if isinstance(g, tuple) and g[0] == "as":
            if g[2] in scope:
                raise SparqlSyntaxError(
                    f"GROUP BY: (expr AS ?{g[2]}) reuses an in-scope "
                    "variable"
                )
            scope.add(g[2])
    for item in q.projection:
        if item[0] == "expr":
            _validate_expr(item[1])
            if item[2] in scope:
                raise SparqlSyntaxError(
                    f"SELECT: (expr AS ?{item[2]}) reuses an in-scope "
                    "variable (SPARQL 1.1 §18.2.4.4)"
                )
    for h in q.having:
        _validate_expr(h)
    for e, _asc in q.order_by:
        _validate_expr(e)


def parse_query(text: str) -> A.Query:
    q = Parser(text).parse_query()
    validate_query(q)
    return q


def parse_update(text: str) -> list:
    """Parse a SPARQL 1.1 Update request into a list of update ops."""
    ops = Parser(text).parse_update()
    for op in ops:
        where = getattr(op, "where", None)
        if where is not None:
            _validate_pattern(where)
    return ops
