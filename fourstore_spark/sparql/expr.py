"""SPARQL expression -> Spark Column compiler.

Re-expresses the reference's expression evaluator (fs_expression_eval,
src/frontend/results.c:335-943) and filter-function library
(src/frontend/filter.c, 1792 LoC; value promotion in
src/frontend/filter-datatypes.c) as *column expressions* over term structs
— everything stays JVM-side inside whole-stage codegen; there are no
Python UDFs in this module.

Conventions:
- every expression compiles to a term-struct Column
  STRUCT<kind,lex,dt,lang,num> (model.TERM_SCHEMA);
- the SPARQL "error" value (fs_value_error, src/frontend/filter-datatypes.h:62)
  is a NULL struct — filters drop error rows exactly like the reference's
  3-valued logic;
- effective boolean value mirrors fn_ebv (src/frontend/filter.c:1356).

Catalyst's SimplifyExtractValueOps collapses the struct-build/field-extract
pairs this generates, so the struct convention costs nothing at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from fourstore_spark.model import (
    KIND_BNODE,
    KIND_LITERAL,
    KIND_URI,
    NUMERIC_DATATYPES,
    XSD,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_STRING,
    TERM_DDL,
    const_term_col,
    iri_ok,
    lang_ok,
    num_col,
    term_row,
    term_struct,
)
from fourstore_spark.sparql import algebra as A

def _NULL_S() -> Column:
    return F.lit(None).cast("string")


def _NULL_D() -> Column:
    return F.lit(None).cast("double")


def null_term() -> Column:
    return F.lit(None).cast(TERM_DDL)


def make_uri(lex: Column) -> Column:
    return term_struct(F.lit(KIND_URI), lex, _NULL_S(), _NULL_S(), _NULL_D())


def make_string(lex: Column, lang: Column | None = None) -> Column:
    lang = _NULL_S() if lang is None else lang
    return term_struct(F.lit(KIND_LITERAL), lex, _NULL_S(), lang, _NULL_D())


def make_bool(b: Column) -> Column:
    lex = F.when(b, "true").when(~b, "false")  # null propagates as error
    return term_struct(F.lit(KIND_LITERAL), lex, F.lit(XSD_BOOLEAN), _NULL_S(), _NULL_D())


def make_num(num: Column, dt: Column) -> Column:
    is_int = dt == XSD_INTEGER
    s = num.cast("string")
    # double-path results can carry xsd:decimal dt (inexact-operand
    # fallback): their lexical form must not use E-notation, which is
    # invalid for xsd:decimal — rewrite through decimal when the plain
    # double string would (out-of-range values keep the double string:
    # unrepresentable either way, like the reference's 20-digit cap)
    dec_fix = (dt == XSD_DECIMAL) & s.contains("E")
    # XSD lexical space spells the specials INF/-INF (Java doubles print
    # "Infinity")
    s = F.when(s == "Infinity", F.lit("INF")).when(
        s == "-Infinity", F.lit("-INF")
    ).otherwise(s)
    # computed doubles/floats render like the reference's fs_value: C
    # "%f" plus C's special spellings (filter-datatypes.c fs_value via
    # printf; output_text then appends "e0" when the lexical carries no
    # exponent, results.c:2105-2112). Java's E-notation cast string
    # ("1.23E9") would defeat that append rule byte-for-byte.
    is_dbl = (dt == XSD_DOUBLE) | (dt == XSD_FLOAT)
    dbl_lex = (
        F.when(F.isnan(num), F.lit("nan"))
        .when(num == F.lit(float("inf")), F.lit("inf"))
        .when(num == F.lit(float("-inf")), F.lit("-inf"))
        .otherwise(F.format_string("%f", num))
    )
    lex = (
        F.when(is_int, num.cast("long").cast("string"))
        .when(dec_fix, F.coalesce(_dec_lex(num.try_cast(_DEC_T)), s))
        .when(is_dbl, dbl_lex)
        .otherwise(s)
    )
    return term_struct(F.lit(KIND_LITERAL), lex, dt, _NULL_S(), num)


def make_datetime(ts: Column, dt: str = XSD_DATETIME) -> Column:
    fmt = "yyyy-MM-dd" if dt == XSD_DATE else "yyyy-MM-dd'T'HH:mm:ss"
    return term_struct(
        F.lit(KIND_LITERAL), F.date_format(ts, fmt), F.lit(dt), _NULL_S(), _NULL_D()
    )


def const_term(t) -> Column:
    """Constant Iri/Literal -> term struct (const_literal_to_rid,
    src/frontend/query.c:2015-2077, minus the hashing)."""
    if isinstance(t, (A.Iri, A.Literal)):
        return const_term_col(term_row(t))
    raise TypeError(f"not a constant term: {t!r}")


# --------------------------------------------------------------- helpers
def _is_lit(t: Column) -> Column:
    return t["kind"] == KIND_LITERAL


def _ts(t: Column) -> Column:
    """Temporal literal -> timestamp (reference keeps epoch seconds,
    src/frontend/filter-datatypes.h:51)."""
    return F.when(
        t["dt"].isin(XSD_DATETIME, XSD_DATE), F.try_to_timestamp(t["lex"])
    ).otherwise(F.lit(None).cast("timestamp"))


def _string_like(t: Column) -> Column:
    """plain literal or xsd:string (fn 'simple literal or string')."""
    return _is_lit(t) & (t["dt"].isNull() | (t["dt"] == XSD_STRING)) & t["lang"].isNull()


# ------------------------------------------------- exact decimal support
# The reference carries xsd:decimal as 20+20-digit fixed point
# (src/frontend/decimal.h:6-18, decimal.c). The term struct's o_num DOUBLE
# loses precision past 2^53, so integer/decimal operands additionally
# evaluate through DECIMAL(38,18) parsed from the lexical form (SURVEY
# §1.3 accepts the 38-digit delta vs the reference's 40). Floats/doubles
# stay on the double path — binary datatypes must NOT pick up spurious
# exactness.
_EXACT_DTS = sorted(NUMERIC_DATATYPES - {XSD_DOUBLE, XSD_FLOAT})

_DEC_T = "decimal(38,18)"
# mid-precision operand window for * and /: values round-tripping through
# (18,9) multiply exactly at (37,18) and divide at (38,20) under Spark's
# decimal result-type rules (see the EArith ladder)
_DEC_MID = "decimal(18,9)"


def _let(col: Column, fn) -> Column:
    """Bind ``col`` once and use it many times — Column expressions are
    TREES, so referencing a compiled subexpression k times clones its
    whole subtree k times and nested arithmetic goes exponential (depth 3
    of the old inline EArith OOMed the analyzer). transform()'s lambda
    variable is Catalyst's only 'let': the child appears once in the
    array, every use inside the lambda is a variable reference."""
    return F.transform(F.array(col), fn)[0]


def _bind(node, col: Column, fn) -> Column:
    """_let, but only for COMPOUND algebra nodes. A plain variable or
    constant is a tiny compiled tree, so inlining keeps the compiled
    shape Catalyst already optimizes (filter pushdown, constant
    folding). Everything else gets the let-binding: the arithmetic /
    comparison / call bodies reference their operands ~6-10x, so even
    one inlined compound level multiplies compiled size by that factor
    and nesting compounds it exponentially (a size-threshold variant was
    tried and still blew up — the growth is in COMPILED size, not
    algebra size). Nested lambdas cost analyzer Resolution iterations;
    SparqlEngine raises spark.sql.analyzer.maxIterations to cover deep
    towers."""
    if isinstance(node, (A.EVar, A.EConst)):
        return fn(col)
    return _let(col, fn)


def _is_exact(t: Column) -> Column:
    return _is_lit(t) & t["dt"].isin(_EXACT_DTS)


def _dec(t: Column) -> Column:
    """Lexical form as DECIMAL(38,18); NULL when unparseable/overflow
    (try_cast: ANSI mode must not turn malformed data into a query
    crash — SPARQL maps it to the error value)."""
    return t["lex"].try_cast(_DEC_T)


def _dec_lex(d: Column) -> Column:
    """Canonical xsd:decimal lexical form of a decimal column: strip the
    cast's trailing fractional zeros (and a bare trailing point)."""
    s = d.cast("string")
    has_frac = s.contains(".")
    trimmed = F.regexp_replace(
        F.regexp_replace(s, r"0+$", ""), r"\.$", ""
    )
    return F.when(has_frac, trimmed).otherwise(s)


def make_num_dec(d: Column, dt: Column) -> Column:
    """Term struct for an exact (integer/decimal) arithmetic result: the
    lexical form keeps full decimal precision, num carries the double
    approximation for downstream mixed-type math."""
    is_int = dt == XSD_INTEGER
    lex = F.when(
        is_int, d.try_cast("decimal(38,0)").cast("string")
    ).otherwise(_dec_lex(d))
    return term_struct(
        F.lit(KIND_LITERAL), lex, dt, _NULL_S(), d.cast("double")
    )


def _plainish(t: Column) -> Column:
    """literal usable in string fns: plain, xsd:string, or lang-tagged."""
    return _is_lit(t) & (t["dt"].isNull() | (t["dt"] == XSD_STRING))


def ebv(t: Column) -> Column:
    """Effective boolean value (fn_ebv, src/frontend/filter.c:1356).
    Returns a BooleanColumn; error -> NULL (row dropped by where())."""
    return (
        F.when(t.isNull(), F.lit(None).cast("boolean"))
        .when(_is_lit(t) & (t["dt"] == XSD_BOOLEAN), t["lex"] == "true")
        .when(t["num"].isNotNull(), (t["num"] != 0.0) & ~F.isnan(t["num"]))
        .when(_plainish(t), F.length(t["lex"]) > 0)
        .otherwise(F.lit(None).cast("boolean"))
    )


# ------------------------------------------------------ comparison logic
def _compare(op: str, lt: Column, rt: Column) -> Column:
    """SPARQL operator mapping (fn_equal/fn_less_than etc.,
    src/frontend/filter.c:526-921): numeric promotion, datetime compare,
    string compare, URI equality; incomparable -> error (NULL)."""
    both_num = lt["num"].isNotNull() & rt["num"].isNotNull()
    both_time = lt["dt"].isin(XSD_DATETIME, XSD_DATE) & rt["dt"].isin(
        XSD_DATETIME, XSD_DATE
    )
    both_str = _plainish(lt) & _plainish(rt) & (lt["lang"].eqNullSafe(rt["lang"]))
    both_bool = (lt["dt"] == XSD_BOOLEAN) & (rt["dt"] == XSD_BOOLEAN)

    def cmp(a: Column, b: Column) -> Column:
        if op == "=":
            return a == b
        if op == "!=":
            return a != b
        if op == "<":
            return a < b
        if op == ">":
            return a > b
        if op == "<=":
            return a <= b
        return a >= b

    # integer/decimal pairs compare exactly through DECIMAL(38,18) (the
    # reference's fixed-point compare, decimal.c); doubles would collapse
    # values differing past ~15 significant digits
    ld, rd = _dec(lt), _dec(rt)
    both_exact = (
        _is_exact(lt) & _is_exact(rt) & ld.isNotNull() & rd.isNotNull()
    )
    res = (
        F.when(both_exact, cmp(ld, rd))
        .when(both_num, cmp(lt["num"], rt["num"]))
        .when(both_time, cmp(_ts(lt), _ts(rt)))
        .when(both_bool, cmp(lt["lex"] == "true", rt["lex"] == "true"))
        .when(both_str, cmp(lt["lex"], rt["lex"]))
    )
    if op in ("=", "!="):
        same_kind_nonlit = (lt["kind"] == rt["kind"]) & (lt["kind"] != KIND_LITERAL)
        eq_nonlit = lt["lex"] == rt["lex"]
        res = res.when(same_kind_nonlit, eq_nonlit if op == "=" else ~eq_nonlit)
        # same-typed literals: term equality as last resort (fn_rdfterm_equal)
        same_dt = lt["dt"].eqNullSafe(rt["dt"]) & lt["lang"].eqNullSafe(rt["lang"])
        both_lit = _is_lit(lt) & _is_lit(rt)
        res = res.when(
            both_lit & same_dt,
            (lt["lex"] == rt["lex"]) if op == "=" else (lt["lex"] != rt["lex"]),
        )
        # kind mismatch (URI vs literal vs bnode): '=' is false, '!=' true
        # (fn_equal filter.c:560 / fn_not_equal filter.c:589-593), not error
        res = res.when(lt["kind"] != rt["kind"], F.lit(op == "!="))
    return res.otherwise(F.lit(None).cast("boolean"))


def _same_term(lt: Column, rt: Column) -> Column:
    return (
        (lt["kind"] == rt["kind"])
        & (lt["lex"] == rt["lex"])
        & lt["dt"].eqNullSafe(rt["dt"])
        & lt["lang"].eqNullSafe(rt["lang"])
    )


# ------------------------------------------------------ numeric promote
_PROMO = {XSD_INTEGER: 0, XSD_DECIMAL: 1, XSD_FLOAT: 2, XSD_DOUBLE: 3}


def _promoted_dt(ldt: Column, rdt: Column, is_div: bool) -> Column:
    """Numeric type promotion ladder (fn_numeric_add,
    src/frontend/filter.c:420-523): integer < decimal < float < double;
    '/' on integers yields decimal."""
    def rank(dt: Column) -> Column:
        return (
            F.when(dt == XSD_DOUBLE, 3)
            .when(dt == XSD_FLOAT, 2)
            .when(dt == XSD_DECIMAL, 1)
            .otherwise(0)
        )

    mx = F.greatest(rank(ldt), rank(rdt))
    out = (
        F.when(mx == 3, XSD_DOUBLE)
        .when(mx == 2, XSD_FLOAT)
        .when(mx == 1, XSD_DECIMAL)
        .otherwise(XSD_INTEGER)
    )
    if is_div:
        out = F.when(out == XSD_INTEGER, XSD_DECIMAL).otherwise(out)
    return out


# --------------------------------------------------------------- compiler
class ExprContext:
    """Resolution environment: variable -> term-struct Column, plus
    pre-computed aggregate columns (see translator grouping)."""

    def __init__(self, resolve_var=None, agg_map: dict | None = None):
        self._resolve = resolve_var or (lambda name: F.col(name))
        self.agg_map = agg_map or {}
        self.columns: set[str] | None = None  # known vars, None = unknown
        self.base = ""  # prologue BASE for IRI(expr) resolution

    def var(self, name: str) -> Column:
        if self.columns is not None and name not in self.columns:
            return null_term()  # unbound everywhere
        return self._resolve(name)


def agg_key(e: A.EAggregate) -> str:
    return repr(e)


def compile_bool(e, ctx: ExprContext) -> Column:
    """Compile an expression used in boolean position (FILTER/HAVING/join
    condition) straight to a BooleanColumn.

    Skips the make_bool->struct->ebv round-trip that compile_expr+ebv
    would produce: on nested &&/||/! trees that round-trip multiplies the
    expression size several-fold per level, and Catalyst analysis time on
    the resulting CASE forest dominated query *planning* (measured 14 s
    planning / 3 s execution on a two-comparison FILTER). Spark's 3VL
    AND/OR matches fn_logical_and/or error semantics (filter.c:934-963)."""
    if isinstance(e, A.EAnd):
        out = compile_bool(e.args[0], ctx)
        for a in e.args[1:]:
            out = out & compile_bool(a, ctx)
        return out
    if isinstance(e, A.EOr):
        out = compile_bool(e.args[0], ctx)
        for a in e.args[1:]:
            out = out | compile_bool(a, ctx)
        return out
    if isinstance(e, A.EUnary) and e.op == "!":
        return ~compile_bool(e.arg, ctx)
    if isinstance(e, A.ECompare):
        # _compare references each side ~6x: let-bind computed operands
        # (simple var/const sides stay inline for filter pushdown)
        return _bind(
            e.left,
            compile_expr(e.left, ctx),
            lambda lt: _bind(
                e.right,
                compile_expr(e.right, ctx),
                lambda rt: _compare(e.op, lt, rt),
            ),
        )
    if isinstance(e, A.EIn):
        # _bind like compile_expr's EIn: _compare references the tested
        # term ~6x per option, so an inlined compound operand multiplies
        # compiled size ~6*|options|x per nesting level (caught by
        # tests/test_plan_size.py's `in` tower)
        def _in_bool_body(t):
            out = F.lit(False)
            for o in e.options:
                out = out | _compare("=", t, compile_expr(o, ctx))
            return ~out if e.negated else out

        return _bind(e.expr, compile_expr(e.expr, ctx), _in_bool_body)
    return ebv(compile_expr(e, ctx))


def compile_expr(e, ctx: ExprContext) -> Column:
    if isinstance(e, A.EVar):
        return ctx.var(e.name)
    if isinstance(e, A.EConst):
        return const_term(e.term)
    if isinstance(e, A.EAggregate):
        k = agg_key(e)
        if k not in ctx.agg_map:
            raise ValueError("aggregate used outside aggregation context")
        return ctx.agg_map[k]
    if isinstance(e, (A.EOr, A.EAnd)):
        # SPARQL 3VL (fn_logical_and/or, filter.c:934-963). Route through
        # compile_bool even in VALUE position: the naive
        # ebv(struct)->struct round-trip multiplies the expression tree
        # ~8-16x per nesting level — IF(a && b, ...) over two comparison
        # terms was measured to exhaust the driver heap at plan
        # construction before this reuse.
        return make_bool(compile_bool(e, ctx))
    if isinstance(e, A.ECompare):
        # same operand let-binding as compile_bool's ECompare branch
        return make_bool(compile_bool(e, ctx))
    if isinstance(e, A.EIn):
        def _in_body(t):
            # t is let-bound: the tested expression would otherwise be
            # cloned once per IN option (see _let)
            conds = [
                _compare("=", t, compile_expr(o, ctx)) for o in e.options
            ]
            out = conds[0] if conds else F.lit(False)
            for c in conds[1:]:
                out = out | c
            return make_bool(~out if e.negated else out)

        return _bind(e.expr, compile_expr(e.expr, ctx), _in_body)
    if isinstance(e, A.EArith):
        return _bind(
            e.left,
            compile_expr(e.left, ctx),
            lambda lt: _bind(
                e.right,
                compile_expr(e.right, ctx),
                lambda rt: _arith_body(e, lt, rt),
            ),
        )
    if isinstance(e, A.EUnary):
        if e.op == "!":
            # same tree-size rationale as EAnd/EOr above
            return make_bool(~compile_bool(e.arg, ctx))
        # _bind, exactly like EArith: the bodies below reference the
        # operand struct 3-8x (make_num alone references num/dt ~14x),
        # so an inlined compound operand multiplies compiled size per
        # nesting level — depth-4 `-(-(-(-8)))` OOMed the analyzer
        if e.op == "-":
            return _bind(
                e.arg,
                compile_expr(e.arg, ctx),
                lambda t: F.when(
                    t["num"].isNotNull(), make_num(-t["num"], t["dt"])
                ).otherwise(null_term()),
            )
        return _bind(
            e.arg,
            compile_expr(e.arg, ctx),
            lambda t: F.when(t["num"].isNotNull(), t).otherwise(null_term()),
        )
    if isinstance(e, A.ECall):
        return _compile_call(e, ctx)
    if isinstance(e, A.EExists):
        raise NotImplementedError(
            "EXISTS is handled by the translator's filter rewrite"
        )
    raise TypeError(f"cannot compile expression {e!r}")


def _arith_body(e, lt: Column, rt: Column) -> Column:
    """EArith result from let-bound operand term structs (see _let)."""
    ln, rn = lt["num"], rt["num"]
    if e.op == "+":
        num = ln + rn
    elif e.op == "-":
        num = ln - rn
    elif e.op == "*":
        num = ln * rn
    else:
        num = F.when(rn != 0.0, ln / rn)  # div-by-zero -> error
    dt = _promoted_dt(lt["dt"], rt["dt"], e.op == "/")
    # exact path: integer/decimal operands compute in DECIMAL(38,18)
    # (fn_numeric_add's decimal branch -> fs_decimal ops, decimal.c);
    # the result's lexical form keeps the full precision a double
    # would destroy. Falls back to the double path on overflow (NULL
    # from the decimal op) — documented 38-digit delta vs 20+20.
    # try_* ops: decimal overflow degrades to NULL (-> double path),
    # never an ANSI runtime error aborting the whole query
    ld, rd = _dec(lt), _dec(rt)
    both_exact = (
        _is_exact(lt) & _is_exact(rt) & ld.isNotNull() & rd.isNotNull()
    )
    if e.op in ("+", "-"):
        # (38,18) ± (38,18) keeps scale 17-18 — effectively exact
        dnum = (F.try_add if e.op == "+" else F.try_subtract)(ld, rd)
        return (
            F.when(both_exact & dnum.isNotNull(), make_num_dec(dnum, dt))
            .when(num.isNotNull(), make_num(num, dt))
            .otherwise(null_term())
        )
    # Multiplication and division at maxed operand precision collapse
    # Spark's result scale to 6 (decimal(38,18) ops → decimal(38,6)):
    # 0.0000001*0.0000001 would become 0 and 1/3 would become
    # 0.333333. Ladder instead:
    #  1. operands that round-trip through DECIMAL(18,9) — virtually
    #     all real data — multiply exactly at (37,18) and divide at
    #     (38,20): a 20-fraction-digit fixed-point quotient, the same
    #     truncation point as the reference's 20+20 fs_decimal
    #     (decimal.h:6-18);
    #  2. otherwise the (38,18) computation, accepted only when
    #     provably exact (integral product / quotient that multiplies
    #     back to the dividend);
    #  3. otherwise the double path (~16 significant digits beat a
    #     6-fraction-digit fixed point).
    lm, rm = lt["lex"].try_cast(_DEC_MID), rt["lex"].try_cast(_DEC_MID)
    mid_ok = (
        lm.isNotNull()
        & rm.isNotNull()
        & (lm.cast(_DEC_T) == ld)
        & (rm.cast(_DEC_T) == rd)
    )
    if e.op == "*":
        mnum = F.try_multiply(lm, rm)
        dnum = F.try_multiply(ld, rd)

        def fits(d, k):
            # value has <= k fraction digits (try_cast rounds, so the
            # round-trip only survives when nothing was cut)
            return d == d.try_cast(f"decimal(38,{k})").cast(_DEC_T)

        # the (38,6)-scale product is exact iff the operands' fraction
        # digits sum to <= 6; cover that with the three cheap windows
        # 3+3, 0+6 and 6+0 (big-integer x money-scale cases — operands
        # too wide for the mid window but still exact at scale 6)
        frac_ok = (
            (fits(ld, 3) & fits(rd, 3))
            | (fits(ld, 0) & fits(rd, 6))
            | (fits(ld, 6) & fits(rd, 0))
        )
        hi_ok = both_exact & frac_ok & dnum.isNotNull()
    else:
        mnum = F.when(rm != 0, F.try_divide(lm, rm))
        dnum = F.when(rd != 0, F.try_divide(ld, rd))
        hi_ok = (
            both_exact
            & dnum.isNotNull()
            & (F.try_multiply(dnum, rd) == ld)
        )
    return (
        F.when(both_exact & mid_ok & mnum.isNotNull(), make_num_dec(mnum, dt))
        .when(hi_ok, make_num_dec(dnum, dt))
        # gate on the RESULT, not the operands: division by zero has
        # both operands bound but a null result, and must surface as a
        # proper unbound (null struct), never a literal with null num
        .when(num.isNotNull(), make_num(num, dt))
        .otherwise(null_term())
    )


def _numeric_fn(t: Column, f) -> Column:
    return F.when(t["num"].isNotNull(), make_num(f(t["num"]), t["dt"])).otherwise(
        null_term()
    )


def _dec_out_lex(r: Column) -> Column:
    """fs_decimal_to_lex shape (reference decimal.c): minimal fraction
    but always at least one fractional digit — FLOOR(1234567890.23) is
    "1234567890.0", ABS(0000.0004999000) is "0.0004999"."""
    s = r.cast(_DEC_T).cast("string")  # scale-18 render: always has '.'
    s = F.regexp_replace(s, r"0+$", "")
    return F.when(s.endswith("."), F.concat(s, F.lit("0"))).otherwise(s)


def _finite_guard(f):
    """ceil/floor/round pass NaN/±inf through untouched (C math.h
    semantics; Spark's floor/ceil go through LONG and overflow), and
    likewise any |x| >= 2^53: every such double is already integral, and
    the LONG detour would clamp it to 9.22e18."""

    def g(c):
        return F.when(
            F.isnan(c) | (F.abs(c) >= F.lit(9007199254740992.0)), c
        ).otherwise(f(c))

    return g


_DBL_ROUND_OPS = {
    "ABS": F.abs,
    # XPath fn:ceiling returns NEGATIVE zero for arguments in (-1, 0)
    # (and DuckDB's CEIL(double) agrees); Spark's F.ceil returns LONG,
    # which cannot carry the sign — so for negative inputs compute
    # ceil(x) = -floor(-x) with the negation applied AFTER the double
    # cast, preserving -0.0.
    "CEIL": _finite_guard(
        lambda c: F.when(c < 0, -(F.floor(-c).cast("double"))).otherwise(
            F.ceil(c).cast("double")
        )
    ),
    "FLOOR": _finite_guard(lambda c: F.floor(c).cast("double")),
    # XPath fn:round: ties round toward POSITIVE infinity
    # (round(-2.5) = -2), unlike the reference's C round()
    # half-away-from-zero (filter.c:328) — the spec wins here.
    # floor(x + 0.5) implements it; the negative branch goes through
    # -abs(...) so results in [-0.5, 0) keep the sign as -0.0.
    "ROUND": _finite_guard(
        lambda c: F.when(
            c < 0, -F.abs(F.floor(c + F.lit(0.5)).cast("double"))
        ).otherwise(F.round(c, 0))
    ),
}


def _numeric_round_fn(name: str, t: Column) -> Column:
    """ABS/CEIL/FLOOR/ROUND with the reference's per-type semantics:

    - integer: exact (fn_numeric_abs negates the int64, filter.c:231;
      ceil/floor/round return the operand UNTOUCHED, lexical included,
      filter.c:252-254);
    - decimal: exact fixed-point via DECIMAL(38,18), fs_decimal_to_lex
      render;
    - float/double: IEEE math on num (lexical %f per fill_lexical; a
      SELECT-expression projection re-renders it %g — see reg_lex_term).
    """
    d = _dec(t)  # lexical as DECIMAL(38,18); NULL when unparseable
    is_int = _is_lit(t) & (t["dt"] == XSD_INTEGER) & d.isNotNull()
    is_dec = _is_lit(t) & (t["dt"] == XSD_DECIMAL) & d.isNotNull()
    if name == "ABS":
        dec_r = F.abs(d)
        int_term = term_struct(
            F.lit(KIND_LITERAL),
            F.abs(d).cast("decimal(38,0)").cast("string"),
            F.lit(XSD_INTEGER),
            _NULL_S(),
            F.abs(t["num"]),
        )
    else:
        if name == "CEIL":
            dec_r = F.ceil(d).cast(_DEC_T)
        elif name == "FLOOR":
            dec_r = F.floor(d).cast(_DEC_T)
        else:  # ROUND, ties toward +inf
            dec_r = F.floor(d + F.lit(0.5)).cast(_DEC_T)
        int_term = t  # integers pass through whole, lexical intact
    dec_term = term_struct(
        F.lit(KIND_LITERAL),
        _dec_out_lex(dec_r),
        F.lit(XSD_DECIMAL),
        _NULL_S(),
        dec_r.cast("double"),
    )
    return (
        F.when(is_int, int_term)
        .when(is_dec, dec_term)
        .otherwise(_numeric_fn(t, _DBL_ROUND_OPS[name]))
    )


def g_lex(num: Column) -> Column:
    """C printf %g of a double column: 6 significant digits, trailing
    zeros stripped, scientific form with a signed >=2-digit exponent
    outside [1e-4, 1e6), C spellings for the specials. This is how the
    reference renders computed float/double SELECT expressions whose
    fs_value carries no lexical (fs_value_to_row, results.c:2941,2952);
    BIND-bound values instead got "%f" at bind time
    (fs_value_fill_lexical, filter-datatypes.c:543 — make_num here).
    """
    e = F.format_string("%.5e", num)  # rounds to 6 significant digits
    mant = F.regexp_replace(
        F.split_part(e, F.lit("e"), F.lit(1)), r"\.?0+$", ""
    )
    exp = F.split_part(e, F.lit("e"), F.lit(2)).cast("int")
    sci = F.concat(
        mant,
        F.lit("e"),
        F.when(exp < 0, F.lit("-")).otherwise(F.lit("+")),
        F.lpad(F.abs(exp).cast("string"), 2, "0"),
    )
    # positional branch (-4 <= exp < 6): %.{5-exp}f then strip the
    # trailing fractional zeros (never integer digits)
    pos = None
    for k in range(-4, 6):
        b = F.format_string(f"%.{5 - k}f", num)
        pos = F.when(exp == k, b) if pos is None else pos.when(exp == k, b)
    pos = F.when(
        pos.contains("."),
        F.regexp_replace(F.regexp_replace(pos, r"0+$", ""), r"\.$", ""),
    ).otherwise(pos)
    return (
        F.when(F.isnan(num), F.lit("nan"))
        .when(num == F.lit(float("inf")), F.lit("inf"))
        .when(num == F.lit(float("-inf")), F.lit("-inf"))
        .when((exp >= -4) & (exp < 6), pos)
        .otherwise(sci)
    )


# expression shapes whose reference evaluation leaves fs_value.lex NULL
# (numeric computation): a SELECT-expression projection of one of these
# re-renders float/double lexicals with %g (see g_lex)
_NUMERIC_CALLS = {"ABS", "CEIL", "FLOOR", "ROUND", "SQRT"}


def is_computed_numeric(e) -> bool:
    if isinstance(e, A.EArith):
        return True
    if isinstance(e, A.EUnary) and e.op in ("+", "-"):
        return True
    return isinstance(e, A.ECall) and e.name in _NUMERIC_CALLS


def reg_lex_term(t: Column) -> Column:
    """Rewrite a computed numeric term's float/double lexical to %g for
    SELECT-expression output position (fs_value_to_row parity).

    The whole rewrite runs under a _let: it references the operand ~20
    times (g_lex alone fans the num column into every %g branch), and
    the operand here is a FULL compiled select-expression tree — inline
    references would clone it per use and the analyzer melts on one
    nesting level."""

    def body(tt: Column) -> Column:
        needs = (
            _is_lit(tt)
            & tt["dt"].isin([XSD_DOUBLE, XSD_FLOAT])
            & tt["num"].isNotNull()
        )
        return F.when(
            needs,
            term_struct(
                tt["kind"], g_lex(tt["num"]), tt["dt"], tt["lang"], tt["num"]
            ),
        ).otherwise(tt)

    return _let(t, body)


def _compile_call(e: A.ECall, ctx: ExprContext) -> Column:
    name = e.name
    if name == "IF":
        # the condition is a boolean-position expression: compile it with
        # compile_bool (EBV semantics, error -> NULL -> else-is-skipped
        # branch below) instead of the struct round-trip, which doubles a
        # potentially huge condition tree (see EAnd/EOr in compile_expr)
        thenv = compile_expr(e.args[1], ctx)
        elsev = compile_expr(e.args[2], ctx)
        # bind the condition: when(cond).when(~cond) references it
        # twice, which doubles the tree per IF nesting level (see _bind)
        return _bind(
            e.args[0],
            compile_bool(e.args[0], ctx),
            lambda c: F.when(c, thenv).when(~c, elsev).otherwise(null_term()),
        )
    # let-bind each COMPLEX argument once (simple vars/constants stay
    # inline so filter shapes and pushdown are unchanged): every branch
    # below references its args several times, which otherwise clones
    # the argument subtree per use and nests exponentially (see _let)
    cols = [compile_expr(a, ctx) for a in e.args]

    def _go(i, acc):
        if i == len(cols):
            return _call_body(name, acc, ctx.base)

        # single-parameter closure: transform() passes (element, index)
        # to two-parameter lambdas, which would clobber a default-arg i
        def step(c):
            return _go(i + 1, acc + [c])

        return _bind(e.args[i], cols[i], step)

    return _go(0, [])


def _resolve_iri_col(lex: Column, base: str) -> Column:
    """Resolve a per-row (possibly relative) IRI reference against the
    query's constant BASE — RFC 3986 reference targets, with the base
    split driver-side (no UDF): scheme-carrying refs pass through;
    //authority, /absolute-path, ?query-only, #fragment-only, empty
    (same-document) and relative-path refs take the corresponding base
    prefix — mirroring model.resolve_iri. Dot-segment
    normalization ("../", "./") is NOT applied (known divergence from
    urljoin, documented on model.resolve_iri too): IRI("../x") keeps
    the literal segments."""
    if not base:
        return lex
    import re as _re

    m = _re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*):(//[^/?#]*)?", base)
    scheme = (m.group(1) + ":") if m else ""
    authority = (m.group(2) or "") if m else ""
    path = base[len(scheme) + len(authority):].split("#", 1)[0]
    path = path.split("?", 1)[0]
    cut = path.rfind("/")
    dir_ = (
        base[: len(scheme) + len(authority) + cut + 1]
        if cut >= 0
        else base + "/"
    )
    no_frag = base.split("#", 1)[0]
    # query-only refs replace the base query but KEEP the base path
    no_query = no_frag.split("?", 1)[0]
    has_scheme = lex.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*:")
    return (
        F.when(has_scheme, lex)
        .when(lex.startswith("//"), F.concat(F.lit(scheme), lex))
        .when(lex.startswith("/"), F.concat(F.lit(scheme + authority), lex))
        .when(lex.startswith("?"), F.concat(F.lit(no_query), lex))
        .when(lex.startswith("#"), F.concat(F.lit(no_frag), lex))
        # empty ref = same-document reference: base minus fragment
        .when(lex == "", F.lit(no_frag))
        .otherwise(F.concat(F.lit(dir_), lex))
    )


def _call_body(name: str, args: list, base: str = "") -> Column:
    # -- casts: xsd:TYPE(expr) arrives with the full datatype IRI as name
    # (fn_cast, src/frontend/filter.c:1335)
    if name.startswith(XSD):
        return _compile_cast(name, args[0])

    a0 = args[0] if args else None

    if name == "STR":  # fn_str, filter.c:1068
        # a DATE-ONLY xsd:dateTime re-renders with midnight appended:
        # fs_value_datetime_from_string's strptime("%Y-%m-%d") fallback
        # drops the lexical (filter-datatypes.c:265-271, unlike the
        # iso8601 branch which keeps it), so fill_lexical rebuilds
        # "%Y-%m-%dT%H:%M:%S" from the epoch. Stored projections (no
        # expression) keep their bytes — this only fires inside STR().
        lex = F.when(
            (a0["dt"] == XSD_DATETIME)
            & a0["lex"].rlike(r"^\d{4}-\d{2}-\d{2}$"),
            F.concat(a0["lex"], F.lit("T00:00:00")),
        ).otherwise(a0["lex"])
        return F.when(
            a0.isNotNull() & (a0["kind"] != KIND_BNODE), make_string(lex)
        ).otherwise(null_term())
    if name in ("IRI", "URI"):
        # spec 17.4.2.6: a string argument resolves against the base IRI;
        # an IRI argument passes through unchanged
        # an IRI breaking the IRI rule is unbound
        iri = F.when(a0["kind"] == KIND_URI, a0["lex"]).when(
            _string_like(a0), _resolve_iri_col(a0["lex"], base)
        )
        return F.when(iri_ok(iri), make_uri(iri)).otherwise(null_term())
    if name == "BNODE":
        if args:
            # BNODE(expr) — spec 17.4.2.9: the same argument within the
            # SAME solution row maps to the same blank node, different
            # rows get distinct ones: hash (lexical arg, row position)
            lex = F.concat(
                F.lit("_:gen"),
                F.abs(
                    F.xxhash64(a0["lex"], F.monotonically_increasing_id())
                ).cast("string"),
            )
            return F.when(
                _string_like(a0),
                term_struct(
                    F.lit(KIND_BNODE), lex, _NULL_S(), _NULL_S(), _NULL_D()
                ),
            ).otherwise(null_term())
        lex = F.concat(F.lit("_:gen"), F.abs(F.xxhash64(F.rand())).cast("string"))
        return term_struct(F.lit(KIND_BNODE), lex, _NULL_S(), _NULL_S(), _NULL_D())
    if name == "LANG":  # fn_lang, filter.c:1130 — non-literal is an error
        return F.when(
            _is_lit(a0), make_string(F.coalesce(a0["lang"], F.lit("")))
        ).otherwise(null_term())
    if name == "DATATYPE":  # fn_datatype, filter.c:1177
        # language-tagged literals have datatype rdf:langString (RDF 1.1
        # namespace, NOT xsd:)
        dt = F.when(
            a0["lang"].isNotNull(),
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
        ).otherwise(F.coalesce(a0["dt"], F.lit(XSD_STRING)))
        return F.when(_is_lit(a0), make_uri(dt)).otherwise(null_term())
    if name == "BOUND":  # fn_bound, filter.c:1015
        return make_bool(a0.isNotNull())
    if name in ("ISIRI", "ISURI"):
        return F.when(a0.isNotNull(), make_bool(a0["kind"] == KIND_URI)).otherwise(null_term())
    if name == "ISBLANK":
        return F.when(a0.isNotNull(), make_bool(a0["kind"] == KIND_BNODE)).otherwise(null_term())
    if name == "ISLITERAL":
        return F.when(a0.isNotNull(), make_bool(_is_lit(a0))).otherwise(null_term())
    if name == "ISNUMERIC":
        return F.when(a0.isNotNull(), make_bool(a0["num"].isNotNull())).otherwise(null_term())
    if name == "SAMETERM":
        return make_bool(_same_term(a0, args[1]))
    if name == "COALESCE":
        return F.coalesce(*args)
    if name == "STRLANG":
        return F.when(
            _string_like(a0) & _string_like(args[1]) & lang_ok(args[1]["lex"]),
            make_string(a0["lex"], F.lower(args[1]["lex"])),
        ).otherwise(null_term())
    if name == "STRDT":
        return F.when(
            _string_like(a0) & (args[1]["kind"] == KIND_URI),
            _retyped(a0["lex"], args[1]["lex"]),
        ).otherwise(null_term())

    # ---- strings (filter.c:1380-1668)
    if name == "STRLEN":
        return F.when(_plainish(a0), make_num(F.length(a0["lex"]).cast("double"), F.lit(XSD_INTEGER))).otherwise(null_term())
    if name == "SUBSTR":
        # fn:substring (spec 17.4.3.3): 1-based positions p with
        # start <= p < start + length — a zero/negative start SHIFTS the
        # window (SUBSTR("hello",0,3)="he"), unlike Spark's substring,
        # where 0 behaves as 1 and negatives count from the end
        start = args[1]["num"].cast("int")
        lo = F.greatest(start, F.lit(1))
        if len(args) >= 3:
            n = start + args[2]["num"].cast("int") - lo
            sub = F.when(n > 0, F.substring(a0["lex"], lo, n)).otherwise(
                F.lit("")
            )
        else:
            sub = F.substring(a0["lex"], lo, F.length(a0["lex"]))
        return F.when(_plainish(a0), make_string(sub, a0["lang"])).otherwise(null_term())
    if name == "UCASE":
        return F.when(_plainish(a0), make_string(F.upper(a0["lex"]), a0["lang"])).otherwise(null_term())
    if name == "LCASE":
        return F.when(_plainish(a0), make_string(F.lower(a0["lex"]), a0["lang"])).otherwise(null_term())
    if name == "CONCAT":
        # fn:concat lang rule (spec 17.4.3.12): all args sharing one
        # language tag -> result keeps it; any mix -> simple literal
        lex = F.concat(*[a["lex"] for a in args])
        same_lang = args[0]["lang"].isNotNull()
        for a in args[1:]:
            same_lang = same_lang & a["lang"].eqNullSafe(args[0]["lang"])
        return make_string(lex, F.when(same_lang, args[0]["lang"]))
    if name == "CONTAINS":
        return make_bool(a0["lex"].contains(args[1]["lex"]))
    if name == "STRSTARTS":
        return make_bool(a0["lex"].startswith(args[1]["lex"]))
    if name == "STRENDS":
        return make_bool(a0["lex"].endswith(args[1]["lex"]))
    if name in ("STRBEFORE", "STRAFTER"):
        # argument compatibility (spec 17.4.3.7): both string-ish, and
        # arg2 either lang-less or same lang as arg1 — else ERROR (the
        # old code returned "" for unbound/non-string args); the result
        # keeps arg1's lang only when a match occurred (STRBEFORE
        # ("abc"@en,"z") is plain "", but ("abc"@en,"") is ""@en)
        compat = (
            _plainish(a0)
            & _plainish(args[1])
            & (args[1]["lang"].isNull() | (args[1]["lang"] == a0["lang"]))
        )
        pos = F.instr(a0["lex"], args[1]["lex"])
        if name == "STRBEFORE":
            out = F.when(
                pos > 0, F.substring(a0["lex"], F.lit(1), pos - 1)
            ).otherwise("")
        else:
            out = F.when(
                pos > 0,
                F.substring(
                    a0["lex"], pos + F.length(args[1]["lex"]),
                    F.length(a0["lex"]),
                ),
            ).otherwise("")
        lang = F.when(pos > 0, a0["lang"]).otherwise(_NULL_S())
        return F.when(compat, make_string(out, lang)).otherwise(null_term())
    if name == "ENCODE_FOR_URI":
        # fn_encode_for_uri (filter.c:1452); url_encode is form-encoding, so
        # fix the space convention ('+' -> '%20')
        return make_string(F.replace(F.url_encode(a0["lex"]), F.lit("+"), F.lit("%20")))
    if name == "REGEX":  # fn_matches, filter.c:1259 (PCRE flags i/s/m/x)
        pat = args[1]["lex"]
        if len(args) >= 3:
            pat = F.concat(F.lit("(?"), args[2]["lex"], F.lit(")"), pat)
        return make_bool(F.regexp_like(a0["lex"], pat))
    if name == "REPLACE":
        # reference errors "not yet implemented" (results.c:379) — we support it
        pat = args[1]["lex"]
        if len(args) >= 4:
            pat = F.concat(F.lit("(?"), args[3]["lex"], F.lit(")"), pat)
        return make_string(F.regexp_replace(a0["lex"], pat, args[2]["lex"]), a0["lang"])
    if name == "LANGMATCHES":  # fn_lang_matches, filter.c:987
        lang = F.lower(a0["lex"])
        rng = F.lower(args[1]["lex"])
        m = F.when(rng == "*", F.length(lang) > 0).otherwise(
            (lang == rng) | lang.startswith(F.concat(rng, F.lit("-")))
        )
        return make_bool(m)

    # ---- numerics (filter.c:185-360): exact on integer/decimal operands
    # (the reference's fn_numeric_* work on int64/fixed-point — a double
    # detour corrupts 19-digit integers), IEEE on float/double
    if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
        return _numeric_round_fn(name, a0)
    if name == "RAND":
        # lexical is %.17f like the reference (fn_rand, filter.c:1679
        # sets v.lex explicitly) — its own test pipeline seds the exact
        # shape 0.\d{17}e0 out of text output
        r = F.rand()
        return term_struct(
            F.lit(KIND_LITERAL),
            F.format_string("%.17f", r),
            F.lit(XSD_DOUBLE),
            _NULL_S(),
            r,
        )

    # ---- dates (filter.c:1486-1577)
    if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES"):
        # components come from the LEXICAL value (spec 17.4.5): converting
        # through a timestamp would rewrite "10:30+02:00" into the session
        # timezone and shift HOURS/DAY. _ts still gates validity.
        pat = {
            "YEAR": r"^(-?\d{4,})-",
            "MONTH": r"^-?\d{4,}-(\d{2})",
            "DAY": r"^-?\d{4,}-\d{2}-(\d{2})",
            "HOURS": r"T(\d{2}):",
            "MINUTES": r"T\d{2}:(\d{2})",
        }[name]
        comp = F.regexp_extract(a0["lex"], pat, 1)
        return F.when(
            _ts(a0).isNotNull() & (comp != ""),
            make_num(comp.cast("double"), F.lit(XSD_INTEGER)),
        ).otherwise(null_term())
    if name == "SECONDS":
        comp = F.regexp_extract(
            a0["lex"], r"T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)", 1
        )
        return F.when(
            _ts(a0).isNotNull() & (comp != ""),
            make_num(comp.cast("double"), F.lit(XSD_DECIMAL)),
        ).otherwise(null_term())
    if name in ("TIMEZONE", "TZ"):
        # Timezone from the datetime's LEXICAL form (the reference leaves
        # TZ unimplemented, results.c:358-360; we implement per SPARQL
        # 17.4.5.7/8). TZ -> simple literal ("Z", "+05:30", "" if absent);
        # TIMEZONE -> xsd:dayTimeDuration, error when no timezone.
        is_temporal = a0["dt"].isin(XSD_DATETIME, XSD_DATE)
        tz = F.regexp_extract(a0["lex"], r"(Z|[+-]\d{2}:\d{2})$", 1)
        if name == "TZ":
            return F.when(is_temporal, make_string(tz)).otherwise(null_term())
        hh = F.substring(tz, 2, 2).cast("int")
        mm = F.substring(tz, 5, 2).cast("int")
        sign = F.when(
            (F.substring(tz, 1, 1) == "-") & ((hh > 0) | (mm > 0)), "-"
        ).otherwise("")
        dur = F.when((tz == "Z") | ((hh == 0) & (mm == 0)), F.lit("PT0S")).otherwise(
            F.concat(
                sign,
                F.lit("PT"),
                F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H"))).otherwise(""),
                F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(""),
            )
        )
        return F.when(
            is_temporal & (tz != ""),
            term_struct(
                F.lit(KIND_LITERAL),
                dur,
                F.lit(XSD + "dayTimeDuration"),
                _NULL_S(),
                _NULL_D(),
            ),
        ).otherwise(null_term())
    if name == "NOW":
        return make_datetime(F.current_timestamp())
    if name == "FROM_UNIXTIME":
        return make_datetime(F.to_timestamp(F.from_unixtime(a0["num"].cast("long"))))
    if name == "TO_UNIXTIME":
        return make_num(F.unix_timestamp(_ts(a0)).cast("double"), F.lit(XSD_INTEGER))

    # ---- hashes / uuids (filter.c:1670-1792)
    if name == "MD5":
        return make_string(F.md5(a0["lex"].cast("binary")))
    if name == "SHA1":
        return make_string(F.sha1(a0["lex"].cast("binary")))
    if name in ("SHA256", "SHA384", "SHA512"):
        # 384/512 error out in the reference (results.c:361-370); we allow
        return make_string(F.sha2(a0["lex"].cast("binary"), int(name[3:])))
    if name == "UUID":
        return make_uri(F.concat(F.lit("urn:uuid:"), F.expr("uuid()")))
    if name == "STRUUID":
        return make_string(F.expr("uuid()"))

    raise NotImplementedError(f"function {name} not implemented")


def _retyped(lex: Column, dt: Column) -> Column:
    return term_struct(F.lit(KIND_LITERAL), lex, dt, _NULL_S(), num_col(lex, dt))


def _compile_cast(dt_iri: str, t: Column) -> Column:
    """xsd:*() constructor casts (fn_cast_intl, filter.c:1315; cast_*
    helpers filter.c:42-183). Invalid input -> error (NULL)."""
    if dt_iri in NUMERIC_DATATYPES:
        # try_cast, not cast: an invalid lexical form ("abc") is a cast
        # ERROR -> unbound, never an ANSI runtime exception killing the job
        src = F.when(t["num"].isNotNull(), t["num"]).when(
            (t["dt"] == XSD_BOOLEAN), F.when(t["lex"] == "true", 1.0).otherwise(0.0)
        ).when(_plainish(t), t["lex"].try_cast("double"))
        if dt_iri == XSD_INTEGER:
            # truncate toward zero (cast_integer, filter.c:128; XPath),
            # not floor: xsd:integer(-2.7) = -2
            src = src.try_cast("long").cast("double")
        return F.when(src.isNotNull(), make_num(src, F.lit(dt_iri))).otherwise(null_term())
    if dt_iri == XSD_BOOLEAN:
        b = (
            F.when(t["dt"] == XSD_BOOLEAN, t["lex"] == "true")
            .when(t["num"].isNotNull(), t["num"] != 0.0)
            .when(t["lex"].isin("true", "1"), F.lit(True))
            .when(t["lex"].isin("false", "0"), F.lit(False))
        )
        return F.when(b.isNotNull(), make_bool(b)).otherwise(null_term())
    if dt_iri == XSD_STRING:
        return F.when(t.isNotNull() & (t["kind"] != KIND_BNODE), make_string(t["lex"])).otherwise(null_term())
    if dt_iri in (XSD_DATETIME, XSD_DATE):
        ts = F.try_to_timestamp(t["lex"])
        return F.when(ts.isNotNull(), make_datetime(ts, dt_iri)).otherwise(null_term())
    raise NotImplementedError(f"cast to {dt_iri} not implemented")
