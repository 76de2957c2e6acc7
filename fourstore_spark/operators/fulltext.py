"""Full-text derived quads: tokenization, Snowball/Porter stemming, and
Double Metaphone phonetic keys.

Parity with the reference's import-time text indexing
(/root/reference/src/frontend/import.c:603-700): predicates configured via
quads in the ``system:config`` graph —

    GRAPH <system:config> { <userPred> fs:index fs:token }    # or fs:stem,
                                                              # fs:dmetaphone

— get derived quads ``(g, s, fs:token, "tok")`` per token of each literal
object. The query side needs no special operator: plain triple patterns on
``fs:token``/``fs:stem``/``fs:dmetaphone`` (rdf-constants.h:46-50) hit the
derived quads like any other predicate.

Spark shapes:
- tokenization is a pure column expression (explode/split/lower) — runs
  inside the scan projection, zero Python;
- stemming and metaphone are Arrow-batched pandas UDFs over the *token*
  column (pure-Python ports of the published Porter and Double Metaphone
  algorithms — independent implementations, not translations of the
  reference's C).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from fourstore_spark.model import KIND_LITERAL, SYSTEM_CONFIG_GRAPH

FS_TEXT = "http://4store.org/fulltext#"
FS_TEXT_INDEX = FS_TEXT + "index"
FS_TEXT_TOKEN = FS_TEXT + "token"
FS_TEXT_DMETAPHONE = FS_TEXT + "dmetaphone"
FS_TEXT_STEM = FS_TEXT + "stem"

# TOKEN_BOUNDARY (import.c:50) as a regex character class
_BOUNDARY_RE = r"""[ \n\t\r!@$%^&*()\-_=+\[\]{};:"\\|<>,./?#]+"""


def tokens_of(lex: Column) -> Column:
    """Lowercased tokens split on the reference's boundary set."""
    return F.filter(
        F.split(F.lower(lex), _BOUNDARY_RE), lambda t: F.length(t) > 0
    )


# ------------------------------------------------------- porter stemmer
def _porter_stem(w: str) -> str:
    """Porter stemming algorithm (M.F. Porter, 1980) — the 'porter'
    libstemmer module (en routes to stemmers.english_stem, Porter2).
    No short-word guard: Snowball porter stems 2-letter words too
    ('as' -> 'a'), oracle-verified (stem_golden_porter.tsv)."""
    w = w.lower()

    def is_cons(word, i):
        c = word[i]
        if c in "aeiou":
            return False
        if c == "y":
            return i == 0 or not is_cons(word, i - 1)
        return True

    def m(stem):
        n = 0
        prev = None
        for i in range(len(stem)):
            cur = "c" if is_cons(stem, i) else "v"
            if prev == "v" and cur == "c":
                n += 1
            prev = cur
        return n

    def has_vowel(stem):
        return any(not is_cons(stem, i) for i in range(len(stem)))

    def ends_double_cons(word):
        return len(word) >= 2 and word[-1] == word[-2] and is_cons(word, len(word) - 1)

    def cvc(word):
        if len(word) < 3:
            return False
        if (
            is_cons(word, len(word) - 3)
            and not is_cons(word, len(word) - 2)
            and is_cons(word, len(word) - 1)
        ):
            return word[-1] not in "wxy"
        return False

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        # classic Porter step 1a: bare *s -> delete, unconditionally
        # (the vowel-refinement lives in Porter2 = stemmers.english_stem)
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if m(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and has_vowel(w[:-2]):
        w = w[:-2]
        flag = True
    elif w.endswith("ing") and has_vowel(w[:-3]):
        w = w[:-3]
        flag = True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif ends_double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif m(w) == 1 and cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    step2 = [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
        ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
        ("ation", "ate"), ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
        ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
        ("iviti", "ive"), ("biliti", "ble"),
    ]
    for suf, rep in step2:
        if w.endswith(suf):
            if m(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 3
    step3 = [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ]
    for suf, rep in step3:
        if w.endswith(suf):
            if m(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 4
    step4 = [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ]
    matched4 = False
    for suf in sorted(step4, key=len, reverse=True):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if m(stem) > 1:
                w = stem
            matched4 = True
            break
    if not matched4 and w.endswith("ion") and len(w) > 3 and w[-4] in "st":
        if m(w[:-3]) > 1:
            w = w[:-3]
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        if m(stem) > 1 or (m(stem) == 1 and not cvc(stem)):
            w = stem
    # step 5b
    if m(w) > 1 and ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


# -------------------------------------------------- double metaphone
_VOWELS = "AEIOUY"


def _dmeta(word: str) -> tuple[str, str]:
    """Double Metaphone (Lawrence Philips, C/C++ Users Journal 2000) —
    independent Python implementation of the published algorithm; covers
    the core consonant rules + primary/alternate codes, max length 4."""
    w = word.upper()
    w = "".join(c for c in w if c.isalpha())
    if not w:
        return "", ""
    pri: list[str] = []
    alt: list[str] = []

    def add(p, a=None):
        pri.append(p)
        alt.append(p if a is None else a)

    i = 0
    n = len(w)
    # initial letter exceptions
    if w[:2] in ("GN", "KN", "PN", "WR", "PS"):
        i = 1
    if w[0] == "X":
        add("S")
        i = 1
    while i < n and len(pri) < 4:
        c = w[i]
        nxt = w[i + 1] if i + 1 < n else ""
        prev = w[i - 1] if i > 0 else ""
        if c in _VOWELS:
            if i == 0:
                add("A")
            i += 1
            continue
        if c == "B":
            add("P")
            i += 2 if nxt == "B" else 1
        elif c == "C":
            if w[i : i + 2] == "CH":
                if i == 0 and w[i : i + 3] != "CHA":
                    add("K", "X")
                else:
                    add("X", "K")
                i += 2
            elif w[i : i + 2] in ("CI", "CE", "CY"):
                add("S")
                i += 2 if nxt == "C" else 1
            else:
                add("K")
                i += 2 if nxt in "CKQ" else 1
        elif c == "D":
            if w[i : i + 2] == "DG":
                if w[i + 2 : i + 3] in ("I", "E", "Y"):
                    add("J")
                    i += 3
                else:
                    add("TK")
                    i += 2
            else:
                add("T")
                i += 2 if nxt in "DT" else 1
        elif c == "F":
            add("F")
            i += 2 if nxt == "F" else 1
        elif c == "G":
            if nxt == "H":
                if i > 0 and prev not in _VOWELS:
                    add("K")
                elif i == 0:
                    add("K" if w[i + 2 : i + 3] != "I" else "J")
                # silent otherwise (e.g. "light")
                i += 2
            elif nxt == "N":
                add("KN", "N")
                i += 2
            elif nxt in ("E", "I", "Y"):
                # "obvious germanic": G before ET (and VAN/VON/SCH-
                # initial words) is hard in BOTH codes — "get" is KT/KT,
                # not JT (double_metaphone.c:653-664)
                if w[i + 1 : i + 3] == "ET" or w[:3] == "SCH":
                    add("K")
                else:
                    add("J", "K")
                i += 2
            else:
                add("K")
                i += 2 if nxt == "G" else 1
        elif c == "H":
            # keep H between vowels / at start before vowel
            if (i == 0 or prev in _VOWELS) and nxt in _VOWELS:
                add("H")
                i += 2
            else:
                i += 1
        elif c == "J":
            if w == "JOSE" or w[:4] == "SAN ":
                add("H")
            else:
                add("J", "A")
            i += 2 if nxt == "J" else 1
        elif c == "K":
            add("K")
            i += 2 if nxt == "K" else 1
        elif c == "L":
            add("L")
            i += 2 if nxt == "L" else 1
        elif c == "M":
            add("M")
            i += 2 if nxt == "M" else 1
        elif c == "N":
            add("N")
            i += 2 if nxt == "N" else 1
        elif c == "P":
            if nxt == "H":
                add("F")
                i += 2
            else:
                add("P")
                i += 2 if nxt in "PB" else 1
        elif c == "Q":
            add("K")
            i += 2 if nxt == "Q" else 1
        elif c == "R":
            add("R")
            i += 2 if nxt == "R" else 1
        elif c == "S":
            if w[i : i + 2] == "SH":
                add("X")
                i += 2
            elif w[i : i + 3] in ("SIO", "SIA"):
                add("S", "X")
                i += 3
            elif w[i : i + 2] in ("SC",) and w[i + 2 : i + 3] in ("I", "E", "Y"):
                add("S")
                i += 3
            else:
                add("S")
                i += 2 if nxt in "SZ" else 1
        elif c == "T":
            if w[i : i + 2] == "TH" or w[i : i + 3] == "TTH":
                if w[i + 2 : i + 4] in ("OM", "AM"):  # Thomas, Thames
                    add("T")
                else:
                    add("0", "T")
                i += 2
            elif w[i : i + 3] in ("TIO", "TIA"):
                add("X")
                i += 3
            else:
                add("T")
                i += 2 if nxt in "TD" else 1
        elif c == "V":
            add("F")
            i += 2 if nxt == "V" else 1
        elif c == "W":
            if nxt in _VOWELS:
                add("W", "F" if i == 0 else "W")
                i += 1
            else:
                i += 1
        elif c == "X":
            add("KS")
            i += 2 if nxt in "CX" else 1
        elif c == "Z":
            add("S", "TS" if nxt == "H" else "S")
            i += 2 if nxt == "Z" else 1
        else:
            i += 1
    p = "".join(pri)[:4]
    a = "".join(alt)[:4]
    return p, a if a != p else ""


# pandas_udf registration needs a live SparkSession — build lazily
_UDF_CACHE: dict = {}

# Worker-process memo for the pure (token, lang) -> stem / token ->
# metaphone functions (r12 opt round, guide §4): the UDFs run per token
# OCCURRENCE, but Zipf repetition makes distinct tokens orders of
# magnitude rarer than occurrences, so the pure-Python stemmer loop is
# mostly recomputing known answers. The dict lives at module level in
# the Python worker, persisting across Arrow batches AND tasks of the
# same worker process. Bounded: cleared when it reaches _MEMO_CAP keys
# (a few tens of MB worst case), so a 100 TB vocabulary can't grow it
# without bound — after a clear it simply re-warms.
_MEMO_CAP = 1 << 20
_STEM_MEMO: dict = {}
_DMETA_MEMO: dict = {}


def lang_stem_udf():
    """(token, lang) -> stem, dispatching per the literal's language tag
    like the reference's buffer_stems (import.c:658-700): en->Porter,
    de/it/ru->the Snowball ports in operators/stemmers.py, no tag->en,
    unknown tag -> NULL (the reference emits NO stem quads there —
    sb_stemmer_new returns NULL)."""
    if "lang_stem" not in _UDF_CACHE:
        from fourstore_spark.operators.stemmers import stemmer_for

        import numpy as np

        @pandas_udf("string")
        def _stem(tokens: pd.Series, langs: pd.Series) -> pd.Series:
            # batch-dedup on the PAIR key (r13, guide §4.2, the
            # dmetaphone factorize treatment): tokens and langs
            # factorize independently (two C hash passes), the code
            # pair folds into one int64, and a third factorize over the
            # ints yields the distinct (token, lang) pairs plus each
            # occurrence's slot — the pure-Python stemmer (and the
            # memo probe) runs once per DISTINCT pair, expansion is one
            # vectorized take. Nulls: a None token factorizes to the
            # -1 sentinel -> ti < 0 -> None, same as the old
            # ``not t`` row loop; a None/absent lang -> li < 0 ->
            # key (t, None) -> Porter, exactly as before.
            memo = _STEM_MEMO
            codes_t, uniq_t = pd.factorize(tokens, use_na_sentinel=True)
            codes_l, uniq_l = pd.factorize(langs, use_na_sentinel=True)
            L = len(uniq_l) + 1
            combined = (codes_t.astype(np.int64) + 1) * L + (codes_l + 1)
            pair_codes, uniq_pairs = pd.factorize(combined)
            vals = np.empty(len(uniq_pairs), dtype=object)
            for j, pc in enumerate(uniq_pairs):
                ti = pc // L - 1
                t = uniq_t[ti] if ti >= 0 else None
                if not t:
                    vals[j] = None
                    continue
                li = pc % L - 1
                lg = uniq_l[li] if li >= 0 else None
                key = (t, lg) if isinstance(lg, str) else (t, None)
                try:
                    vals[j] = memo[key]
                except KeyError:
                    fn = stemmer_for(key[1])
                    v = fn(t) if fn else None
                    if len(memo) >= _MEMO_CAP:
                        memo.clear()
                    memo[key] = v
                    vals[j] = v
            return pd.Series(vals.take(pair_codes), index=tokens.index)

        _UDF_CACHE["lang_stem"] = _stem
    return _UDF_CACHE["lang_stem"]


def dmetaphone_udf():
    if "dmeta" not in _UDF_CACHE:

        import numpy as np

        @pandas_udf("array<string>")
        def _dm(tokens: pd.Series) -> pd.Series:
            # batch-dedup on top of the cross-batch memo (r13, guide
            # §4.2): ONE pd.factorize hash pass over the batch yields
            # both the distinct tokens and each occurrence's code, the
            # pure-Python _dmeta state machine runs once per DISTINCT
            # token, and the per-occurrence expansion is a single
            # vectorized object-array take — no per-row Python closure,
            # and no second per-occurrence hash pass (Series.map(dict)
            # re-hashes every occurrence; codes.take does not). Nulls
            # factorize to the -1 sentinel, which take() wraps to the
            # trailing () slot — same ''/None -> [] contract as before.
            # Values are tuples: every occurrence of a token shares one
            # memoized object, so it must be immutable (Arrow converts a
            # tuple to array<string> like a list).
            memo = _DMETA_MEMO
            codes, uniques = pd.factorize(tokens, use_na_sentinel=True)
            vals = np.empty(len(uniques) + 1, dtype=object)
            for j, t in enumerate(uniques):
                if not t:
                    vals[j] = ()
                    continue
                try:
                    vals[j] = memo[t]
                except KeyError:
                    p, a = _dmeta(t)
                    v = tuple(k for k in (p, a) if k)
                    if len(memo) >= _MEMO_CAP:
                        memo.clear()
                    memo[t] = v
                    vals[j] = v
            vals[len(uniques)] = ()
            return pd.Series(vals.take(codes), index=tokens.index)

        _UDF_CACHE["dmeta"] = _dm
    return _UDF_CACHE["dmeta"]


# ------------------------------------------------------ derived quads
def fulltext_config(quads: DataFrame) -> dict[str, set[str]]:
    """Read the text-index config from the system:config graph
    (import.c:705-743): predicate -> {'token','stem','dmetaphone'}."""
    rows = (
        quads.where(
            (F.col("g") == SYSTEM_CONFIG_GRAPH) & (F.col("p") == FS_TEXT_INDEX)
        )
        .select("s", "o_lex")
        .collect()
    )
    conf: dict[str, set[str]] = {}
    modes = {
        FS_TEXT_TOKEN: "token",
        FS_TEXT_STEM: "stem",
        FS_TEXT_DMETAPHONE: "dmetaphone",
    }
    for r in rows:
        mode = modes.get(r["o_lex"])
        if mode:
            conf.setdefault(r["s"], set()).add(mode)
    return conf


def _token_rows(quads: DataFrame, preds: list[str]) -> DataFrame:
    """(g, s, s_kind, token) per token of each configured literal object."""
    from fourstore_spark.operators.util import ensure_parallel

    base = quads.where(
        F.col("p").isin(preds) & (F.col("o_kind") == KIND_LITERAL)
    )
    # the token explode (and the stem/dmetaphone pandas UDFs downstream)
    # are row-expensive: spread single-file local inputs first
    base = ensure_parallel(base)
    return base.select(
        "g", "s", "s_kind", "o_lang",
        F.explode(tokens_of(F.col("o_lex"))).alias("tok"),
    )


def _as_quads(tok_df: DataFrame, pred: str, tok_col: str = "tok") -> DataFrame:
    return tok_df.select(
        F.col("g"),
        F.col("s"),
        F.col("s_kind"),
        F.lit(pred).alias("p"),
        F.lit(KIND_LITERAL).cast("tinyint").alias("o_kind"),
        F.col(tok_col).alias("o_lex"),
        F.lit(None).cast("string").alias("o_dt"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("double").alias("o_num"),
    ).dropDuplicates()


def derive_fulltext_quads(
    quads: DataFrame, config: dict[str, set[str]] | None = None
) -> DataFrame | None:
    """Derived token/stem/dmetaphone quads per the config; None if no
    predicate is configured."""
    config = config if config is not None else fulltext_config(quads)
    parts = []
    for mode, pred in [
        ("token", FS_TEXT_TOKEN),
        ("stem", FS_TEXT_STEM),
        ("dmetaphone", FS_TEXT_DMETAPHONE),
    ]:
        preds = [p for p, modes in config.items() if mode in modes]
        if not preds:
            continue
        toks = _token_rows(quads, preds)
        if mode == "token":
            parts.append(_as_quads(toks, pred))
        elif mode == "stem":
            # stemmer language from the literal's lang tag, default en
            # (buffer_stems import.c:658-700): Porter for English plus
            # the German/Italian/Russian Snowball ports; an unknown
            # language yields NO stem rows (NULL filtered by _as_quads'
            # o_lex non-null guard), exactly like the reference when
            # sb_stemmer_new returns NULL
            stemmed = toks.withColumn(
                "stem", lang_stem_udf()(F.col("tok"), F.col("o_lang"))
            ).where(F.col("stem").isNotNull())
            parts.append(_as_quads(stemmed, pred, "stem"))
        else:
            keyed = toks.withColumn(
                "key", F.explode(dmetaphone_udf()(F.col("tok")))
            )
            parts.append(_as_quads(keyed, pred, "key"))
    if not parts:
        return None
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def with_fulltext(quads: DataFrame) -> DataFrame:
    """The store plus its derived full-text quads; query fs:token /
    fs:stem / fs:dmetaphone with ordinary triple patterns (T4 —
    rdf-constants.h:46-50)."""
    derived = derive_fulltext_quads(quads)
    if derived is None:
        return quads
    return quads.unionByName(derived)
