"""Snowball stemmers, pure Python — the full libstemmer module set.
This file ports the 14 suffix-table languages (English/Porter2, German,
Italian, Russian, Spanish, Portuguese, French, Danish, Norwegian,
Swedish, Dutch, Finnish, Hungarian, Romanian); the dispatch below also
routes Turkish (a cursor machine, ported in operators/turkish.py) and
the legacy 'porter' module (Porter1, ported in operators/fulltext.py).

The reference links libstemmer and picks the stemmer from the literal's
language tag at import time (buffer_stems, import.c:658-700). These are
independent ports of the published Snowball algorithm descriptions
(snowballstem.org), oracle-verified byte-exact against the reference's
compiled libstemmer over tests/data/stem_golden_*.tsv (see the dispatch
table at the bottom for the alias map). Driver/executor-side pure
functions — they run inside Arrow-batched pandas UDFs, never per-row
over the wire.
"""

from __future__ import annotations

# --------------------------------------------------------------- German
_DE_VOWELS = "aeiouyäöü"
_DE_S_END = "bdfghklmnrt"
_DE_ST_END = "bdfghklmnt"


def _r_regions(word: str, vowels: str) -> tuple[int, int]:
    """Standard Snowball R1/R2 start offsets."""
    n = len(word)
    r1 = n
    for i in range(n - 1):
        if word[i] in vowels and word[i + 1] not in vowels:
            r1 = i + 2
            break
    r2 = n
    for i in range(r1, n - 1):
        if word[i] in vowels and word[i + 1] not in vowels:
            r2 = i + 2
            break
    return r1, r2


def german_stem(word: str) -> str:
    word = word.lower().replace("ß", "ss")
    # protect u/y between vowels as consonants
    chars = list(word)
    for i in range(1, len(chars) - 1):
        if (
            chars[i] in "uy"
            and chars[i - 1] in _DE_VOWELS
            and chars[i + 1] in _DE_VOWELS
        ):
            chars[i] = chars[i].upper()
    word = "".join(chars)
    vowels = _DE_VOWELS
    r1, r2 = _r_regions(word, vowels)
    r1 = max(r1, 3)  # region before R1 must hold >= 3 letters

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    # step 1
    for suf in ("ern", "em", "er"):
        if word.endswith(suf) and in_r1(len(word) - len(suf)):
            word = word[: -len(suf)]
            break
    else:
        for suf in ("en", "es", "e"):
            if word.endswith(suf) and in_r1(len(word) - len(suf)):
                word = word[: -len(suf)]
                if word.endswith("niss"):
                    word = word[:-1]
                break
        else:
            if (
                word.endswith("s")
                and in_r1(len(word) - 1)
                and len(word) >= 2
                and word[-2] in _DE_S_END
            ):
                word = word[:-1]

    # step 2
    for suf in ("est", "en", "er"):
        if word.endswith(suf) and in_r1(len(word) - len(suf)):
            word = word[: -len(suf)]
            break
    else:
        if (
            word.endswith("st")
            and in_r1(len(word) - 2)
            and len(word) >= 6
            and word[-3] in _DE_ST_END
        ):
            word = word[:-2]

    # step 3: d-suffixes
    if word.endswith(("end", "ung")) and in_r2(len(word) - 3):
        word = word[:-3]
        if (
            word.endswith("ig")
            and in_r2(len(word) - 2)
            and not word.endswith("eig")
        ):
            word = word[:-2]
    elif word.endswith(("isch",)) and in_r2(len(word) - 4):
        if not word.endswith("eisch"):
            word = word[:-4]
    elif word.endswith(("ig", "ik")) and in_r2(len(word) - 2):
        if word[-3: -2] != "e":
            word = word[:-2]
    elif word.endswith(("lich", "heit")) and in_r2(len(word) - 4):
        word = word[:-4]
        if word.endswith(("er", "en")) and in_r1(len(word) - 2):
            word = word[:-2]
    elif word.endswith("keit") and in_r2(len(word) - 4):
        word = word[:-4]
        if word.endswith("lich") and in_r2(len(word) - 4):
            word = word[:-4]
        elif word.endswith("ig") and in_r2(len(word) - 2):
            word = word[:-2]

    word = word.lower()
    return (
        word.replace("ä", "a").replace("ö", "o").replace("ü", "u")
    )


# -------------------------------------------------------------- English
# Porter2 ("english" in libstemmer) — what the reference actually runs
# for en/"" tags (sb_stemmer_new("en") resolves to the english module,
# NOT classic Porter; verified against the compiled reference oracle,
# tests/data/stem_golden_en.tsv). Independent port of the published
# snowballstem.org algorithm description.
_EN_VOWELS = "aeiouy"
_EN_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_EN_LI_END = "cdeghkmnrt"

_EN_EXCEPTIONS = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_EN_EXCEPTIONS2 = {
    "inning", "outing", "canning", "herring", "earring", "proceed",
    "exceed", "succeed",
}

_EN_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
    ("anci", "ance"), ("abli", "able"), ("entli", "ent"),
    ("ization", "ize"), ("izer", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("aliti", "al"), ("alli", "al"),
    ("fulness", "ful"), ("ousli", "ous"), ("ousness", "ous"),
    ("iveness", "ive"), ("iviti", "ive"), ("biliti", "ble"),
    ("bli", "ble"), ("fulli", "ful"), ("lessli", "less"),
]
_EN_STEP3 = [
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ical", "ic"),
    ("ful", ""), ("ness", ""),
]
_EN_STEP4 = (
    "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
    "ism", "ate", "iti", "ous", "ive", "ize", "al", "er", "ic",
)


def _en_short_syllable(w: str, end: int) -> bool:
    """Word[:end] ends in a short syllable."""
    if end == 2 and w[0] in _EN_VOWELS and w[1] not in _EN_VOWELS:
        return True
    return (
        end >= 3
        and w[end - 2] in _EN_VOWELS
        and w[end - 1] not in _EN_VOWELS
        and w[end - 1] not in "wxY"
        and w[end - 3] not in _EN_VOWELS
    )


def english_stem(word: str) -> str:
    word = word.lower()
    if word in _EN_EXCEPTIONS:
        return _EN_EXCEPTIONS[word]
    # length gate BEFORE the apostrophe strip ("'s" stays "'s")
    if len(word) <= 2:
        return word
    if word.startswith("'"):
        word = word[1:]
    # mark consonant y
    chars = list(word)
    if chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _EN_VOWELS:
            chars[i] = "Y"
    word = "".join(chars)

    n = len(word)
    r1 = n
    for pre in ("gener", "commun", "arsen"):
        if word.startswith(pre):
            r1 = len(pre)
            break
    else:
        for i in range(n - 1):
            if word[i] in _EN_VOWELS and word[i + 1] not in _EN_VOWELS:
                r1 = i + 2
                break
    r2 = n
    for i in range(r1, n - 1):
        if word[i] in _EN_VOWELS and word[i + 1] not in _EN_VOWELS:
            r2 = i + 2
            break

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    # step 0
    for suf in ("'s'", "'s", "'"):
        if word.endswith(suf):
            word = word[: -len(suf)]
            break

    # step 1a
    if word.endswith("sses"):
        word = word[:-2]
    elif word.endswith(("ied", "ies")):
        word = word[:-3] + ("i" if len(word) > 4 else "ie")
    elif word.endswith(("us", "ss")):
        pass
    elif word.endswith("s"):
        if any(c in _EN_VOWELS for c in word[:-2]):
            word = word[:-1]

    if word in _EN_EXCEPTIONS2:
        return word.replace("Y", "y")

    # step 1b
    if word.endswith(("eedly", "eed")):
        suf = "eedly" if word.endswith("eedly") else "eed"
        if in_r1(len(word) - len(suf)):
            word = word[: -len(suf)] + "ee"
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if word.endswith(suf):
                stem = word[: -len(suf)]
                if any(c in _EN_VOWELS for c in stem):
                    word = stem
                    if word.endswith(("at", "bl", "iz")):
                        word += "e"
                    elif word.endswith(_EN_DOUBLES):
                        word = word[:-1]
                    elif r1 >= len(word) and _en_short_syllable(
                        word, len(word)
                    ):
                        # "short word": ends in a short syllable AND
                        # R1 is null
                        word += "e"
                break

    # step 1c
    if (
        len(word) > 2
        and word[-1] in "yY"
        and word[-2] not in _EN_VOWELS
    ):
        word = word[:-1] + "i"

    # step 2 (longest among; li-rule and ogi-rule conditions extra)
    best = None
    for suf, rep in _EN_STEP2:
        if word.endswith(suf) and (best is None or len(suf) > len(best[0])):
            best = (suf, rep)
    if word.endswith("ogi") and (best is None or len(best[0]) < 3):
        best = ("ogi", "_ogi")
    if word.endswith("li") and best is None:
        best = ("li", "_li")
    if best:
        suf, rep = best
        pos = len(word) - len(suf)
        if in_r1(pos):
            if rep == "_ogi":
                if pos >= 1 and word[pos - 1] == "l":
                    word = word[:pos] + "og"
            elif rep == "_li":
                if pos >= 1 and word[pos - 1] in _EN_LI_END:
                    word = word[:pos]
            else:
                word = word[:pos] + rep

    # step 3
    for suf, rep in sorted(_EN_STEP3, key=lambda p: -len(p[0])):
        if word.endswith(suf):
            pos = len(word) - len(suf)
            if in_r1(pos):
                word = word[:pos] + rep
            break
    else:
        if word.endswith("ative") and in_r1(len(word) - 5) and in_r2(
            len(word) - 5
        ):
            word = word[:-5]

    # step 4
    for suf in sorted(_EN_STEP4, key=len, reverse=True):
        if word.endswith(suf):
            if in_r2(len(word) - len(suf)):
                word = word[: -len(suf)]
            break
    else:
        if (
            word.endswith("ion")
            and in_r2(len(word) - 3)
            and len(word) >= 4
            and word[-4] in "st"
        ):
            word = word[:-3]

    # step 5
    if word.endswith("e") and (
        in_r2(len(word) - 1)
        or (
            in_r1(len(word) - 1)
            and not _en_short_syllable(word, len(word) - 1)
        )
    ):
        word = word[:-1]
    elif word.endswith("ll") and in_r2(len(word) - 1):
        word = word[:-1]

    return word.replace("Y", "y")


# -------------------------------------------------------------- Italian
_IT_VOWELS = "aeiouàèìòù"

_IT_PRONOUNS = sorted(
    [
        "ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si", "ti", "vi",
        "sene", "gliela", "gliele", "glieli", "glielo", "gliene",
        "mela", "mele", "meli", "melo", "mene",
        "tela", "tele", "teli", "telo", "tene",
        "cela", "cele", "celi", "celo", "cene",
        "vela", "vele", "veli", "velo", "vene",
    ],
    key=len,
    reverse=True,
)

_IT_STEP1_DEL_R2 = sorted(
    [
        "anza", "anze", "ico", "ici", "ica", "ice", "iche", "ichi",
        "ismo", "ismi", "abile", "abili", "ibile", "ibili", "ista",
        "iste", "isti", "istà", "istè", "istì", "oso", "osi", "osa",
        "ose", "mente", "atrice", "atrici", "ante", "anti",
    ],
    key=len,
    reverse=True,
)

_IT_STEP2 = sorted(
    [
        "ammo", "ando", "ano", "are", "arono", "asse", "assero", "assi",
        "assimo", "ata", "ate", "ati", "ato", "ava", "avamo", "avano",
        "avate", "avi", "avo", "emmo", "enda", "ende", "endi", "endo",
        "erà", "erai", "eranno", "ere", "erebbe", "erebbero", "erei",
        "eremmo", "eremo", "ereste", "eresti", "erete", "erò", "erono",
        "essero", "ete", "eva", "evamo", "evano", "evate", "evi", "evo",
        "Yamo", "iamo", "immo", "irà", "irai", "iranno", "ire", "irebbe",
        "irebbero", "irei", "iremmo", "iremo", "ireste", "iresti",
        "irete", "irò", "irono", "isca", "iscano", "isce", "isci",
        "isco", "iscono", "issero", "ita", "ite", "iti", "ito", "iva",
        "ivamo", "ivano", "ivate", "ivi", "ivo", "ono", "uta", "ute",
        "uti", "uto", "ar", "ir",
    ],
    key=len,
    reverse=True,
)


def _it_rv(word: str) -> int:
    n = len(word)
    if n < 2:
        return n
    if word[1] not in _IT_VOWELS:  # X C ...
        for i in range(2, n):
            if word[i] in _IT_VOWELS:
                return i + 1
        return n
    if word[0] in _IT_VOWELS and word[1] in _IT_VOWELS:  # V V ...
        for i in range(2, n):
            if word[i] not in _IT_VOWELS:
                return i + 1
        return n
    return 3  # C V ...


def italian_stem(word: str) -> str:
    word = word.lower()
    # replace acute accents with grave
    word = (
        word.replace("á", "à").replace("é", "è").replace("í", "ì")
        .replace("ó", "ò").replace("ú", "ù")
    )
    chars = list(word)
    for i in range(1, len(chars)):
        if chars[i] == "u" and chars[i - 1] == "q":
            chars[i] = "U"
        elif (
            0 < i < len(chars) - 1
            and chars[i] in "ui"
            and chars[i - 1] in _IT_VOWELS
            and chars[i + 1] in _IT_VOWELS
        ):
            chars[i] = chars[i].upper()
    word = "".join(chars)
    rv = _it_rv(word)
    r1, r2 = _r_regions(word, _IT_VOWELS)

    def _in(pos: int, region: int) -> bool:
        return pos >= region

    # step 0: attached pronouns
    for pron in _IT_PRONOUNS:
        if word.endswith(pron):
            base = word[: -len(pron)]
            p = len(base)
            if _in(p - 4, rv) and base.endswith(("ando", "endo")):
                word = base
            elif _in(p - 2, rv) and base.endswith(("ar", "er", "ir")):
                word = base + "e"
            break

    removed = False
    # step 1: standard suffixes (longest match first across ALL groups)
    n = len(word)
    candidates: list[tuple[str, str]] = []
    for suf in _IT_STEP1_DEL_R2:
        candidates.append((suf, "del_r2"))
    for suf in ("azione", "azioni", "atore", "atori"):
        candidates.append((suf, "azione"))
    for suf in ("logia", "logie"):
        candidates.append((suf, "logia"))
    for suf in ("uzione", "uzioni", "usione", "usioni"):
        candidates.append((suf, "uzione"))
    for suf in ("enza", "enze"):
        candidates.append((suf, "enza"))
    for suf in ("amento", "amenti", "imento", "imenti"):
        candidates.append((suf, "amento"))
    candidates.append(("amente", "amente"))
    candidates.append(("ità", "ita"))
    for suf in ("ivo", "ivi", "iva", "ive"):
        candidates.append((suf, "ivo"))
    candidates.sort(key=lambda c: len(c[0]), reverse=True)
    # Snowball among(): the LONGEST matching suffix is selected and its
    # region test applied once — a failed test ends step 1 with no
    # removal (no backtracking to shorter suffixes: 'abatrice' keeps
    # 'atrice' when R2 is too short; golden stem_golden_it.tsv)
    for suf, kind in candidates:
        if not word.endswith(suf):
            continue
        pos = n - len(suf)
        if kind == "del_r2" and _in(pos, r2):
            word = word[:pos]
            removed = True
        elif kind == "azione" and _in(pos, r2):
            word = word[:pos]
            if word.endswith("ic") and _in(len(word) - 2, r2):
                word = word[:-2]
            removed = True
        elif kind == "logia" and _in(pos, r2):
            word = word[:pos] + "log"
            removed = True
        elif kind == "uzione" and _in(pos, r2):
            word = word[:pos] + "u"
            removed = True
        elif kind == "enza" and _in(pos, r2):
            word = word[:pos] + "ente"
            removed = True
        elif kind == "amento" and _in(pos, rv):
            word = word[:pos]
            removed = True
        elif kind == "amente" and _in(pos, r1):
            word = word[:pos]
            if word.endswith("iv") and _in(len(word) - 2, r2):
                word = word[:-2]
                if word.endswith("at") and _in(len(word) - 2, r2):
                    word = word[:-2]
            else:
                for s2 in ("os", "ic", "abil"):
                    if word.endswith(s2) and _in(len(word) - len(s2), r2):
                        word = word[: -len(s2)]
                        break
            removed = True
        elif kind == "ita" and _in(pos, r2):
            word = word[:pos]
            for s2 in ("abil", "ic", "iv"):
                if word.endswith(s2) and _in(len(word) - len(s2), r2):
                    word = word[: -len(s2)]
                    break
            removed = True
        elif kind == "ivo" and _in(pos, r2):
            word = word[:pos]
            if word.endswith("at") and _in(len(word) - 2, r2):
                word = word[:-2]
                if word.endswith("ic") and _in(len(word) - 2, r2):
                    word = word[:-2]
            removed = True
        break

    # step 2: verb suffixes (only if step 1 removed nothing)
    if not removed:
        for suf in _IT_STEP2:
            if word.endswith(suf) and _in(len(word) - len(suf), rv):
                word = word[: -len(suf)]
                break

    # step 3a: final vowel (and preceding i) in RV
    if word and word[-1] in "aeioàèìò" and _in(len(word) - 1, rv):
        word = word[:-1]
        if word and word[-1] == "i" and _in(len(word) - 1, rv):
            word = word[:-1]
    # step 3b: the whole ch/gh suffix must lie inside RV (Snowball
    # setlimit tomark pV), so test the suffix START ('poch' rv=3 keeps
    # its h; golden stem_golden_it.tsv)
    if word.endswith(("ch", "gh")) and _in(len(word) - 2, rv):
        word = word[:-1]

    return word.lower()


# -------------------------------------------------------------- Spanish
_ES_VOWELS = "aeiouáéíóúü"

_ES_PRONOUNS = sorted(
    ["la", "sela", "le", "me", "se", "lo", "selo", "las", "selas",
     "les", "los", "selos", "nos"],
    key=len, reverse=True,
)
# preceding gerund/infinitive: accented forms lose the accent
_ES_PRON_PRE = sorted(
    [("ando", ""), ("iendo", ""), ("yendo", "u"), ("ándo", "ando"),
     ("iéndo", "iendo"), ("ar", ""), ("er", ""), ("ir", ""),
     ("ár", "ar"), ("ér", "er"), ("ír", "ir")],
    key=lambda p: len(p[0]), reverse=True,
)

_ES_STEP1 = sorted(
    [
        ("ica", 1), ("ancia", 2), ("encia", 5), ("adora", 2), ("osa", 1),
        ("ista", 1), ("iva", 9), ("anza", 1), ("logía", 3), ("idad", 8),
        ("able", 1), ("ible", 1), ("ante", 2), ("mente", 7),
        ("amente", 6), ("ación", 2), ("ución", 4), ("ico", 1),
        ("ismo", 1), ("oso", 1), ("amiento", 1), ("imiento", 1),
        ("ivo", 9), ("ador", 2), ("icas", 1), ("ancias", 2),
        ("encias", 5), ("adoras", 2), ("osas", 1), ("istas", 1),
        ("ivas", 9), ("anzas", 1), ("logías", 3), ("idades", 8),
        ("ables", 1), ("ibles", 1), ("aciones", 2), ("uciones", 4),
        ("adores", 2), ("antes", 2), ("icos", 1), ("ismos", 1),
        ("osos", 1), ("amientos", 1), ("imientos", 1), ("ivos", 9),
    ],
    key=lambda p: len(p[0]), reverse=True,
)

_ES_STEP2A = sorted(
    ["ya", "ye", "yan", "yen", "yeron", "yendo", "yo", "yas", "yes",
     "yais", "yamos", "yó"],
    key=len, reverse=True,
)

# 1 = delete then try stripping a preceding 'gu' down to 'g'
_ES_STEP2B_GU = ("en", "es", "éis", "emos")
_ES_STEP2B = sorted(
    [
        "aba", "ada", "ida", "ara", "iera", "ía", "aría", "ería",
        "iría", "ad", "ed", "id", "ase", "iese", "aste", "iste", "an",
        "aban", "aran", "ieran", "ían", "arían", "erían", "irían",
        "en", "asen", "iesen", "aron", "ieron", "arán", "erán",
        "irán", "ado", "ido", "ando", "iendo", "ar", "er", "ir", "as",
        "abas", "adas", "idas", "aras", "ieras", "ías", "arías",
        "erías", "irías", "es", "ases", "ieses", "abais", "arais",
        "ierais", "íais", "aríais", "eríais", "iríais", "aseis",
        "ieseis", "asteis", "isteis", "áis", "éis", "aréis", "eréis",
        "iréis", "ados", "idos", "amos", "ábamos", "áramos",
        "iéramos", "íamos", "aríamos", "eríamos", "iríamos", "emos",
        "aremos", "eremos", "iremos", "ásemos", "iésemos", "imos",
        "arás", "erás", "irás", "ís", "ará", "erá", "irá", "aré",
        "eré", "iré", "ió",
    ],
    key=len, reverse=True,
)

_ES_STEP3_E = ("e", "é")
_ES_STEP3 = sorted(
    ["os", "a", "o", "á", "í", "ó", "e", "é"], key=len, reverse=True
)


def _rv_std(word: str, vowels: str) -> int:
    """RV of the Spanish/Portuguese/Italian family: second letter a
    consonant -> after the next vowel; first two letters vowels ->
    after the next consonant; else after the third letter."""
    n = len(word)
    if n < 3:
        return n
    if word[1] not in vowels:
        for i in range(2, n):
            if word[i] in vowels:
                return i + 1
        return n
    if word[0] in vowels and word[1] in vowels:
        for i in range(2, n):
            if word[i] not in vowels:
                return i + 1
        return n
    return 3


def spanish_stem(word: str) -> str:
    word = word.lower()
    rv = _rv_std(word, _ES_VOWELS)
    r1, r2 = _r_regions(word, _ES_VOWELS)

    def _in(pos: int, region: int) -> bool:
        return pos >= region

    # step 0: attached pronoun (both pronoun and preceding form in RV)
    for pron in _ES_PRONOUNS:
        if not word.endswith(pron):
            continue
        base = word[: -len(pron)]
        for pre, repl in _ES_PRON_PRE:
            if pre == "yendo":
                ok = (
                    base.endswith("yendo")
                    and len(base) >= 6
                    and base[-6] == "u"
                    and _in(len(base) - 5, rv)
                )
            else:
                ok = base.endswith(pre) and _in(len(base) - len(pre), rv)
            if ok:
                if repl and pre != "yendo":
                    word = base[: -len(pre)] + repl
                else:
                    word = base
                break
        break

    n0 = len(word)
    # step 1: standard suffixes (longest match once, Snowball among)
    for suf, kind in _ES_STEP1:
        if not word.endswith(suf):
            continue
        pos = len(word) - len(suf)
        if kind == 1 and _in(pos, r2):
            word = word[:pos]
        elif kind == 2 and _in(pos, r2):
            word = word[:pos]
            if word.endswith("ic") and _in(len(word) - 2, r2):
                word = word[:-2]
        elif kind == 3 and _in(pos, r2):
            word = word[:pos] + "log"
        elif kind == 4 and _in(pos, r2):
            word = word[:pos] + "u"
        elif kind == 5 and _in(pos, r2):
            word = word[:pos] + "ente"
        elif kind == 6 and _in(pos, r1):
            word = word[:pos]
            if word.endswith("iv") and _in(len(word) - 2, r2):
                word = word[:-2]
                if word.endswith("at") and _in(len(word) - 2, r2):
                    word = word[:-2]
            else:
                for s2 in ("os", "ic", "ad"):
                    if word.endswith(s2) and _in(len(word) - 2, r2):
                        word = word[:-2]
                        break
        elif kind == 7 and _in(pos, r2):
            word = word[:pos]
            for s2 in ("ante", "able", "ible"):
                if word.endswith(s2) and _in(len(word) - len(s2), r2):
                    word = word[: -len(s2)]
                    break
        elif kind == 8 and _in(pos, r2):
            word = word[:pos]
            for s2 in ("abil", "ic", "iv"):
                if word.endswith(s2) and _in(len(word) - len(s2), r2):
                    word = word[: -len(s2)]
                    break
        elif kind == 9 and _in(pos, r2):
            word = word[:pos]
            if word.endswith("at") and _in(len(word) - 2, r2):
                word = word[:-2]
        break

    if len(word) == n0:
        # step 2a: verb suffixes beginning y, preceded by u
        did2a = False
        for suf in _ES_STEP2A:
            if (
                word.endswith(suf)
                and _in(len(word) - len(suf), rv)
                and len(word) > len(suf)
                and word[-len(suf) - 1] == "u"
            ):
                word = word[: -len(suf)]
                did2a = True
                break
        if not did2a:
            # step 2b
            for suf in _ES_STEP2B:
                if word.endswith(suf) and _in(len(word) - len(suf), rv):
                    word = word[: -len(suf)]
                    if suf in _ES_STEP2B_GU and word.endswith("gu"):
                        word = word[:-1]
                    break

    # step 3: residual suffix
    for suf in _ES_STEP3:
        if word.endswith(suf) and _in(len(word) - len(suf), rv):
            word = word[: -len(suf)]
            if suf in _ES_STEP3_E and word.endswith("gu") and _in(
                len(word) - 1, rv
            ):
                word = word[:-1]
            break

    return (
        word.replace("á", "a").replace("é", "e").replace("í", "i")
        .replace("ó", "o").replace("ú", "u")
    )


# --------------------------------------------------------------- French
_FR_VOWELS = "aeiouyâàëéêèïîôûù"

_FR_STEP1 = sorted(
    [
        ("iqUe", 1), ("atrice", 2), ("ance", 1), ("ence", 5),
        ("logie", 3), ("able", 1), ("isme", 1), ("euse", 11),
        ("iste", 1), ("ive", 8), ("if", 8), ("usion", 4),
        ("ation", 2), ("ution", 4), ("ateur", 2), ("iqUes", 1),
        ("atrices", 2), ("ances", 1), ("ences", 5), ("logies", 3),
        ("ables", 1), ("ismes", 1), ("euses", 11), ("istes", 1),
        ("ives", 8), ("ifs", 8), ("usions", 4), ("ations", 2),
        ("utions", 4), ("ateurs", 2), ("ments", 15), ("ements", 6),
        ("issements", 12), ("ités", 7), ("ment", 15), ("ement", 6),
        ("issement", 12), ("amment", 13), ("emment", 14), ("aux", 10),
        ("eaux", 9), ("eux", 1), ("ité", 7),
    ],
    key=lambda p: len(p[0]), reverse=True,
)

_FR_STEP2A = sorted(
    [
        "ira", "ie", "isse", "issante", "i", "irai", "ir", "iras",
        "ies", "îmes", "isses", "issantes", "îtes", "is", "irais",
        "issais", "irions", "issions", "irons", "issons", "issants",
        "it", "irait", "issait", "issant", "iraIent", "issaIent",
        "irent", "issent", "iront", "ît", "iriez", "issiez", "irez",
        "issez",
    ],
    key=len, reverse=True,
)

# 1 = ions (R2); 2 = er-group delete; 3 = a-group delete + try 'e'
_FR_STEP2B = sorted(
    [
        ("a", 3), ("era", 2), ("asse", 3), ("ante", 3), ("ée", 2),
        ("ai", 3), ("erai", 2), ("er", 2), ("as", 3), ("eras", 2),
        ("âmes", 3), ("asses", 3), ("antes", 3), ("âtes", 3),
        ("ées", 2), ("ais", 3), ("erais", 2), ("ions", 1),
        ("erions", 2), ("assions", 3), ("erons", 2), ("ants", 3),
        ("és", 2), ("ait", 3), ("erait", 2), ("ant", 3),
        ("aIent", 3), ("eraIent", 2), ("èrent", 2), ("assent", 3),
        ("eront", 2), ("ât", 3), ("ez", 2), ("iez", 2), ("eriez", 2),
        ("assiez", 3), ("erez", 2), ("é", 2),
    ],
    key=lambda p: len(p[0]), reverse=True,
)

_FR_STEP4 = sorted(
    [("Ière", 2), ("ière", 2), ("Ier", 2), ("ier", 2), ("ion", 1),
     ("e", 3), ("ë", 4)],
    key=lambda p: len(p[0]), reverse=True,
)

_FR_UNDOUBLE = ("enn", "onn", "ett", "ell", "eill")


def _fr_prelude(word: str) -> str:
    """u/i between vowels and y next to a vowel become U/I/Y (so they
    are treated as consonants); u after q becomes U. Left-to-right,
    replaced markers no longer count as vowels."""
    chars = list(word)
    n = len(chars)
    i = 0
    while i < n:
        c = chars[i]
        prev_v = i > 0 and chars[i - 1] in _FR_VOWELS
        next_v = i + 1 < n and chars[i + 1] in _FR_VOWELS
        if c == "u" and i > 0 and chars[i - 1] == "q":
            chars[i] = "U"
        elif c == "u" and prev_v and next_v:
            chars[i] = "U"
        elif c == "i" and prev_v and next_v:
            chars[i] = "I"
        elif c == "y" and (prev_v or next_v):
            chars[i] = "Y"
        i += 1
    return "".join(chars)


def french_stem(word: str) -> str:
    # no lowercasing here: Snowball assumes lowercase input (the
    # fulltext pipeline lowercases at tokenize time, fulltext.py) and
    # capital I/U/Y are the prelude's consonant markers
    word = _fr_prelude(word)
    n = len(word)
    # RV: two initial vowels -> after 3rd letter; par/col/tap -> after
    # 3rd; else after the first vowel not at position 0
    if n >= 3 and word[0] in _FR_VOWELS and word[1] in _FR_VOWELS:
        rv = 3
    elif word[:3] in ("par", "col", "tap"):
        rv = 3
    else:
        rv = n
        for i in range(1, n):
            if word[i] in _FR_VOWELS:
                rv = i + 1
                break
    r1, r2 = _r_regions(word, _FR_VOWELS)

    def _in(pos: int, region: int) -> bool:
        return pos >= region

    def _pre(w: str, pos: int, s: str) -> bool:
        return pos >= len(s) and w[pos - len(s): pos] == s

    changed = False
    do_2a = True
    # step 1 (longest among, one shot)
    for suf, kind in _FR_STEP1:
        if not word.endswith(suf):
            continue
        pos = len(word) - len(suf)
        if kind == 1 and _in(pos, r2):
            word = word[:pos]
            changed, do_2a = True, False
        elif kind == 2 and _in(pos, r2):
            word = word[:pos]
            changed, do_2a = True, False
            if word.endswith("ic"):
                if _in(len(word) - 2, r2):
                    word = word[:-2]
                else:
                    word = word[:-2] + "iqU"
        elif kind == 3 and _in(pos, r2):
            word = word[:pos] + "log"
            changed, do_2a = True, False
        elif kind == 4 and _in(pos, r2):
            word = word[:pos] + "u"
            changed, do_2a = True, False
        elif kind == 5 and _in(pos, r2):
            word = word[:pos] + "ent"
            changed, do_2a = True, False
        elif kind == 6 and _in(pos, rv):
            word = word[:pos]
            changed, do_2a = True, False
            if word.endswith("iv") and _in(len(word) - 2, r2):
                word = word[:-2]
                if word.endswith("at") and _in(len(word) - 2, r2):
                    word = word[:-2]
            elif word.endswith("eus"):
                p = len(word) - 3
                if _in(p, r2):
                    word = word[:p]
                elif _in(p, r1):
                    word = word[:p] + "eux"
            elif word.endswith(("abl", "iqU")) and _in(len(word) - 3, r2):
                word = word[:-3]
            elif word.endswith(("ièr", "Ièr")) and _in(len(word) - 3, rv):
                word = word[:-3] + "i"
        elif kind == 7 and _in(pos, r2):
            word = word[:pos]
            changed, do_2a = True, False
            if word.endswith("abil"):
                if _in(len(word) - 4, r2):
                    word = word[:-4]
                else:
                    word = word[:-4] + "abl"
            elif word.endswith("ic"):
                if _in(len(word) - 2, r2):
                    word = word[:-2]
                else:
                    word = word[:-2] + "iqU"
            elif word.endswith("iv") and _in(len(word) - 2, r2):
                word = word[:-2]
        elif kind == 8 and _in(pos, r2):
            word = word[:pos]
            changed, do_2a = True, False
            if word.endswith("at") and _in(len(word) - 2, r2):
                word = word[:-2]
                if word.endswith("ic"):
                    if _in(len(word) - 2, r2):
                        word = word[:-2]
                    else:
                        word = word[:-2] + "iqU"
        elif kind == 9:
            word = word[:pos] + "eau"
            changed, do_2a = True, False
        elif kind == 10 and _in(pos, r1):
            word = word[:pos] + "al"
            changed, do_2a = True, False
        elif kind == 11:
            p = pos
            if _in(p, r2):
                word = word[:p]
                changed, do_2a = True, False
            elif _in(p, r1):
                word = word[:p] + "eux"
                changed, do_2a = True, False
        elif kind == 12 and _in(pos, r1) and pos >= 1 and (
            word[pos - 1] not in _FR_VOWELS
        ):
            word = word[:pos]
            changed, do_2a = True, False
        elif kind == 13 and _in(pos, rv):
            # amment -> ant, then fall through to step 2a
            word = word[:pos] + "ant"
            changed = True
        elif kind == 14 and _in(pos, rv):
            word = word[:pos] + "ent"
            changed = True
        elif kind == 15:
            # ment(s) deleted only when preceded by a vowel in RV
            if pos >= 1 and word[pos - 1] in _FR_VOWELS and _in(
                pos - 1, rv
            ):
                word = word[:pos]
                changed = True
        break

    if do_2a:
        did = False
        # step 2a: i-verb suffixes, preceded by a non-vowel. Snowball
        # setlimit tomark pV: only suffixes lying WHOLLY inside RV are
        # match candidates (a longer suffix crossing the RV boundary
        # does not shadow a shorter in-RV one)
        for suf in _FR_STEP2A:
            pos = len(word) - len(suf)
            if not (word.endswith(suf) and _in(pos, rv)):
                continue
            if _in(pos - 1, rv) and pos >= 1 and (
                word[pos - 1] not in _FR_VOWELS
            ):
                word = word[:pos]
                changed = did = True
            break
        if not did:
            # step 2b (same RV-limited matching)
            for suf, kind in _FR_STEP2B:
                pos = len(word) - len(suf)
                if not (word.endswith(suf) and _in(pos, rv)):
                    continue
                if kind == 1 and _in(pos, r2):
                    word = word[:pos]
                    changed = True
                elif kind == 2:
                    word = word[:pos]
                    changed = True
                elif kind == 3:
                    word = word[:pos]
                    changed = True
                    if word.endswith("e") and _in(len(word) - 1, rv):
                        word = word[:-1]
                break

    if changed:
        # step 3
        if word.endswith("Y"):
            word = word[:-1] + "i"
        elif word.endswith("ç"):
            word = word[:-1] + "c"
    else:
        # step 4
        if (
            word.endswith("s")
            and len(word) >= 2
            and word[-2] not in "aiouès"
        ):
            word = word[:-1]
        for suf, kind in _FR_STEP4:
            pos = len(word) - len(suf)
            if not (word.endswith(suf) and _in(pos, rv)):
                continue
            if kind == 1 and _in(pos, r2) and _in(pos - 1, rv) and (
                pos >= 1 and word[pos - 1] in "st"
            ):
                word = word[:pos]
            elif kind == 2 and _in(pos, rv):
                word = word[:pos] + "i"
            elif kind == 3 and _in(pos, rv):
                word = word[:pos]
            elif kind == 4 and _pre(word, pos, "gu"):
                word = word[:pos]
            break

    # step 5: undouble
    if word.endswith(_FR_UNDOUBLE):
        word = word[:-1]
    # step 6: un-accent — final é/è followed only by non-vowels
    for i in range(len(word) - 1, -1, -1):
        c = word[i]
        if c in "éè":
            if i < len(word) - 1:
                word = word[:i] + "e" + word[i + 1:]
            break
        if c in _FR_VOWELS:
            break

    return (
        word.replace("I", "i").replace("U", "u").replace("Y", "y")
    )


# ----------------------------------------------------------- Portuguese
# prelude maps nasal vowels to two-char forms so suffix matching sees
# a~/o~; the '~' acts as a consonant for region computation
_PT_VOWELS = "aeiouáéíóúâêô"

_PT_STEP1 = sorted(
    [
        ("ica", 1), ("ância", 1), ("ência", 4), ("ira", 9),
        ("adora", 1), ("osa", 1), ("ista", 1), ("iva", 8), ("eza", 1),
        ("logía", 2), ("idade", 7), ("ante", 1), ("mente", 6),
        ("amente", 5), ("ável", 1), ("ível", 1), ("ución", 3),
        ("ico", 1), ("ismo", 1), ("oso", 1), ("amento", 1),
        ("imento", 1), ("ivo", 8), ("aça~o", 1), ("ador", 1),
        ("icas", 1), ("ências", 4), ("iras", 9), ("adoras", 1),
        ("osas", 1), ("istas", 1), ("ivas", 8), ("ezas", 1),
        ("logías", 2), ("idades", 7), ("uciones", 3), ("adores", 1),
        ("antes", 1), ("aço~es", 1), ("icos", 1), ("ismos", 1),
        ("osos", 1), ("amentos", 1), ("imentos", 1), ("ivos", 8),
    ],
    key=lambda p: len(p[0]), reverse=True,
)

_PT_STEP2 = sorted(
    [
        "ada", "ida", "ia", "aria", "eria", "iria", "ara", "era",
        "ira", "ava", "asse", "esse", "isse", "aste", "este", "iste",
        "ei", "arei", "erei", "irei", "am", "iam", "ariam", "eriam",
        "iriam", "aram", "eram", "iram", "avam", "em", "arem", "erem",
        "irem", "assem", "essem", "issem", "ado", "ido", "ando",
        "endo", "indo", "ara~o", "era~o", "ira~o", "ar", "er", "ir",
        "as", "adas", "idas", "ias", "arias", "erias", "irias",
        "aras", "eras", "iras", "avas", "es", "ardes", "erdes",
        "irdes", "ares", "eres", "ires", "asses", "esses", "isses",
        "astes", "estes", "istes", "is", "ais", "eis", "areis",
        "ereis", "ireis", "áreis", "éreis", "íreis", "ásseis",
        "ésseis", "ísseis", "áveis", "íeis", "aríeis", "eríeis",
        "iríeis", "ados", "idos", "amos", "áramos", "éramos",
        "íramos", "ávamos", "íamos", "aríamos", "eríamos", "iríamos",
        "emos", "aremos", "eremos", "iremos", "ássemos", "êssemos",
        "íssemos", "imos", "armos", "ermos", "irmos", "ámos", "arás",
        "erás", "irás", "eu", "iu", "ou", "ará", "erá", "irá",
    ],
    key=len, reverse=True,
)

_PT_STEP4 = sorted(
    ["os", "a", "i", "o", "á", "í", "ó"], key=len, reverse=True
)


def portuguese_stem(word: str) -> str:
    word = word.lower().replace("ã", "a~").replace("õ", "o~")
    rv = _rv_std(word, _PT_VOWELS)
    r1, r2 = _r_regions(word, _PT_VOWELS)

    def _in(pos: int, region: int) -> bool:
        return pos >= region

    n0 = len(word)
    # step 1: standard suffixes (longest among, one shot)
    for suf, kind in _PT_STEP1:
        if not word.endswith(suf):
            continue
        pos = len(word) - len(suf)
        if kind == 1 and _in(pos, r2):
            word = word[:pos]
        elif kind == 2 and _in(pos, r2):
            word = word[:pos] + "log"
        elif kind == 3 and _in(pos, r2):
            word = word[:pos] + "u"
        elif kind == 4 and _in(pos, r2):
            word = word[:pos] + "ente"
        elif kind == 5 and _in(pos, r1):
            word = word[:pos]
            if word.endswith("iv") and _in(len(word) - 2, r2):
                word = word[:-2]
                if word.endswith("at") and _in(len(word) - 2, r2):
                    word = word[:-2]
            else:
                for s2 in ("os", "ic", "ad"):
                    if word.endswith(s2) and _in(len(word) - 2, r2):
                        word = word[:-2]
                        break
        elif kind == 6 and _in(pos, r2):
            word = word[:pos]
            for s2 in ("ante", "avel", "ível"):
                if word.endswith(s2) and _in(len(word) - len(s2), r2):
                    word = word[: -len(s2)]
                    break
        elif kind == 7 and _in(pos, r2):
            word = word[:pos]
            for s2 in ("abil", "ic", "iv"):
                if word.endswith(s2) and _in(len(word) - len(s2), r2):
                    word = word[: -len(s2)]
                    break
        elif kind == 8 and _in(pos, r2):
            word = word[:pos]
            if word.endswith("at") and _in(len(word) - 2, r2):
                word = word[:-2]
        elif kind == 9 and _in(pos, rv) and pos >= 1 and word[pos - 1] == "e":
            word = word[:pos] + "ir"
        break

    changed = len(word) != n0
    if not changed:
        # step 2: verb suffixes in RV
        for suf in _PT_STEP2:
            if word.endswith(suf) and _in(len(word) - len(suf), rv):
                word = word[: -len(suf)]
                changed = True
                break

    if changed:
        # step 3: i preceded by c, in RV
        if (
            word.endswith("i")
            and _in(len(word) - 1, rv)
            and len(word) >= 2
            and word[-2] == "c"
        ):
            word = word[:-1]
    else:
        # step 4: residual suffix
        for suf in _PT_STEP4:
            if word.endswith(suf) and _in(len(word) - len(suf), rv):
                word = word[: -len(suf)]
                break

    # step 5: residual form
    if word.endswith(("e", "é", "ê")) and _in(len(word) - 1, rv):
        word = word[:-1]
        if (
            word.endswith(("gu", "ci"))
            and _in(len(word) - 1, rv)
        ):
            word = word[:-1]
    elif word.endswith("ç"):
        word = word[:-1] + "c"

    word = word.replace("a~", "ã").replace("o~", "õ")
    return word


# -------------------------------------------------------------- Russian
_RU_VOWELS = "аеиоуыэюя"

_RU_PERF_GERUND_A = ("в", "вши", "вшись")  # after а/я
_RU_PERF_GERUND_B = ("ив", "ивши", "ившись", "ыв", "ывши", "ывшись")
_RU_ADJECTIVE = (
    "ее", "ие", "ые", "ое", "ими", "ыми", "ей", "ий", "ый", "ой", "ем",
    "им", "ым", "ом", "его", "ого", "ему", "ому", "их", "ых", "ую", "юю",
    "ая", "яя", "ою", "ею",
)
_RU_PARTICIPLE_A = ("ем", "нн", "вш", "ющ", "щ")  # after а/я
_RU_PARTICIPLE_B = ("ивш", "ывш", "ующ")
_RU_VERB_A = (
    "ла", "на", "ете", "йте", "ли", "й", "л", "ем", "н", "ло", "но",
    "ет", "ют", "ны", "ть", "ешь", "нно",
)  # after а/я
_RU_VERB_B = (
    "ила", "ыла", "ена", "ейте", "уйте", "ите", "или", "ыли", "ей",
    "уй", "ил", "ыл", "им", "ым", "ен", "ило", "ыло", "ено", "ят",
    "ует", "уют", "ит", "ыт", "ены", "ить", "ыть", "ишь", "ую", "ю",
)
_RU_NOUN = (
    "а", "ев", "ов", "ие", "ье", "е", "иями", "ями", "ами", "еи", "ии",
    "и", "ией", "ей", "ой", "ий", "й", "иям", "ям", "ием", "ем", "ам",
    "ом", "о", "у", "ах", "иях", "ях", "ы", "ь", "ию", "ью", "ю", "ия",
    "ья", "я",
)


def _ru_longest(word: str, sufs, rv: int) -> str | None:
    best = None
    for suf in sufs:
        if (
            word.endswith(suf)
            and len(word) - len(suf) >= rv
            and (best is None or len(suf) > len(best))
        ):
            best = suf
    return best


def _ru_longest_after_aya(word: str, sufs, rv: int) -> str | None:
    """Group (a) suffixes must be preceded by а or я (which stays)."""
    best = None
    for suf in sufs:
        if not word.endswith(suf):
            continue
        p = len(word) - len(suf)
        if p - 1 < rv or p < 1 or word[p - 1] not in "ая":
            continue
        if best is None or len(suf) > len(best):
            best = suf
    return best


def russian_stem(word: str) -> str:
    word = word.lower().replace("ё", "е")
    n = len(word)
    rv = n
    for i, ch in enumerate(word):
        if ch in _RU_VOWELS:
            rv = i + 1
            break
    r1, r2 = _r_regions(word, _RU_VOWELS)

    # step 1: perfective gerund, else [reflexive] + adjectival|verb|noun
    suf = _ru_longest(word, _RU_PERF_GERUND_B, rv)
    suf_a = _ru_longest_after_aya(word, _RU_PERF_GERUND_A, rv)
    if suf_a and (not suf or len(suf_a) > len(suf)):
        word = word[: -len(suf_a)]
    elif suf:
        word = word[: -len(suf)]
    else:
        for refl in ("ся", "сь"):
            if word.endswith(refl) and len(word) - 2 >= rv:
                word = word[:-2]
                break
        adj = _ru_longest(word, _RU_ADJECTIVE, rv)
        if adj:
            word = word[: -len(adj)]
            part = _ru_longest(word, _RU_PARTICIPLE_B, rv)
            part_a = _ru_longest_after_aya(word, _RU_PARTICIPLE_A, rv)
            if part_a and (not part or len(part_a) > len(part)):
                word = word[: -len(part_a)]
            elif part:
                word = word[: -len(part)]
        else:
            vb = _ru_longest(word, _RU_VERB_B, rv)
            vb_a = _ru_longest_after_aya(word, _RU_VERB_A, rv)
            if vb_a and (not vb or len(vb_a) > len(vb)):
                word = word[: -len(vb_a)]
            elif vb:
                word = word[: -len(vb)]
            else:
                noun = _ru_longest(word, _RU_NOUN, rv)
                if noun:
                    word = word[: -len(noun)]

    # step 2: final и
    if word.endswith("и") and len(word) - 1 >= rv:
        word = word[:-1]

    # step 3: derivational ост/ость in R2
    for suf in ("ость", "ост"):
        if word.endswith(suf) and len(word) - len(suf) >= r2:
            word = word[: -len(suf)]
            break

    # step 4
    if word.endswith("нн") and len(word) - 1 >= rv:
        word = word[:-1]
    else:
        sup = _ru_longest(word, ("ейше", "ейш"), rv)
        if sup:
            word = word[: -len(sup)]
            if word.endswith("нн") and len(word) - 1 >= rv:
                word = word[:-1]
        elif word.endswith("ь") and len(word) - 1 >= rv:
            word = word[:-1]
    return word


# -------------------------------------------------------------- Finnish
_FI_V1 = "aeiouyäö"
_FI_V2 = "aeiouäö"
_FI_AEI = "aäei"
_FI_PARTICLE_END = _FI_V1 + "nt"
_FI_LONG = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")

_FI_PARTICLES = sorted(
    [("pa", 1), ("sti", 2), ("kaan", 1), ("han", 1), ("kin", 1),
     ("hän", 1), ("kään", 1), ("ko", 1), ("pä", 1), ("kö", 1)],
    key=lambda p: len(p[0]), reverse=True,
)
_FI_POSS = sorted(
    [("nsa", 3), ("mme", 3), ("nne", 3), ("ni", 2), ("si", 1),
     ("an", 4), ("en", 6), ("än", 5), ("nsä", 3)],
    key=lambda p: len(p[0]), reverse=True,
)
_FI_AN_PRE = ("lla", "na", "ssa", "ta", "lta", "sta")
_FI_AEN_PRE = ("llä", "nä", "ssä", "tä", "ltä", "stä")
_FI_EN_PRE = ("lle", "ine")
# kind 10 = gated by VI ('i' after a V2 vowel), 11 = gated by a long
# vowel; a FAILED GATE backtracks to the next-longest candidate
# (find_among_b semantics), unlike a failed result condition
_FI_CASES = sorted(
    [("a", 8), ("lla", 0), ("na", 0), ("ssa", 0), ("ta", 0),
     ("lta", 0), ("sta", 0), ("tta", 9), ("lle", 0), ("ine", 0),
     ("ksi", 0), ("n", 7), ("han", 1), ("den", 10), ("seen", 11),
     ("hen", 2), ("tten", 10), ("hin", 3), ("siin", 10), ("hon", 4),
     ("hän", 5), ("hön", 6), ("ä", 8), ("llä", 0), ("nä", 0),
     ("ssä", 0), ("tä", 0), ("ltä", 0), ("stä", 0), ("ttä", 9)],
    key=lambda p: len(p[0]), reverse=True,
)
_FI_CASE_HVN = {1: "a", 2: "e", 3: "i", 4: "o", 5: "ä", 6: "ö"}
_FI_OTHER = sorted(
    [("eja", 0), ("mma", 1), ("imma", 0), ("mpa", 1), ("impa", 0),
     ("mmi", 1), ("immi", 0), ("mpi", 1), ("impi", 0), ("ejä", 0),
     ("mmä", 1), ("immä", 0), ("mpä", 1), ("impä", 0)],
    key=lambda p: len(p[0]), reverse=True,
)


def finnish_stem(word: str) -> str:
    """Snowball Finnish — independent port of the published algorithm
    (snowballstem.org), oracle-exact vs the reference's libstemmer
    (tests/data/stem_golden_fi.tsv). Steps: particle, possessive, case
    ending (sets ending_removed), comparative/other endings, then
    i-plural OR t-plural depending on the flag, then tidy."""
    word = word.lower()
    r1, r2 = _r_regions(word, _FI_V1)

    def ends_long(w: str, limit: int) -> bool:
        return len(w) >= 2 and len(w) - 2 >= limit and w[-2:] in _FI_LONG

    # step 1: particles (match within R1; lookbacks unlimited)
    for suf, kind in _FI_PARTICLES:
        if word.endswith(suf) and len(word) - len(suf) >= r1:
            pos = len(word) - len(suf)
            if kind == 1:
                if pos >= 1 and word[pos - 1] in _FI_PARTICLE_END:
                    word = word[:pos]
            else:  # sti
                if pos >= r2:
                    word = word[:pos]
            break

    # step 2: possessives (match within R1)
    for suf, kind in _FI_POSS:
        if not (word.endswith(suf) and len(word) - len(suf) >= r1):
            continue
        pos = len(word) - len(suf)
        if kind == 1:  # si, not preceded by k
            if not (pos >= 1 and word[pos - 1] == "k"):
                word = word[:pos]
        elif kind == 2:  # ni; kse -> ksi
            word = word[:pos]
            if word.endswith("kse"):
                word = word[:-1] + "i"
        elif kind == 3:
            word = word[:pos]
        elif kind == 4:
            if word[:pos].endswith(_FI_AN_PRE):
                word = word[:pos]
        elif kind == 5:
            if word[:pos].endswith(_FI_AEN_PRE):
                word = word[:pos]
        elif kind == 6:
            if word[:pos].endswith(_FI_EN_PRE):
                word = word[:pos]
        break

    ending_removed = False
    # step 3: case endings (match within R1)
    for suf, kind in _FI_CASES:
        if not (word.endswith(suf) and len(word) - len(suf) >= r1):
            continue
        pos = len(word) - len(suf)
        if kind == 10:
            # VI gate, limited: i at pos-1 >= r1, its V2 vowel >= r1
            if not (
                pos - 2 >= r1
                and word[pos - 1] == "i"
                and word[pos - 2] in _FI_V2
            ):
                continue  # gate failure: try the next-longest entry
            word = word[:pos]
            ending_removed = True
        elif kind == 11:
            # LONG gate, limited
            if not (pos - 2 >= r1 and word[pos - 2: pos] in _FI_LONG):
                continue
            word = word[:pos]
            ending_removed = True
        elif kind == 0:
            word = word[:pos]
            ending_removed = True
        elif kind in _FI_CASE_HVN:  # hVn: preceded by its vowel
            v = _FI_CASE_HVN[kind]
            if word[:pos].endswith(v):
                word = word[:pos]
                ending_removed = True
        elif kind == 7:  # n: eat one more char after LONG or 'ie'
            # (conditions run with the limit RELEASED, like all
            # case-ending conditions — only the suffix match is R1-bound)
            head = word[:pos]
            if head[-2:] in _FI_LONG or head.endswith("ie"):
                pos -= 1
            word = word[:pos]
            ending_removed = True
        elif kind == 8:  # a/ä preceded by consonant+V1
            if (
                pos >= 2
                and word[pos - 1] in _FI_V1
                and word[pos - 2] not in _FI_V1
            ):
                word = word[:pos]
                ending_removed = True
        elif kind == 9:  # tta/ttä preceded by e
            if word[:pos].endswith("e"):
                word = word[:pos]
                ending_removed = True
        break

    # step 4: other endings (match within R2)
    for suf, kind in _FI_OTHER:
        if word.endswith(suf) and len(word) - len(suf) >= r2:
            pos = len(word) - len(suf)
            if kind == 1:  # not preceded by 'po'
                if not word[:pos].endswith("po"):
                    word = word[:pos]
            else:
                word = word[:pos]
            break

    if ending_removed:
        # step 5a: i-plural (final i/j within R1)
        if word and word[-1] in "ij" and len(word) - 1 >= r1:
            word = word[:-1]
    else:
        # step 5b: t-plural: final t within R1, the V1 test still
        # inside the limit (t strictly past r1 so the vowel is >= r1)
        if (
            word.endswith("t")
            and len(word) - 1 > r1
            and word[-2] in _FI_V1
        ):
            word = word[:-1]
            # then mma/imma within R2 ('mma' not preceded by 'po')
            for suf, kind in (("imma", 0), ("mma", 1)):
                if word.endswith(suf) and len(word) - len(suf) >= r2:
                    pos = len(word) - len(suf)
                    if not (kind == 1 and word[:pos].endswith("po")):
                        word = word[:pos]
                    break

    # step 6: tidy — the four trims run inside the R1 limit (every
    # touched char >= r1), the consonant undouble does not
    if ends_long(word, r1):
        word = word[:-1]
    if (
        len(word) >= 2
        and len(word) - 2 >= r1
        and word[-1] in _FI_AEI
        and word[-2] not in _FI_V1
    ):
        word = word[:-1]
    if word.endswith(("oj", "uj")) and len(word) - 2 >= r1:
        word = word[:-1]
    if word.endswith("jo") and len(word) - 2 >= r1:
        word = word[:-1]
    # undouble the last consonant (scanning past trailing vowels),
    # UNLIMITED by R1
    i = len(word) - 1
    while i >= 0 and word[i] in _FI_V1:
        i -= 1
    if i >= 1 and word[i - 1] == word[i]:
        word = word[:i] + word[i + 1:]
    return word


# ------------------------------------------------------------ Hungarian
# NOTE: the reference's libstemmer predates the ő/ű orthography fix —
# its Hungarian tables use õ (U+00F5) and û (U+00FB); the port matches
# that exactly (oracle parity beats modern spelling)
_HU_V = "aeiouáéíóöõúüû"
_HU_DIGRAPHS = ("cs", "dzs", "gy", "ly", "ny", "sz", "ty", "zs")
_HU_DOUBLES = sorted(
    ["bb", "cc", "dd", "ff", "gg", "jj", "kk", "ll", "mm", "nn", "pp",
     "rr", "ccs", "ss", "zzs", "tt", "vv", "ggy", "lly", "nny", "tty",
     "ssz", "zz"],
    key=len, reverse=True,
)

_HU_CASE = sorted(
    ["ba", "ra", "be", "re", "ig", "nak", "nek", "val", "vel", "ul",
     "nál", "nél", "ból", "ról", "tól", "bõl", "rõl", "tõl", "ül", "n",
     "an", "ban", "en", "ben", "képpen", "on", "ön", "képp", "kor",
     "t", "at", "et", "ként", "anként", "enként", "onként", "ot",
     "ért", "öt", "hez", "hoz", "höz", "vá", "vé"],
    key=len, reverse=True,
)
_HU_CASE_SPECIAL = sorted(
    [("ánként", "a"), ("án", "a"), ("én", "e")],
    key=lambda p: len(p[0]), reverse=True,
)
_HU_CASE_OTHER = sorted(
    [("astul", ""), ("estül", ""), ("ástul", "a"), ("éstül", "e"),
     ("stul", ""), ("stül", "")],
    key=lambda p: len(p[0]), reverse=True,
)
_HU_OWNED = sorted(
    [("áéi", "a"), ("ééi", "e"), ("éi", ""), ("aké", ""), ("eké", ""),
     ("oké", ""), ("öké", ""), ("áké", "a"), ("éké", "e"), ("ké", ""),
     ("éé", "e"), ("é", "")],
    key=lambda p: len(p[0]), reverse=True,
)
_HU_SING_OWNER = sorted(
    [("unk", ""), ("ünk", ""), ("ánk", "a"), ("énk", "e"), ("nk", ""),
     ("ájuk", "a"), ("éjük", "e"), ("juk", ""), ("jük", ""),
     ("uk", ""), ("ük", ""), ("am", ""), ("em", ""), ("om", ""),
     ("ám", "a"), ("ém", "e"), ("m", ""), ("ad", ""), ("ed", ""),
     ("od", ""), ("öd", ""), ("ád", "a"), ("éd", "e"), ("d", ""),
     ("ja", ""), ("je", ""), ("a", ""), ("e", ""), ("o", ""),
     ("á", "a"), ("é", "e")],
    key=lambda p: len(p[0]), reverse=True,
)
_HU_PLUR_OWNER = sorted(
    [("jaim", ""), ("jeim", ""), ("áim", "a"), ("éim", "e"),
     ("aim", ""), ("eim", ""), ("im", ""), ("jaid", ""), ("jeid", ""),
     ("áid", "a"), ("éid", "e"), ("aid", ""), ("eid", ""), ("id", ""),
     ("jai", ""), ("jei", ""), ("ái", "a"), ("éi", "e"), ("ai", ""),
     ("ei", ""), ("i", ""), ("jaink", ""), ("jeink", ""),
     ("áink", "a"), ("éink", "e"), ("aink", ""), ("eink", ""),
     ("ink", ""), ("jaitok", ""), ("jeitek", ""), ("áitok", "a"),
     ("éitek", "e"), ("aitok", ""), ("eitek", ""), ("itek", ""),
     ("jaik", ""), ("jeik", ""), ("áik", "a"), ("éik", "e"),
     ("aik", ""), ("eik", ""), ("ik", "")],
    key=lambda p: len(p[0]), reverse=True,
)
_HU_PLURAL = sorted(
    [("ák", "a"), ("ék", "e"), ("ök", ""), ("ak", ""), ("ok", ""),
     ("ek", ""), ("k", "")],
    key=lambda p: len(p[0]), reverse=True,
)


def hungarian_stem(word: str) -> str:
    """Snowball Hungarian (the reference's pre-ő/ű-era tables) —
    oracle-exact vs its compiled libstemmer
    (tests/data/stem_golden_hu.tsv)."""
    word = word.lower()
    n = len(word)
    # R1: word starts with a vowel -> after the first consonant run's
    # digraph-or-single-char; consonant start -> after the first vowel
    r1 = n
    if n and word[0] in _HU_V:
        i = 1
        while i < n and word[i] in _HU_V:
            i += 1
        if i < n:
            if word[i: i + 3] == "dzs":
                r1 = i + 3
            elif word[i: i + 2] in _HU_DIGRAPHS:
                r1 = i + 2
            else:
                r1 = i + 1
    else:
        for i in range(n):
            if word[i] in _HU_V:
                r1 = i + 1
                break

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def ends_double(w: str) -> bool:
        return any(w.endswith(d) for d in _HU_DOUBLES)

    def undouble(w: str) -> str:
        # delete the char just before the last one ('toll'->'tol',
        # 'ssz'->'sz')
        return w[:-2] + w[-1] if len(w) >= 2 else w

    def v_ending(w: str) -> str:
        if w.endswith("á") and in_r1(len(w) - 1):
            return w[:-1] + "a"
        if w.endswith("é") and in_r1(len(w) - 1):
            return w[:-1] + "e"
        return w

    # instrum: al/el in R1, preceded by a double consonant
    for suf in ("al", "el"):
        if word.endswith(suf) and in_r1(len(word) - 2):
            if ends_double(word[:-2]):
                word = undouble(word[:-2])
            break

    # case endings: longest among, R1, delete, then á/é -> a/e
    for suf in _HU_CASE:
        if word.endswith(suf):
            if in_r1(len(word) - len(suf)):
                word = v_ending(word[: -len(suf)])
            break

    # case_special: án/én/ánként -> a/e
    for suf, rep in _HU_CASE_SPECIAL:
        if word.endswith(suf):
            if in_r1(len(word) - len(suf)):
                word = word[: -len(suf)] + rep
            break

    # case_other: stul/stül family
    for suf, rep in _HU_CASE_OTHER:
        if word.endswith(suf):
            if in_r1(len(word) - len(suf)):
                word = word[: -len(suf)] + rep
            break

    # factive: á/é in R1 preceded by a double consonant
    for suf in ("á", "é"):
        if word.endswith(suf) and in_r1(len(word) - 1):
            if ends_double(word[:-1]):
                word = undouble(word[:-1])
            break

    # owned / sing_owner / plur_owner / plural
    for table in (_HU_OWNED, _HU_SING_OWNER, _HU_PLUR_OWNER, _HU_PLURAL):
        for suf, rep in table:
            if word.endswith(suf):
                if in_r1(len(word) - len(suf)):
                    word = word[: -len(suf)] + rep
                break
    return word


# ------------------------------------------------------------- Romanian
_RO_VOWELS = "aăâeiîou"

# step 0: grammar endings, all in R1
_RO_STEP0 = sorted(
    [("ea", 3), ("aţia", 7), ("aua", 2), ("iua", 4), ("aţie", 7),
     ("ele", 3), ("ile", 5), ("iile", 4), ("iei", 4), ("atei", 6),
     ("ii", 4), ("ului", 1), ("ul", 1), ("elor", 3), ("ilor", 4),
     ("iilor", 4)],
    key=lambda p: len(p[0]), reverse=True,
)
# step 1: combining suffixes, repeated; replacement per kind
_RO_STEP1 = sorted(
    [("icala", 4), ("iciva", 4), ("ativa", 5), ("itiva", 6),
     ("icale", 4), ("aţiune", 5), ("iţiune", 6), ("atoare", 5),
     ("itoare", 6), ("ătoare", 5), ("icitate", 4), ("abilitate", 1),
     ("ibilitate", 2), ("ivitate", 3), ("icive", 4), ("ative", 5),
     ("itive", 6), ("icali", 4), ("atori", 5), ("icatori", 4),
     ("itori", 6), ("ători", 5), ("icitati", 4), ("abilitati", 1),
     ("ivitati", 3), ("icivi", 4), ("ativi", 5), ("itivi", 6),
     ("icităi", 4), ("abilităi", 1), ("ivităi", 3), ("icităţi", 4),
     ("abilităţi", 1), ("ivităţi", 3), ("ical", 4), ("ator", 5),
     ("icator", 4), ("itor", 6), ("ător", 5), ("iciv", 4),
     ("ativ", 5), ("itiv", 6), ("icală", 4), ("icivă", 4),
     ("ativă", 5), ("itivă", 6)],
    key=lambda p: len(p[0]), reverse=True,
)
_RO_STEP1_REP = {1: "abil", 2: "ibil", 3: "iv", 4: "ic", 5: "at", 6: "it"}
# step 2: standard suffixes in R2 (1=delete, 2=ţiune->t, 3=->ist)
_RO_STEP2 = sorted(
    [("ica", 1), ("abila", 1), ("ibila", 1), ("oasa", 1), ("ata", 1),
     ("ita", 1), ("anta", 1), ("ista", 3), ("uta", 1), ("iva", 1),
     ("ic", 1), ("ice", 1), ("abile", 1), ("ibile", 1), ("isme", 3),
     ("iune", 2), ("oase", 1), ("ate", 1), ("itate", 1), ("ite", 1),
     ("ante", 1), ("iste", 3), ("ute", 1), ("ive", 1), ("ici", 1),
     ("abili", 1), ("ibili", 1), ("iuni", 2), ("atori", 1),
     ("osi", 1), ("ati", 1), ("itati", 1), ("iti", 1), ("anti", 1),
     ("isti", 3), ("uti", 1), ("işti", 3), ("ivi", 1), ("ităi", 1),
     ("oşi", 1), ("ităţi", 1), ("abil", 1), ("ibil", 1), ("ism", 3),
     ("ator", 1), ("os", 1), ("at", 1), ("it", 1), ("ant", 1),
     ("ist", 3), ("ut", 1), ("iv", 1), ("ică", 1), ("abilă", 1),
     ("ibilă", 1), ("oasă", 1), ("ată", 1), ("ită", 1), ("antă", 1),
     ("istă", 3), ("ută", 1), ("ivă", 1)],
    key=lambda p: len(p[0]), reverse=True,
)
# step 3: verb suffixes in RV (1 = delete if preceded by non-vowel/u)
_RO_STEP3 = sorted(
    [("ea", 1), ("ia", 1), ("esc", 1), ("ăsc", 1), ("ind", 1),
     ("ând", 1), ("are", 1), ("ere", 1), ("ire", 1), ("âre", 1),
     ("se", 2), ("ase", 1), ("sese", 2), ("ise", 1), ("use", 1),
     ("âse", 1), ("eşte", 1), ("ăşte", 1), ("eze", 1), ("ai", 1),
     ("eai", 1), ("iai", 1), ("sei", 2), ("eşti", 1), ("ăşti", 1),
     ("ui", 1), ("ezi", 1), ("aşi", 1), ("seşi", 2), ("aseşi", 1),
     ("seseşi", 2), ("iseşi", 1), ("useşi", 1), ("âseşi", 1),
     ("işi", 1), ("uşi", 1), ("âşi", 1), ("âi", 1), ("aţi", 2),
     ("eaţi", 1), ("iaţi", 1), ("eţi", 2), ("iţi", 2), ("arăţi", 1),
     ("serăţi", 2), ("aserăţi", 1), ("seserăţi", 2), ("iserăţi", 1),
     ("userăţi", 1), ("âserăţi", 1), ("irăţi", 1), ("urăţi", 1),
     ("ârăţi", 1), ("âţi", 2), ("am", 1), ("eam", 1), ("iam", 1),
     ("em", 2), ("asem", 1), ("sesem", 2), ("isem", 1), ("usem", 1),
     ("âsem", 1), ("im", 2), ("ăm", 2), ("arăm", 1), ("serăm", 2),
     ("aserăm", 1), ("seserăm", 2), ("iserăm", 1), ("userăm", 1),
     ("âserăm", 1), ("irăm", 1), ("urăm", 1), ("ârăm", 1),
     ("âm", 2), ("au", 1), ("eau", 1), ("iau", 1), ("indu", 1),
     ("ându", 1), ("ez", 1), ("ească", 1), ("ară", 1), ("seră", 2),
     ("aseră", 1), ("seseră", 2), ("iseră", 1), ("useră", 1),
     ("âseră", 1), ("iră", 1), ("ură", 1), ("âră", 1), ("ează", 1)],
    key=lambda p: len(p[0]), reverse=True,
)
_RO_STEP4 = sorted(["a", "e", "ie", "i", "ă"], key=len, reverse=True)


def romanian_stem(word: str) -> str:
    word = word.lower()
    chars = list(word)
    for i in range(1, len(chars) - 1):
        if (
            chars[i] in "iu"
            and chars[i - 1] in _RO_VOWELS
            and chars[i + 1] in _RO_VOWELS
        ):
            chars[i] = chars[i].upper()
    word = "".join(chars)
    rv = _rv_std(word, _RO_VOWELS)
    r1, r2 = _r_regions(word, _RO_VOWELS)

    # step 0 (longest among once, R1)
    for suf, kind in _RO_STEP0:
        if not word.endswith(suf):
            continue
        pos = len(word) - len(suf)
        if pos < r1:
            break
        if kind == 1:
            word = word[:pos]
        elif kind == 2:
            word = word[:pos] + "a"
        elif kind == 3:
            word = word[:pos] + "e"
        elif kind == 4:
            word = word[:pos] + "i"
        elif kind == 5:
            if word[pos - 2: pos] != "ab":
                word = word[:pos] + "i"
        elif kind == 6:
            word = word[:pos] + "at"
        elif kind == 7:
            word = word[:pos] + "aţi"
        break

    removed = False
    # step 1: repeat the combining-suffix reduction
    while True:
        hit = False
        for suf, kind in _RO_STEP1:
            if not word.endswith(suf):
                continue
            pos = len(word) - len(suf)
            if pos >= r1:
                word = word[:pos] + _RO_STEP1_REP[kind]
                removed = hit = True
            break
        if not hit:
            break

    # step 2 (R2, one shot)
    for suf, kind in _RO_STEP2:
        if not word.endswith(suf):
            continue
        pos = len(word) - len(suf)
        if pos < r2:
            break
        if kind == 1:
            word = word[:pos]
            removed = True
        elif kind == 2:
            if pos >= 1 and word[pos - 1] == "ţ":
                word = word[: pos - 1] + "t"
                removed = True
        else:
            word = word[:pos] + "ist"
            removed = True
        break

    if not removed:
        # step 3: verb suffixes, whole suffix inside RV (setlimit)
        for suf, kind in _RO_STEP3:
            pos = len(word) - len(suf)
            if not (word.endswith(suf) and pos >= rv):
                continue
            if kind == 1:
                if pos - 1 >= rv and pos >= 1 and (
                    word[pos - 1] not in _RO_VOWELS
                    or word[pos - 1] == "u"
                ):
                    word = word[:pos]
            else:
                word = word[:pos]
            break

    # step 4: final vowel — NOT setlimit: longest match over the whole
    # word, RV tested once, no fallback ('abie' keeps 'ie' outside RV)
    for suf in _RO_STEP4:
        if word.endswith(suf):
            if len(word) - len(suf) >= rv:
                word = word[: -len(suf)]
            break

    return word.replace("I", "i").replace("U", "u")


# -------------------------------------------------- Danish / Norwegian /
# Swedish: the Scandinavian family shares one shape — an R1-limited
# main-suffix among (suffix must lie WHOLLY in R1 to be a candidate),
# a consonant-pair shortening, an other-suffix among, and (Danish) an
# undouble. R1 start is clamped to >= 3.
_DA_VOWELS = "aeiouyæåø"
_DA_S_END = "abcdfghjklmnoprtvyzå"
_DA_STEP1 = sorted(
    ["hed", "ethed", "ered", "e", "erede", "ende", "erende", "ene",
     "erne", "ere", "en", "heden", "eren", "er", "heder", "erer", "s",
     "heds", "es", "endes", "erendes", "enes", "ernes", "eres", "ens",
     "hedens", "erens", "ers", "ets", "erets", "et", "eret"],
    key=len, reverse=True,
)
_DA_PAIRS = ("gd", "dt", "gt", "kt")
_DA_STEP3 = sorted(["ig", "lig", "elig", "els"], key=len, reverse=True)


def _scand_r1(word: str, vowels: str) -> int:
    r1, _ = _r_regions(word, vowels)
    return max(r1, 3)


def _limited_longest(word: str, sufs, region: int):
    """Longest suffix lying wholly inside the region (Snowball
    setlimit tomark p1: out-of-region suffixes are not candidates)."""
    for suf in sufs:
        if word.endswith(suf) and len(word) - len(suf) >= region:
            return suf
    return None


def danish_stem(word: str) -> str:
    word = word.lower()
    r1 = _scand_r1(word, _DA_VOWELS)

    # step 1: main suffix
    suf = _limited_longest(word, _DA_STEP1, r1)
    if suf == "s":
        if len(word) >= 2 and word[-2] in _DA_S_END:
            word = word[:-1]
    elif suf:
        word = word[: -len(suf)]

    def consonant_pair(w: str) -> str:
        if _limited_longest(w, _DA_PAIRS, r1):
            return w[:-1]
        return w

    # step 2
    word = consonant_pair(word)

    # step 3
    if word.endswith("igst"):
        word = word[:-2]
    if word.endswith("løst") and len(word) - 4 >= r1:
        word = word[:-1]
    else:
        suf = _limited_longest(word, _DA_STEP3, r1)
        if suf:
            word = word[: -len(suf)]
            word = consonant_pair(word)

    # step 4: undouble final consonant in R1
    if (
        len(word) >= 2
        and len(word) - 1 >= r1
        and word[-1] not in _DA_VOWELS
        and word[-1] == word[-2]
    ):
        word = word[:-1]
    return word


_NO_VOWELS = "aeiouyæåø"
_NO_S_END = "bcdfghjlmnoprtvyz"
_NO_STEP1 = sorted(
    [("a", 1), ("e", 1), ("ede", 1), ("ande", 1), ("ende", 1),
     ("ane", 1), ("ene", 1), ("hetene", 1), ("erte", 3), ("en", 1),
     ("heten", 1), ("ar", 1), ("er", 1), ("heter", 1), ("s", 2),
     ("as", 1), ("es", 1), ("edes", 1), ("endes", 1), ("enes", 1),
     ("hetenes", 1), ("ens", 1), ("hetens", 1), ("ers", 1),
     ("ets", 1), ("et", 1), ("het", 1), ("ert", 3), ("ast", 1)],
    key=lambda p: len(p[0]), reverse=True,
)
_NO_PAIRS = ("dt", "vt")
_NO_STEP3 = sorted(
    ["leg", "eleg", "ig", "eig", "lig", "elig", "els", "lov", "elov",
     "slov", "hetslov"],
    key=len, reverse=True,
)


def norwegian_stem(word: str) -> str:
    word = word.lower()
    r1 = _scand_r1(word, _NO_VOWELS)

    # step 1 (longest in-R1 candidate, conditions applied once)
    best = None
    for suf, kind in _NO_STEP1:
        if word.endswith(suf) and len(word) - len(suf) >= r1:
            best = (suf, kind)
            break
    if best:
        suf, kind = best
        if kind == 1:
            word = word[: -len(suf)]
        elif kind == 2:
            ok = len(word) >= 2 and (
                word[-2] in _NO_S_END
                or (
                    word[-2] == "k"
                    and (len(word) < 3 or word[-3] not in _NO_VOWELS)
                )
            )
            if ok:
                word = word[:-1]
        else:  # erte/ert -> er
            word = word[: -len(suf)] + "er"

    # step 2
    if _limited_longest(word, _NO_PAIRS, r1):
        word = word[:-1]

    # step 3
    suf = _limited_longest(word, _NO_STEP3, r1)
    if suf:
        word = word[: -len(suf)]
    return word


_SV_VOWELS = "aeiouyäåö"
_SV_S_END = "bcdfghjklmnoprtvy"
_SV_STEP1 = sorted(
    ["a", "arna", "erna", "heterna", "orna", "ad", "e", "ade", "ande",
     "arne", "are", "aste", "en", "anden", "aren", "heten", "ern",
     "ar", "er", "heter", "or", "s", "as", "arnas", "ernas", "ornas",
     "es", "ades", "andes", "ens", "arens", "hetens", "erns", "at",
     "andet", "het", "ast"],
    key=len, reverse=True,
)
_SV_PAIRS = ("dd", "gd", "nn", "dt", "gt", "kt", "tt")
_SV_STEP3 = sorted(["ig", "lig", "els"], key=len, reverse=True)


def swedish_stem(word: str) -> str:
    word = word.lower()
    r1 = _scand_r1(word, _SV_VOWELS)

    suf = _limited_longest(word, _SV_STEP1, r1)
    if suf == "s":
        if len(word) >= 2 and word[-2] in _SV_S_END:
            word = word[:-1]
    elif suf:
        word = word[: -len(suf)]

    if _limited_longest(word, _SV_PAIRS, r1):
        word = word[:-1]

    if word.endswith("fullt") and len(word) - 5 >= r1:
        word = word[:-1]
    elif word.endswith("löst") and len(word) - 4 >= r1:
        word = word[:-1]
    else:
        suf = _limited_longest(word, _SV_STEP3, r1)
        if suf:
            word = word[: -len(suf)]
    return word


# ---------------------------------------------------------------- Dutch
_NL_VOWELS = "aeiouyè"
_NL_UNDOUBLE = ("dd", "kk", "tt")


def _nl_prelude(word: str) -> str:
    word = (
        word.replace("á", "a").replace("ä", "a").replace("é", "e")
        .replace("ë", "e").replace("í", "i").replace("ï", "i")
        .replace("ó", "o").replace("ö", "o").replace("ú", "u")
        .replace("ü", "u")
    )
    chars = list(word)
    n = len(chars)
    if n and chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, n):
        if chars[i] == "y" and chars[i - 1] in _NL_VOWELS:
            chars[i] = "Y"
        elif (
            chars[i] == "i"
            and i + 1 < n
            and chars[i - 1] in _NL_VOWELS
            and chars[i + 1] in _NL_VOWELS
        ):
            chars[i] = "I"
    return "".join(chars)


def dutch_stem(word: str) -> str:
    word = _nl_prelude(word.lower())
    r1, r2 = _r_regions(word, _NL_VOWELS)
    r1 = max(r1, 3)

    def undouble(w: str) -> str:
        return w[:-1] if w.endswith(_NL_UNDOUBLE) else w

    def en_ok(w: str, pos: int) -> bool:
        # preceded by a non-vowel, and not by 'gem'
        return (
            pos >= 1
            and w[pos - 1] not in _NL_VOWELS
            and w[pos - 3: pos] != "gem"
        )

    # step 1: longest among picked ONCE; a failed condition ends the
    # step with no fallback ('abheden' matches 'heden', fails R1, and
    # stays whole — golden stem_golden_nl.tsv)
    for suf in ("heden", "ene", "en", "se", "s"):
        if not word.endswith(suf):
            continue
        pos = len(word) - len(suf)
        if suf == "heden":
            if pos >= r1:
                word = word[:pos] + "heid"
        elif suf in ("ene", "en"):
            if pos >= r1 and en_ok(word, pos):
                word = undouble(word[:pos])
        else:
            if pos >= r1 and pos >= 1 and (
                word[pos - 1] not in _NL_VOWELS + "j"
            ):
                word = word[:pos]
        break

    # step 2
    e_found = False
    if (
        word.endswith("e")
        and len(word) - 1 >= r1
        and len(word) >= 2
        and word[-2] not in _NL_VOWELS
    ):
        e_found = True
        word = undouble(word[:-1])

    # step 3a
    if (
        word.endswith("heid")
        and len(word) - 4 >= r2
        and (len(word) < 5 or word[-5] != "c")
    ):
        word = word[:-4]
        if word.endswith("en"):
            pos = len(word) - 2
            if pos >= r1 and en_ok(word, pos):
                word = undouble(word[:pos])

    # step 3b: d-suffixes (longest among)
    if word.endswith(("end", "ing")):
        pos = len(word) - 3
        if pos >= r2:
            word = word[:pos]
            if (
                word.endswith("ig")
                and len(word) - 2 >= r2
                and (len(word) < 3 or word[-3] != "e")
            ):
                word = word[:-2]
            else:
                word = undouble(word)
    elif word.endswith("ig"):
        pos = len(word) - 2
        if pos >= r2 and (pos < 1 or word[pos - 1] != "e"):
            word = word[:pos]
    elif word.endswith("lijk"):
        pos = len(word) - 4
        if pos >= r2:
            word = word[:pos]
            # repeat step 2
            if (
                word.endswith("e")
                and len(word) - 1 >= r1
                and len(word) >= 2
                and word[-2] not in _NL_VOWELS
            ):
                word = undouble(word[:-1])
    elif word.endswith("baar"):
        pos = len(word) - 4
        if pos >= r2:
            word = word[:pos]
    elif word.endswith("bar"):
        pos = len(word) - 3
        if pos >= r2 and e_found:
            word = word[:pos]

    # step 4: undouble vowel — C + aa/ee/oo/uu + D (D a non-vowel
    # other than I) loses one vowel
    if (
        len(word) >= 4
        and word[-1] not in _NL_VOWELS
        and word[-1] != "I"
        and word[-2] == word[-3]
        and word[-2] in "aeou"
        and word[-4] not in _NL_VOWELS
    ):
        word = word[:-2] + word[-1]

    return word.replace("I", "i").replace("Y", "y")


# ------------------------------------------------------------- dispatch
# libstemmer's alias table (modules_utf8.txt): every module answers to
# its English name plus ISO-639 2- and 3-letter codes. All ports are
# oracle-verified byte-exact against the reference's compiled
# libstemmer over tests/data/stem_golden_*.tsv (82k pairs).
_STEMMERS: dict[str, object] = {}


def _reg(fn, *aliases):
    for a in aliases:
        _STEMMERS[a] = fn


_reg(english_stem, "english", "en", "eng")
_reg(german_stem, "german", "de", "ger", "deu")
_reg(italian_stem, "italian", "it", "ita")
_reg(russian_stem, "russian", "ru", "rus")
_reg(spanish_stem, "spanish", "es", "esl", "spa")
_reg(portuguese_stem, "portuguese", "pt", "por")
_reg(french_stem, "french", "fr", "fre", "fra")
_reg(danish_stem, "danish", "da", "dan")
_reg(norwegian_stem, "norwegian", "no", "nor")
_reg(swedish_stem, "swedish", "sv", "swe")
_reg(dutch_stem, "dutch", "nl", "dut", "nld")
_reg(romanian_stem, "romanian", "ro", "rum", "ron")
_reg(finnish_stem, "finnish", "fi", "fin")
_reg(hungarian_stem, "hungarian", "hu", "hun")


def _turkish(word: str) -> str:
    from fourstore_spark.operators.turkish import turkish_stem

    return turkish_stem(word)


_reg(_turkish, "turkish", "tr", "tur")


def stemmer_for(lang: str | None):
    """Language tag -> stem function, the reference's buffer_stems way:
    lowercase, truncate at the first non-letter ("it-GB" -> "it"), None
    -> "en"; an unknown language yields NO stemmer (import.c:676-679
    sb_stemmer_new returns NULL and the literal gets no stem quads).
    All 16 libstemmer modules have byte-exact ports (the classic
    Porter port answers the 'porter' module alias)."""
    from fourstore_spark.operators.fulltext import _porter_stem

    if not lang:
        code = "en"
    else:
        code = ""
        for ch in lang.lower():
            if "a" <= ch <= "z":
                code += ch
            else:
                break
    if code == "porter":
        return _porter_stem
    return _STEMMERS.get(code)
