"""Stemmers for the language analyzer chains, each implemented TWICE
from one shared rule table: a Python per-term transform (applied to the
token DICTIONARY at build time and to query terms at search time — cost
scales with vocabulary, not corpus; see analysis.ANALYZERS) and a
machine-generated DuckDB SQL expression (the independent correctness
oracle). tests/test_stem.py pins the paper's vectors and cross-checks
Python vs SQL over the real corpus vocabulary.

``porter_stem`` follows M.F. Porter, "An algorithm for suffix
stripping", Program 14(3) 1980 — the public algorithm the reference
ships as the PorterStemFilterFactory slot of its language analyzer
registry (solr/server/solr/configsets/_default/conf/managed-schema.xml
text_en fieldType; capability anchor CORE/schema/TextField.java:1).
Within each step the LONGEST matching suffix decides the rule; its
condition then gates the replacement (a failed condition does NOT fall
through to shorter suffixes).

``german_minimal_stem`` is a documented minimal German plural/case
stripper in the spirit of the reference's text_de chain (umlaut folding
+ ending removal, cf. J. Savoy, "Light stemming approaches for the
French, Portuguese, German and Hungarian languages", SAC 2006). The
exact rule table is pinned below and mirrored in SQL; we do not claim
bit-level parity with any particular Lucene filter.
"""

from __future__ import annotations

import re

VOWELS = "aeiou"

# ---------------------------------------------------------------------------
# shared Porter rule tables (suffix, replacement); conditions per step.

STEP2_RULES: list[tuple[str, str]] = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
    ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
    ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
    ("ation", "ate"), ("ator", "ate"), ("alism", "al"),
    ("iveness", "ive"), ("fulness", "ful"), ("ousness", "ous"),
    ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
]

STEP3_RULES: list[tuple[str, str]] = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

STEP4_SUFFIXES: list[str] = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def _longest_first(rules):
    return sorted(rules, key=lambda r: -len(r[0] if isinstance(r, tuple) else r))


# ---------------------------------------------------------------------------
# Python implementation

def _pat(w: str) -> str:
    """Consonant/vowel pattern. Porter: a consonant is a letter other
    than a,e,i,o,u and other than y preceded by a consonant (so 'y'
    after a consonant is a VOWEL; leading 'y' is a consonant). Digits
    and '_' (legal in this engine's code tokens) are consonants."""
    out: list[str] = []
    for i, ch in enumerate(w):
        if ch in VOWELS:
            out.append("v")
        elif ch == "y" and i > 0 and out[-1] == "c":
            out.append("v")
        else:
            out.append("c")
    return "".join(out)


def _m(stem: str) -> int:
    """The measure m: number of VC sequences in the collapsed pattern
    [C](VC)^m[V]."""
    q = re.sub("c+", "C", _pat(stem))
    q = re.sub("v+", "V", q)
    return q.count("VC")


def _has_v(stem: str) -> bool:
    return "v" in _pat(stem)


def _dbl_c(w: str) -> bool:
    """*d — ends with a double consonant (same letter twice, consonant
    by the pattern rule — 'yy' after a consonant is cv, not cc)."""
    return len(w) >= 2 and w[-1] == w[-2] and _pat(w)[-1] == "c"


def _cvc(w: str) -> bool:
    """*o — ends cvc where the final consonant is not w, x or y."""
    return len(w) >= 3 and _pat(w)[-3:] == "cvc" and w[-1] not in "wxy"


def _1b_cleanup(w: str) -> str:
    if w.endswith(("at", "bl", "iz")):
        return w + "e"
    if _dbl_c(w) and w[-1] not in "lsz":
        return w[:-1]
    if _m(w) == 1 and _cvc(w):
        return w + "e"
    return w


def porter_stem(w: str) -> str:
    """The 1980 paper's 5-step algorithm; words of length <= 2 pass
    through (the guard Porter's own implementation applies)."""
    if len(w) <= 2:
        return w
    # step 1a: sses->ss, ies->i, ss->ss, s->
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b: (m>0) eed->ee | (*v*) ed-> | (*v*) ing-> (+ cleanup)
    if w.endswith("eed"):
        if _m(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _has_v(w[:-2]):
        w = _1b_cleanup(w[:-2])
    elif w.endswith("ing") and _has_v(w[:-3]):
        w = _1b_cleanup(w[:-3])
    # step 1c: (*v*) y->i
    if w.endswith("y") and _has_v(w[:-1]):
        w = w[:-1] + "i"
    # step 2: (m>0) suffix table
    for suf, rep in _longest_first(STEP2_RULES):
        if w.endswith(suf):
            st = w[: -len(suf)]
            if _m(st) > 0:
                w = st + rep
            break
    # step 3: (m>0) suffix table
    for suf, rep in _longest_first(STEP3_RULES):
        if w.endswith(suf):
            st = w[: -len(suf)]
            if _m(st) > 0:
                w = st + rep
            break
    # step 4: (m>1) strip; 'ion' additionally requires stem ending s/t
    for suf in _longest_first(STEP4_SUFFIXES):
        if w.endswith(suf):
            st = w[: -len(suf)]
            if _m(st) > 1 and (suf != "ion" or st.endswith(("s", "t"))):
                w = st
            break
    # step 5a: (m>1) e-> | (m=1 and not *o) e->
    if w.endswith("e"):
        st = w[:-1]
        mm = _m(st)
        if mm > 1 or (mm == 1 and not _cvc(st)):
            w = st
    # step 5b: (m>1 and *d and *L) -> single letter
    if w.endswith("ll") and _m(w) > 1:
        w = w[:-1]
    return w


# ---------------------------------------------------------------------------
# DuckDB SQL generation.  bind(name=expr, body) — the single-element
# list_transform trick — gives each intermediate a lambda variable so
# the generated text stays linear in the number of rules instead of
# exploding exponentially through 7 sequential steps.

def _bind(name: str, expr: str, body: str) -> str:
    return f"list_transform([{expr}], {name} -> {body})[1]"


_COUNTER = 0


def _fresh(prefix: str) -> str:
    global _COUNTER
    _COUNTER += 1
    return f"{prefix}{_COUNTER}"


def _pat_sql(e: str) -> str:
    """SQL mirror of _pat via a left-to-right list_reduce (exact 'y'
    resolution, including runs like 'syzygy' and leading 'y')."""
    acc, ch = _fresh("a"), _fresh("h")
    vset = ", ".join(f"'{v}'" for v in VOWELS)
    return (
        f"list_reduce(list_prepend('', split({e}, '')), ({acc}, {ch}) -> "
        f"{acc} || (CASE WHEN {ch} IN ({vset}) THEN 'v' "
        f"WHEN {ch} = 'y' AND {acc} <> '' AND substr({acc}, -1) = 'c' THEN 'v' "
        f"ELSE 'c' END))"
    )


def _m_from_pat(p: str) -> str:
    """m given a bound pattern variable: collapse runs, count 'VC'."""
    q = _fresh("q")
    collapsed = (
        f"regexp_replace(regexp_replace({p}, 'c+', 'C', 'g'), 'v+', 'V', 'g')"
    )
    return _bind(q, collapsed,
                 f"(length({q}) - length(replace({q}, 'VC', ''))) // 2")


def _cond_branch(v: str, suf: str, rep: str, cond: str) -> str:
    """One suffix branch: bind the stem and its pattern, test ``cond``
    (a format string over {m}, {st}, {p}), emit stem+replacement or the
    unchanged word."""
    st, p = _fresh("s"), _fresh("p")
    body = (
        f"CASE WHEN {cond.format(m=_m_from_pat(p), st=st, p=p)} "
        f"THEN {st} || '{rep}' ELSE {v} END"
        if rep
        else f"CASE WHEN {cond.format(m=_m_from_pat(p), st=st, p=p)} "
             f"THEN {st} ELSE {v} END"
    )
    inner = _bind(p, _pat_sql(st), body)
    return _bind(st, f"substr({v}, 1, length({v}) - {len(suf)})", inner)


def _step_table_sql(v: str, rules, cond_for) -> str:
    """CASE over suffixes, longest first (the Porter longest-match
    discipline); each branch gates on its own stem condition."""
    whens = []
    for rule in _longest_first(rules):
        suf, rep = rule if isinstance(rule, tuple) else (rule, "")
        whens.append(
            f"WHEN {v} LIKE '%{suf}' THEN "
            + _cond_branch(v, suf, rep, cond_for(suf))
        )
    return "CASE " + " ".join(whens) + f" ELSE {v} END"


def _dbl_c_sql(w: str, p: str) -> str:
    return (f"(length({w}) >= 2 AND substr({w}, -1) = substr({w}, -2, 1) "
            f"AND substr({p}, -1) = 'c')")


def _cvc_sql(w: str, p: str) -> str:
    return (f"(substr({p}, -3) = 'cvc' "
            f"AND substr({w}, -1) NOT IN ('w', 'x', 'y'))")


def _1b_cleanup_sql(w: str) -> str:
    p = _fresh("p")
    body = (
        f"CASE WHEN {w} LIKE '%at' OR {w} LIKE '%bl' OR {w} LIKE '%iz' "
        f"THEN {w} || 'e' "
        f"WHEN {_dbl_c_sql(w, p)} AND substr({w}, -1) NOT IN ('l','s','z') "
        f"THEN substr({w}, 1, length({w}) - 1) "
        f"WHEN {_m_from_pat(p)} = 1 AND {_cvc_sql(w, p)} THEN {w} || 'e' "
        f"ELSE {w} END"
    )
    return _bind(p, _pat_sql(w), body)


def porter_sql(var: str = "x") -> str:
    """Emit a single DuckDB expression computing porter_stem(var),
    machine-generated from the SAME rule tables as the Python
    implementation (usable inside a list_transform lambda)."""
    w0 = var
    # step 1a (no conditions)
    s1a = (
        f"CASE WHEN {w0} LIKE '%sses' THEN substr({w0}, 1, length({w0}) - 2) "
        f"WHEN {w0} LIKE '%ies' THEN substr({w0}, 1, length({w0}) - 2) "
        f"WHEN {w0} LIKE '%ss' THEN {w0} "
        f"WHEN {w0} LIKE '%s' THEN substr({w0}, 1, length({w0}) - 1) "
        f"ELSE {w0} END"
    )
    a = _fresh("w")

    # step 1b
    def eed_branch(v):
        st, p = _fresh("s"), _fresh("p")
        body = (f"CASE WHEN {_m_from_pat(p)} > 0 "
                f"THEN substr({v}, 1, length({v}) - 1) ELSE {v} END")
        inner = _bind(p, _pat_sql(st), body)
        return _bind(st, f"substr({v}, 1, length({v}) - 3)", inner)

    def eding_branch(v, suf):
        st = _fresh("s")
        body = (f"CASE WHEN contains({_pat_sql(st)}, 'v') "
                f"THEN {_1b_cleanup_sql(st)} ELSE {v} END")
        return _bind(st, f"substr({v}, 1, length({v}) - {len(suf)})", body)

    s1b = (
        f"CASE WHEN {a} LIKE '%eed' THEN {eed_branch(a)} "
        f"WHEN {a} LIKE '%ed' THEN {eding_branch(a, 'ed')} "
        f"WHEN {a} LIKE '%ing' THEN {eding_branch(a, 'ing')} "
        f"ELSE {a} END"
    )
    b = _fresh("w")

    # step 1c
    st1c = _fresh("s")
    s1c = (
        f"CASE WHEN {b} LIKE '%y' THEN "
        + _bind(
            st1c, f"substr({b}, 1, length({b}) - 1)",
            f"CASE WHEN contains({_pat_sql(st1c)}, 'v') "
            f"THEN {st1c} || 'i' ELSE {b} END",
        )
        + f" ELSE {b} END"
    )
    c = _fresh("w")

    s2 = _step_table_sql(c, STEP2_RULES, lambda suf: "{m} > 0")
    d = _fresh("w")
    s3 = _step_table_sql(d, STEP3_RULES, lambda suf: "{m} > 0")
    e = _fresh("w")
    s4 = _step_table_sql(
        e, STEP4_SUFFIXES,
        lambda suf: (
            "{m} > 1 AND (substr({st}, -1) IN ('s', 't'))"
            if suf == "ion" else "{m} > 1"
        ),
    )
    f = _fresh("w")

    # step 5a
    st5, p5 = _fresh("s"), _fresh("p")
    m5 = _m_from_pat(p5)
    s5a = (
        f"CASE WHEN {f} LIKE '%e' THEN "
        + _bind(
            st5, f"substr({f}, 1, length({f}) - 1)",
            _bind(
                p5, _pat_sql(st5),
                f"CASE WHEN {m5} > 1 OR ({m5} = 1 AND NOT {_cvc_sql(st5, p5)}) "
                f"THEN {st5} ELSE {f} END",
            ),
        )
        + f" ELSE {f} END"
    )
    g = _fresh("w")

    # step 5b
    pg = _fresh("p")
    s5b = (
        f"CASE WHEN {g} LIKE '%ll' AND "
        + _bind(pg, _pat_sql(g), f"{_m_from_pat(pg)} > 1")
        + f" THEN substr({g}, 1, length({g}) - 1) ELSE {g} END"
    )

    chain = _bind(a, s1a,
            _bind(b, s1b,
            _bind(c, s1c,
            _bind(d, s2,
            _bind(e, s3,
            _bind(f, s4,
            _bind(g, s5a, s5b)))))))
    # length <= 2 guard
    return f"CASE WHEN length({var}) <= 2 THEN {var} ELSE {chain} END"


# ---------------------------------------------------------------------------
# German minimal chain (umlaut folding + plural/case ending removal)

_DE_FOLD = str.maketrans({"ä": "a", "ö": "o", "ü": "u"})


def german_minimal_stem(w: str) -> str:
    """Fold umlauts (ä→a ö→o ü→u, ß→ss), then strip ONE ending by the
    pinned rule table (longest match, length guards keep short words
    whole): len>5 & 'nen'→-3; len>4 & en/er/es/em/se→-2;
    len>3 & e/n/r/s→-1."""
    w = w.translate(_DE_FOLD).replace("ß", "ss")
    if len(w) > 5 and w.endswith("nen"):
        return w[:-3]
    if len(w) > 4 and w.endswith(("en", "er", "es", "em", "se")):
        return w[:-2]
    if len(w) > 3 and w.endswith(("e", "n", "r", "s")):
        return w[:-1]
    return w


def german_minimal_sql(var: str = "x") -> str:
    """SQL mirror of german_minimal_stem (same rule table)."""
    v = _fresh("g")
    body = (
        f"CASE WHEN length({v}) > 5 AND {v} LIKE '%nen' "
        f"THEN substr({v}, 1, length({v}) - 3) "
        f"WHEN length({v}) > 4 AND ({v} LIKE '%en' OR {v} LIKE '%er' OR "
        f"{v} LIKE '%es' OR {v} LIKE '%em' OR {v} LIKE '%se') "
        f"THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN length({v}) > 3 AND ({v} LIKE '%e' OR {v} LIKE '%n' OR "
        f"{v} LIKE '%r' OR {v} LIKE '%s') "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    fold = (f"replace(translate({var}, 'äöü', 'aou'), 'ß', 'ss')")
    return _bind(v, fold, body)


# ---------------------------------------------------------------------------
# French minimal chain (accent folding + Savoy-style light ending removal)

_FR_FOLD = str.maketrans({
    "é": "e", "è": "e", "ê": "e", "ë": "e", "à": "a", "â": "a",
    "î": "i", "ï": "i", "ô": "o", "ù": "u", "û": "u", "ç": "c",
})


def french_minimal_stem(w: str) -> str:
    """French light stemmer in the spirit of the reference's text_fr
    FrenchLightStemFilter slot (J. Savoy, "Light stemming approaches for
    the French, Portuguese, German and Hungarian languages", SAC 2006 —
    the public algorithm family Lucene's FrenchMinimalStemmer implements).
    The exact rule table is pinned HERE and mirrored in SQL; we do not
    claim bit parity with any particular Lucene filter:

      0. fold accents (é/è/ê/ë→e, à/â→a, î/ï→i, ô→o, ù/û→u, ç→c)
      1. len < 6: unchanged
      2. ends 'aux' → 'al'  (chevaux→cheval); else ends 'x' → drop it
      3. otherwise strip in order: final 's', then final 'r', then final
         'e', then collapse a final doubled letter (belle→bel)
    """
    w = w.translate(_FR_FOLD)
    if len(w) < 6:
        return w
    if w.endswith("aux"):
        return w[:-3] + "al"
    if w.endswith("x"):
        return w[:-1]
    if w.endswith("s"):
        w = w[:-1]
    if w.endswith("r"):
        w = w[:-1]
    if w.endswith("e"):
        w = w[:-1]
    if len(w) > 1 and w[-1] == w[-2]:
        w = w[:-1]
    return w


def french_minimal_sql(var: str = "x") -> str:
    """SQL mirror of french_minimal_stem (same rule table, same order)."""
    v0 = _fresh("f")
    v1 = _fresh("f")
    v2 = _fresh("f")
    v3 = _fresh("f")
    fold = f"translate({var}, 'éèêëàâîïôùûç', 'eeeeaaiiouuc')"
    e1 = (
        f"CASE WHEN {v0} LIKE '%s' THEN substr({v0}, 1, length({v0}) - 1) "
        f"ELSE {v0} END"
    )
    e2 = (
        f"CASE WHEN {v1} LIKE '%r' THEN substr({v1}, 1, length({v1}) - 1) "
        f"ELSE {v1} END"
    )
    e3 = (
        f"CASE WHEN {v2} LIKE '%e' THEN substr({v2}, 1, length({v2}) - 1) "
        f"ELSE {v2} END"
    )
    dedup = (
        f"CASE WHEN length({v3}) > 1 AND "
        f"substr({v3}, length({v3}), 1) = substr({v3}, length({v3}) - 1, 1) "
        f"THEN substr({v3}, 1, length({v3}) - 1) ELSE {v3} END"
    )
    chain = _bind(v1, e1, _bind(v2, e2, _bind(v3, e3, dedup)))
    body = (
        f"CASE WHEN length({v0}) < 6 THEN {v0} "
        f"WHEN {v0} LIKE '%aux' THEN substr({v0}, 1, length({v0}) - 3) || 'al' "
        f"WHEN {v0} LIKE '%x' THEN substr({v0}, 1, length({v0}) - 1) "
        f"ELSE {chain} END"
    )
    return _bind(v0, fold, body)


# ---------------------------------------------------------------------------
# Spanish light chain (accent folding + plural/gender ending removal)

_ES_FOLD = str.maketrans({
    "á": "a", "é": "e", "í": "i", "ó": "o", "ú": "u", "ü": "u",
})


def spanish_light_stem(w: str) -> str:
    """Spanish light stemmer in the spirit of the reference's text_es
    SpanishLightStemFilter slot (J. Savoy, "Report on CLEF-2001
    experiments" light-stemmer family — the public algorithm family
    Lucene's SpanishLightStemmer implements). The exact rule table is
    pinned HERE and mirrored in SQL; no bit-parity claim with any
    particular Lucene filter:

      0. fold accents (á→a é→e í→i ó→o ú→u ü→u)
      1. len < 5: unchanged
      2. ends 'ces'  → 'z'        (luces→luz)
      3. ends 'os'/'as'/'es' → strip 2  (gatos→gat, ciudades→ciudad)
      4. ends 'o'/'a'/'e'    → strip 1  (gato→gat)
    The first matching rule decides (no fall-through)."""
    w = w.translate(_ES_FOLD)
    if len(w) < 5:
        return w
    if w.endswith("ces"):
        return w[:-3] + "z"
    if w.endswith(("os", "as", "es")):
        return w[:-2]
    if w.endswith(("o", "a", "e")):
        return w[:-1]
    return w


def spanish_light_sql(var: str = "x") -> str:
    """SQL mirror of spanish_light_stem (same rule table, same order)."""
    v = _fresh("e")
    body = (
        f"CASE WHEN length({v}) < 5 THEN {v} "
        f"WHEN {v} LIKE '%ces' THEN substr({v}, 1, length({v}) - 3) || 'z' "
        f"WHEN {v} LIKE '%os' OR {v} LIKE '%as' OR {v} LIKE '%es' "
        f"THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN {v} LIKE '%o' OR {v} LIKE '%a' OR {v} LIKE '%e' "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    fold = f"translate({var}, 'áéíóúü', 'aeiouu')"
    return _bind(v, fold, body)


# ---------------------------------------------------------------------------
# Italian light chain (accent folding + final-vowel removal)

_IT_FOLD = str.maketrans({
    "à": "a", "è": "e", "é": "e", "ì": "i", "í": "i", "ò": "o",
    "ó": "o", "ù": "u", "ú": "u",
})


def italian_light_stem(w: str) -> str:
    """Italian light stemmer in the spirit of the reference's text_it
    ItalianLightStemFilter slot (Savoy CLEF light-stemmer family — the
    public algorithm family Lucene's ItalianLightStemmer implements).
    Pinned rule table, mirrored in SQL; no bit-parity claim:

      0. fold accents (à→a è/é→e ì/í→i ò/ó→o ù/ú→u)
      1. len < 5: unchanged
      2. ends in a vowel among a/e/i/o → strip it
      3. if the result still ends in 'i' and len > 4 → strip it too
         (studii→studi→stud; plural -i after the gender vowel)"""
    w = w.translate(_IT_FOLD)
    if len(w) < 5:
        return w
    if w[-1] in "aeio":
        w = w[:-1]
        if len(w) > 4 and w[-1] == "i":
            w = w[:-1]
    return w


def italian_light_sql(var: str = "x") -> str:
    """SQL mirror of italian_light_stem (same rule table, same order)."""
    v = _fresh("i")
    s = _fresh("i")
    inner = (
        f"CASE WHEN length({s}) > 4 AND {s} LIKE '%i' "
        f"THEN substr({s}, 1, length({s}) - 1) ELSE {s} END"
    )
    body = (
        f"CASE WHEN length({v}) < 5 THEN {v} "
        f"WHEN substr({v}, -1) IN ('a', 'e', 'i', 'o') THEN "
        + _bind(s, f"substr({v}, 1, length({v}) - 1)", inner)
        + f" ELSE {v} END"
    )
    fold = f"translate({var}, 'àèéìíòóùú', 'aeeiioouu')"
    return _bind(v, fold, body)


# ---------------------------------------------------------------------------
# Portuguese minimal chain (plural reduction, then accent folding)

_PT_FOLD = str.maketrans({
    "ã": "a", "á": "a", "â": "a", "à": "a", "é": "e", "ê": "e",
    "í": "i", "ó": "o", "ô": "o", "õ": "o", "ú": "u", "ç": "c",
})


def portuguese_minimal_stem(w: str) -> str:
    """Portuguese minimal stemmer in the spirit of the reference's
    text_pt PortugueseMinimalStemFilter slot (plural-reduction step of
    V. Orengo & C. Huyck, "A Stemming Algorithm for the Portuguese
    Language", SPIRE 2001 — the public algorithm Lucene's
    PortugueseMinimalStemmer derives from). Pinned rule table, mirrored
    in SQL; no bit-parity claim. Plural reduction runs BEFORE accent
    folding (the 'ões'→'ão' rule needs the tilde):

      1. len < 5: fold accents only
      2. ends 'ões'/'ães' → 'ão'   (limões→limão, cães→cão)
      3. ends 'ais' → 'al', 'éis'/'eis' → 'el', 'óis'/'ois' → 'ol',
         'uis' → 'ul'              (animais→animal, papéis→papel)
      4. ends 'ns' → 'm'           (bens→bem)
      5. ends 's' (not 'ês'/'is')  → strip 1  (gatos→gato)
      6. fold accents (ã/á/â/à→a é/ê→e í→i ó/ô/õ→o ú→u ç→c)"""
    if len(w) >= 5:
        if w.endswith(("ões", "ães")):
            w = w[:-3] + "ão"
        elif w.endswith("ais"):
            w = w[:-3] + "al"
        elif w.endswith(("éis", "eis")):
            w = w[:-3] + "el"
        elif w.endswith(("óis", "ois")):
            w = w[:-3] + "ol"
        elif w.endswith("uis"):
            w = w[:-3] + "ul"
        elif w.endswith("ns"):
            w = w[:-2] + "m"
        elif w.endswith("s") and not w.endswith(("ês", "is")):
            w = w[:-1]
    return w.translate(_PT_FOLD)


def portuguese_minimal_sql(var: str = "x") -> str:
    """SQL mirror of portuguese_minimal_stem (same rule table, same
    order — plural reduction on the UNFOLDED word, fold last)."""
    v = _fresh("t")
    body = (
        f"CASE WHEN length({v}) < 5 THEN {v} "
        f"WHEN {v} LIKE '%ões' OR {v} LIKE '%ães' "
        f"THEN substr({v}, 1, length({v}) - 3) || 'ão' "
        f"WHEN {v} LIKE '%ais' THEN substr({v}, 1, length({v}) - 3) || 'al' "
        f"WHEN {v} LIKE '%éis' OR {v} LIKE '%eis' "
        f"THEN substr({v}, 1, length({v}) - 3) || 'el' "
        f"WHEN {v} LIKE '%óis' OR {v} LIKE '%ois' "
        f"THEN substr({v}, 1, length({v}) - 3) || 'ol' "
        f"WHEN {v} LIKE '%uis' THEN substr({v}, 1, length({v}) - 3) || 'ul' "
        f"WHEN {v} LIKE '%ns' THEN substr({v}, 1, length({v}) - 2) || 'm' "
        f"WHEN {v} LIKE '%s' AND NOT ({v} LIKE '%ês' OR {v} LIKE '%is') "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    reduced = _bind(v, var, body)
    return f"translate({reduced}, 'ãáâàéêíóôõúç', 'aaaaeeiooouc')"


# ---------------------------------------------------------------------------
# Swedish light chain (plural/definite-form ending removal)


def swedish_light_stem(w: str) -> str:
    """Swedish light stemmer in the spirit of the reference's text_sv
    SwedishLightStemFilter slot (Savoy CLEF light-stemmer family — the
    public algorithm family Lucene's SwedishLightStemmer implements).
    The exact rule table is pinned HERE and mirrored in SQL; no
    bit-parity claim with any particular Lucene filter. First matching
    tier decides (no fall-through); each tier carries its own length
    guard so a strip never leaves fewer than three letters:

      1. len >= 7, ends 'arna'/'erna'/'orna'/'ande'/'aste' -> strip 4
         (bilarna->bil, husen... flickorna->flick)
      2. len >= 6, ends 'are'/'ast'/'het' -> strip 3  (starkast->stark)
      3. len >= 5, ends 'ar'/'er'/'or'/'en'/'at'/'et' -> strip 2
         (hundar->hund, huset->hus)
      4. len >= 5, ends 'a'/'e'/'n'/'t' -> strip 1   (flicka->flick)
    """
    n = len(w)
    if n >= 7 and w.endswith(("arna", "erna", "orna", "ande", "aste")):
        return w[:-4]
    if n >= 6 and w.endswith(("are", "ast", "het")):
        return w[:-3]
    if n >= 5 and w.endswith(("ar", "er", "or", "en", "at", "et")):
        return w[:-2]
    if n >= 5 and w[-1] in "aent":
        return w[:-1]
    return w


def swedish_light_sql(var: str = "x") -> str:
    """SQL mirror of swedish_light_stem (same rule table, same order)."""
    v = _fresh("s")
    body = (
        f"CASE WHEN length({v}) >= 7 AND ({v} LIKE '%arna' OR {v} LIKE '%erna' "
        f"OR {v} LIKE '%orna' OR {v} LIKE '%ande' OR {v} LIKE '%aste') "
        f"THEN substr({v}, 1, length({v}) - 4) "
        f"WHEN length({v}) >= 6 AND ({v} LIKE '%are' OR {v} LIKE '%ast' "
        f"OR {v} LIKE '%het') THEN substr({v}, 1, length({v}) - 3) "
        f"WHEN length({v}) >= 5 AND ({v} LIKE '%ar' OR {v} LIKE '%er' "
        f"OR {v} LIKE '%or' OR {v} LIKE '%en' OR {v} LIKE '%at' "
        f"OR {v} LIKE '%et') THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN length({v}) >= 5 AND substr({v}, -1) IN ('a', 'e', 'n', 't') "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    return _bind(v, var, body)


# ---------------------------------------------------------------------------
# Norwegian minimal chain (definite/plural ending removal)


def norwegian_minimal_stem(w: str) -> str:
    """Norwegian minimal stemmer in the spirit of the reference's
    text_no NorwegianMinimalStemFilter slot (the public
    definite/plural-reduction table Lucene's NorwegianMinimalStemmer
    implements). Pinned rule table, mirrored in SQL; no bit-parity
    claim. First matching tier decides:

      1. len >= 6, ends 'ene'/'ane'/'ete' -> strip 3  (husene->hus)
      2. len >= 5, ends 'er'/'en'/'et'/'ar'/'as'/'es' -> strip 2
         (hester->hest, huset->hus, gutten->gutt)
      3. len >= 5, ends 'a'/'e' -> strip 1            (jenta->jent)
    """
    n = len(w)
    if n >= 6 and w.endswith(("ene", "ane", "ete")):
        return w[:-3]
    if n >= 5 and w.endswith(("er", "en", "et", "ar", "as", "es")):
        return w[:-2]
    if n >= 5 and w[-1] in "ae":
        return w[:-1]
    return w


def norwegian_minimal_sql(var: str = "x") -> str:
    """SQL mirror of norwegian_minimal_stem (same table, same order)."""
    v = _fresh("n")
    body = (
        f"CASE WHEN length({v}) >= 6 AND ({v} LIKE '%ene' OR {v} LIKE '%ane' "
        f"OR {v} LIKE '%ete') THEN substr({v}, 1, length({v}) - 3) "
        f"WHEN length({v}) >= 5 AND ({v} LIKE '%er' OR {v} LIKE '%en' "
        f"OR {v} LIKE '%et' OR {v} LIKE '%ar' OR {v} LIKE '%as' "
        f"OR {v} LIKE '%es') THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN length({v}) >= 5 AND substr({v}, -1) IN ('a', 'e') "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    return _bind(v, var, body)


# ---------------------------------------------------------------------------
# Hungarian light chain (case/plural ending removal — completes the
# Savoy SAC-2006 quartet: French, Portuguese, German, Hungarian)


def hungarian_light_stem(w: str) -> str:
    """Hungarian light stemmer in the spirit of the reference's text_hu
    HungarianLightStemFilter slot (J. Savoy, "Light stemming approaches
    for the French, Portuguese, German and Hungarian languages", SAC
    2006 — the public algorithm family Lucene's HungarianLightStemmer
    implements). Pinned rule table, mirrored in SQL; no bit-parity
    claim. Accented vowels do not survive this engine's [a-z0-9_]+
    token contract, so the table is written over the folded forms.
    First matching tier decides:

      1. len >= 7, ends 'okat'/'eket'/'akat' -> strip 4
         (hajokat->hajo... autokat->auto: accusative plural)
      2. len >= 6, ends 'nak'/'nek'/'val'/'vel'/'ban'/'ben'/'bol'/
         'rol'/'tol'/'hoz'/'hez' -> strip 3   (hazban->haz: case endings)
      3. len >= 5, ends 'ok'/'ek'/'ak'/'ot'/'et'/'at'/'on'/'en'/'an'/
         'ba'/'be'/'ra'/'re'/'ul'/'ig' -> strip 2  (hazak->haz)
      4. len >= 5, ends 'k'/'t'/'a'/'e'/'o' -> strip 1  (hazat... kert)
    """
    n = len(w)
    if n >= 7 and w.endswith(("okat", "eket", "akat")):
        return w[:-4]
    if n >= 6 and w.endswith(("nak", "nek", "val", "vel", "ban", "ben",
                              "bol", "rol", "tol", "hoz", "hez")):
        return w[:-3]
    if n >= 5 and w.endswith(("ok", "ek", "ak", "ot", "et", "at", "on",
                              "en", "an", "ba", "be", "ra", "re", "ul",
                              "ig")):
        return w[:-2]
    if n >= 5 and w[-1] in "ktaeo":
        return w[:-1]
    return w


def hungarian_light_sql(var: str = "x") -> str:
    """SQL mirror of hungarian_light_stem (same table, same order)."""
    v = _fresh("h")
    t3 = " OR ".join(f"{v} LIKE '%{s}'" for s in (
        "nak", "nek", "val", "vel", "ban", "ben", "bol", "rol", "tol",
        "hoz", "hez"))
    t2 = " OR ".join(f"{v} LIKE '%{s}'" for s in (
        "ok", "ek", "ak", "ot", "et", "at", "on", "en", "an", "ba", "be",
        "ra", "re", "ul", "ig"))
    body = (
        f"CASE WHEN length({v}) >= 7 AND ({v} LIKE '%okat' OR {v} LIKE '%eket' "
        f"OR {v} LIKE '%akat') THEN substr({v}, 1, length({v}) - 4) "
        f"WHEN length({v}) >= 6 AND ({t3}) THEN substr({v}, 1, length({v}) - 3) "
        f"WHEN length({v}) >= 5 AND ({t2}) THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN length({v}) >= 5 AND substr({v}, -1) IN "
        f"('k', 't', 'a', 'e', 'o') THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    return _bind(v, var, body)


# ---------------------------------------------------------------------------
# Dutch minimal chain (plural/diminutive reduction)


def dutch_minimal_stem(w: str) -> str:
    """Dutch minimal stemmer in the spirit of the reference's text_nl
    chain (the plural/diminutive-reduction core of the public
    Kraaij-Pohlmann / Snowball Dutch family). Pinned rule table,
    mirrored in SQL; no bit-parity claim. First matching tier decides:

      1. len >= 8, ends 'heden' -> 'heid'
         (mogelijkheden->mogelijkheid)
      2. len >= 6, ends 'tje'/'pje'/'kje'/'jes' -> strip 3
         (boompje->boom, boekjes->boek)
      3. len >= 5, ends 'je' -> strip 2              (huisje->huis)
      4. len >= 5, ends 'en' (not 'een') -> strip 2, then collapse a
         final doubled letter   (katten->katt->kat, lopen->lop)
      5. len >= 5, ends 's' (not 'ss') -> strip 1    (autos->auto)
      6. len >= 5, ends 'e' -> strip 1               (grote->grot)
    """
    n = len(w)
    if n >= 8 and w.endswith("heden"):
        return w[:-5] + "heid"
    if n >= 6 and w.endswith(("tje", "pje", "kje", "jes")):
        return w[:-3]
    if n >= 5 and w.endswith("je"):
        return w[:-2]
    if n >= 5 and w.endswith("en") and not w.endswith("een"):
        w = w[:-2]
        if len(w) > 1 and w[-1] == w[-2]:
            w = w[:-1]
        return w
    if n >= 5 and w.endswith("s") and not w.endswith("ss"):
        return w[:-1]
    if n >= 5 and w.endswith("e"):
        return w[:-1]
    return w


def dutch_minimal_sql(var: str = "x") -> str:
    """SQL mirror of dutch_minimal_stem (same table, same order)."""
    v = _fresh("d")
    s = _fresh("d")
    dedup = (
        f"CASE WHEN length({s}) > 1 AND "
        f"substr({s}, length({s}), 1) = substr({s}, length({s}) - 1, 1) "
        f"THEN substr({s}, 1, length({s}) - 1) ELSE {s} END"
    )
    en_branch = _bind(s, f"substr({v}, 1, length({v}) - 2)", dedup)
    body = (
        f"CASE WHEN length({v}) >= 8 AND {v} LIKE '%heden' "
        f"THEN substr({v}, 1, length({v}) - 5) || 'heid' "
        f"WHEN length({v}) >= 6 AND ({v} LIKE '%tje' OR {v} LIKE '%pje' "
        f"OR {v} LIKE '%kje' OR {v} LIKE '%jes') "
        f"THEN substr({v}, 1, length({v}) - 3) "
        f"WHEN length({v}) >= 5 AND {v} LIKE '%je' "
        f"THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN length({v}) >= 5 AND {v} LIKE '%en' AND NOT {v} LIKE '%een' "
        f"THEN {en_branch} "
        f"WHEN length({v}) >= 5 AND {v} LIKE '%s' AND NOT {v} LIKE '%ss' "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"WHEN length({v}) >= 5 AND {v} LIKE '%e' "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    return _bind(v, var, body)


# ---------------------------------------------------------------------------
# Native-script light stemmers for the PRE-transform chains (text_ru /
# text_el). These run on the ORIGINAL Cyrillic/Greek words inside the
# ingest pre-transform, BEFORE the transliteration fold maps the result
# into the engine's pinned [a-z0-9_]+ term space — so they have no
# DuckDB SQL mirror (no gate oracle runs on pre-tokenization text; the
# e2e pytest round-trips index/query symmetry instead, exactly like the
# CJK chain).

_RU_SUFFIXES = sorted([
    # adjective / participle endings
    "иями", "ями", "ами", "иях", "иям", "ием", "ому", "ему", "ого",
    "его", "ыми", "ими", "ах", "ям", "ем", "ам", "ом", "ях", "ов",
    "ев", "ий", "ый", "ой", "ая", "яя", "ую", "юю", "ое", "ее", "ые",
    "ие", "ью", "ья", "ье",
    # single-letter case/gender endings
    "а", "я", "о", "е", "ы", "и", "й", "ь", "у", "ю",
], key=len, reverse=True)


def russian_light_stem(w: str) -> str:
    """Russian light stemmer in the spirit of the reference's text_ru
    chain (the CLEF light-stemmer family Lucene's RussianLightStemmer
    implements — case/gender/number ending removal, no aggressive
    derivational stripping). Pinned rule table, longest matching suffix
    wins, and a strip must leave at least 3 letters; applied at most
    once. No bit-parity claim with any particular Lucene filter."""
    for suf in _RU_SUFFIXES:
        if w.endswith(suf) and len(w) - len(suf) >= 3:
            return w[: -len(suf)]
    return w


_EL_SUFFIXES = sorted([
    "ματα", "ματων", "ματος", "ουσα", "οντας",
    "ος", "ον", "ου", "ης", "ων", "ες", "ας", "οι", "αι", "εις", "ους",
    "α", "η", "ο", "ι", "ε", "υ", "ω",
], key=len, reverse=True)


def greek_light_stem(w: str) -> str:
    """Greek light stemmer in the spirit of the reference's text_el
    chain (GreekStemmer slot — inflectional ending removal over the
    lowercased, diacritic-stripped, final-sigma-normalized form).
    Pinned rule table, longest suffix wins, strip must leave >= 3
    letters, applied at most once. No bit-parity claim."""
    for suf in _EL_SUFFIXES:
        if w.endswith(suf) and len(w) - len(suf) >= 3:
            return w[: -len(suf)]
    return w


# ---------------------------------------------------------------------------
# Round-4 batch 2: the remaining Latin-script light chains of the
# reference's language fieldType registry (managed-schema text_fi /
# text_da / text_ro / text_cz / text_tr / text_ca / text_gl / text_id /
# text_lv / text_ga; capability anchor CORE/schema/TextField.java:1).
# Same ONE-rule-table design: most chains are a single longest-match
# suffix table with a minimum-stem guard, built by the shared factory
# below so the Python transform and the DuckDB SQL mirror are generated
# from the SAME pinned list; the tiered/replacement chains (ca, gl, id,
# ga) are hand-written pairs like the french/dutch ones above. No
# bit-parity claim with any particular Lucene filter — each docstring
# names the public algorithm family it follows.


def _suffix_sorted(suffixes: list[str]) -> list[str]:
    # deterministic longest-first order shared by BOTH implementations
    # (ties broken lexicographically; two same-length suffixes can never
    # both match one word, so ties never change results — the sort is
    # pinned anyway so the generated SQL is reproducible)
    return sorted(suffixes, key=lambda s: (-len(s), s))


def _table_stem(suffixes: list[str], min_stem: int, fold=None):
    """Python side of the shared suffix-table factory: fold (optional
    1:1 translate map), then strip the LONGEST matching suffix that
    leaves >= min_stem letters; applied at most once."""
    sufs = _suffix_sorted(suffixes)

    def stem(w: str) -> str:
        if fold is not None:
            w = w.translate(fold)
        for suf in sufs:
            if len(w) - len(suf) >= min_stem and w.endswith(suf):
                return w[: -len(suf)]
        return w

    return stem


def _table_sql(var: str, suffixes: list[str], min_stem: int,
               fold_src: str = "", fold_dst: str = "",
               prefix: str = "s") -> str:
    """SQL side of the shared factory: a CASE over the SAME pinned
    longest-first list, each branch carrying the same min-stem guard."""
    v = _fresh(prefix)
    whens = " ".join(
        f"WHEN length({v}) >= {len(suf) + min_stem} AND {v} LIKE '%{suf}' "
        f"THEN substr({v}, 1, length({v}) - {len(suf)})"
        for suf in _suffix_sorted(suffixes)
    )
    body = f"CASE {whens} ELSE {v} END"
    expr = var
    if fold_src:
        expr = f"translate({var}, '{fold_src}', '{fold_dst}')"
    return _bind(v, expr, body)


# --- Finnish light chain (text_fi) -----------------------------------------
# Savoy, "Report on CLEF-2003 monolingual tracks" light-stemmer family
# (the public family Lucene's FinnishLightStemFilter implements): case
# endings (inessive/elative/adessive/ablative/allative/translative/
# partitive), plural markers and common possessives, folded ä/ö/å.

_FI_FOLD = str.maketrans({"ä": "a", "ö": "o", "å": "a"})
_FI_SUFFIXES = [
    "oiden", "oihin", "eiden", "eihin", "iin", "ssa", "sta", "lla",
    "lta", "lle", "ksi", "tta", "nsa", "aan", "een", "in", "an", "en",
    "at", "et", "it", "t", "a", "i", "n",
]

finnish_light_stem = _table_stem(_FI_SUFFIXES, 3, _FI_FOLD)
finnish_light_stem.__doc__ = """Finnish light stemmer (Savoy CLEF
family; the FinnishLightStemFilter slot of the reference's text_fi
fieldType). Fold a/o umlauts, strip the longest matching case/plural
ending leaving >= 3 letters, at most once."""


def finnish_light_sql(var: str = "x") -> str:
    """SQL mirror of finnish_light_stem (same pinned table)."""
    return _table_sql(var, _FI_SUFFIXES, 3, "äöå", "aoa", "fi")


# --- Danish minimal chain (text_da) -----------------------------------------
# Definite/plural reduction in the spirit of the Scandinavian light
# family (cf. swedish/norwegian above; the reference's text_da slot).

_DA_FOLD = str.maketrans({"æ": "a", "ø": "o", "å": "a"})
_DA_SUFFIXES = [
    "hederne", "heden", "erne", "ende", "erer", "ene", "ede", "ere",
    "ens", "ets", "er", "en", "et", "es", "e", "s",
]

danish_minimal_stem = _table_stem(_DA_SUFFIXES, 3, _DA_FOLD)
danish_minimal_stem.__doc__ = """Danish minimal stemmer (Scandinavian
light family; the text_da slot of the reference's registry). Fold
ae/o/aa vowels, strip the longest matching definite/plural ending
leaving >= 3 letters, at most once."""


def danish_minimal_sql(var: str = "x") -> str:
    """SQL mirror of danish_minimal_stem (same pinned table)."""
    return _table_sql(var, _DA_SUFFIXES, 3, "æøå", "aoa", "da")


# --- Romanian light chain (text_ro) -----------------------------------------

_RO_FOLD = str.maketrans({
    "ă": "a", "â": "a", "î": "i", "ș": "s", "ț": "t", "ş": "s", "ţ": "t",
})
_RO_SUFFIXES = [
    "iilor", "ilor", "ului", "elor", "iile", "atia", "atii", "uri",
    "ule", "ile", "ul", "le", "ii", "ei", "ea", "a", "e", "i",
]

romanian_light_stem = _table_stem(_RO_SUFFIXES, 3, _RO_FOLD)
romanian_light_stem.__doc__ = """Romanian light stemmer (CLEF light
family; the RomanianAnalyzer slot of the reference's text_ro
fieldType). Fold diacritics (both comma-below and legacy cedilla
forms), strip the longest matching article/case/plural ending leaving
>= 3 letters, at most once."""


def romanian_light_sql(var: str = "x") -> str:
    """SQL mirror of romanian_light_stem (same pinned table)."""
    return _table_sql(var, _RO_SUFFIXES, 3, "ăâîșțşţ", "aaistst", "ro")


# --- Czech light chain (text_cz) --------------------------------------------
# Dolamic & Savoy, "Indexing and stemming approaches for the Czech
# language" (IP&M 2009) light-stemmer family (the public family
# Lucene's CzechStemmer implements): case-ending removal over the
# diacritic-folded form.

_CZ_FOLD = str.maketrans({
    "á": "a", "č": "c", "ď": "d", "é": "e", "ě": "e", "í": "i",
    "ň": "n", "ó": "o", "ř": "r", "š": "s", "ť": "t", "ú": "u",
    "ů": "u", "ý": "y", "ž": "z",
})
_CZ_SUFFIXES = [
    "atech", "atum", "etem", "ach", "ama", "ami", "ata", "aty", "ech",
    "eho", "emi", "emu", "ete", "eti", "ich", "iho", "imi", "imu",
    "ove", "ovi", "ych", "ymi", "am", "at", "em", "es", "im", "mi",
    "om", "os", "ou", "um", "us", "ym", "a", "e", "i", "o", "u", "y",
]

czech_light_stem = _table_stem(_CZ_SUFFIXES, 3, _CZ_FOLD)
czech_light_stem.__doc__ = """Czech light stemmer (Dolamic & Savoy 2009
family; the CzechStemFilterFactory slot of the reference's text_cz
fieldType). Fold diacritics, strip the longest matching case ending
leaving >= 3 letters, at most once."""


def czech_light_sql(var: str = "x") -> str:
    """SQL mirror of czech_light_stem (same pinned table)."""
    return _table_sql(
        var, _CZ_SUFFIXES, 3, "áčďéěíňóřšťúůýž", "acdeeinorstuuyz", "cz"
    )


# --- Turkish light chain (text_tr) ------------------------------------------
# Conservative agglutinative-suffix reduction over the folded form
# (the text_tr slot; Lucene ships TurkishLowerCaseFilter + snowball —
# this pinned table covers the high-frequency plural/case/possessive
# layer only, by design).

_TR_FOLD = str.maketrans({
    "ç": "c", "ğ": "g", "ı": "i", "ö": "o", "ş": "s", "ü": "u",
})
_TR_SUFFIXES = [
    "lerden", "lardan", "lerde", "larda", "lerin", "larin", "leri",
    "lari", "ler", "lar", "den", "dan", "ten", "tan", "nin", "nun",
    "de", "da", "te", "ta", "in", "un",
]

turkish_light_stem = _table_stem(_TR_SUFFIXES, 3, _TR_FOLD)
turkish_light_stem.__doc__ = """Turkish light stemmer (the text_tr slot
of the reference's registry). Fold the six non-ASCII letters, strip the
longest matching plural/case/genitive suffix leaving >= 3 letters, at
most once (one layer of the agglutinative stack, by design)."""


def turkish_light_sql(var: str = "x") -> str:
    """SQL mirror of turkish_light_stem (same pinned table)."""
    return _table_sql(var, _TR_SUFFIXES, 3, "çğıöşü", "cgiosu", "tr")


# --- Latvian light chain (text_lv) ------------------------------------------

_LV_FOLD = str.maketrans({
    "ā": "a", "č": "c", "ē": "e", "ģ": "g", "ī": "i", "ķ": "k",
    "ļ": "l", "ņ": "n", "š": "s", "ū": "u", "ž": "z",
})
_LV_SUFFIXES = [
    "ajiem", "ajam", "ajos", "iem", "ies", "am", "as", "at", "em",
    "es", "im", "is", "os", "ot", "us", "a", "e", "i", "s", "u",
]

latvian_light_stem = _table_stem(_LV_SUFFIXES, 3, _LV_FOLD)
latvian_light_stem.__doc__ = """Latvian light stemmer (the
LatvianStemFilterFactory slot of the reference's text_lv fieldType;
case-ending removal over the folded form). Longest matching ending
leaving >= 3 letters, at most once."""


def latvian_light_sql(var: str = "x") -> str:
    """SQL mirror of latvian_light_stem (same pinned table)."""
    return _table_sql(
        var, _LV_SUFFIXES, 3, "āčēģīķļņšūž", "acegiklnsuz", "lv"
    )


# --- Catalan light chain (text_ca) ------------------------------------------

_CA_FOLD = str.maketrans({
    "à": "a", "è": "e", "é": "e", "í": "i", "ï": "i", "ò": "o",
    "ó": "o", "ú": "u", "ü": "u", "ç": "c",
})


def catalan_light_stem(w: str) -> str:
    """Catalan light stemmer (the CatalanAnalyzer slot of the
    reference's text_ca fieldType; plural/gender reduction — elision
    forms like l'/d' are already split off by the tokenizer). Pinned
    tiers, first match decides:

      0. fold accents (à→a è/é→e í/ï→i ò/ó→o ú/ü→u ç→c)
      1. len >= 6, ends 'ques' -> 'ca'   (butxaques→butxaca)
      2. len >= 5, ends 'ns' -> 'n'      (cancons→cancon)
      3. len >= 5, ends 'es'/'os' -> strip 2   (cases→cas)
      4. len >= 4, ends 's'/'a'/'e'/'o' -> strip 1
    """
    w = w.translate(_CA_FOLD)
    n = len(w)
    if n >= 6 and w.endswith("ques"):
        return w[:-4] + "ca"
    if n >= 5 and w.endswith("ns"):
        return w[:-1]
    if n >= 5 and w.endswith(("es", "os")):
        return w[:-2]
    if n >= 4 and w[-1] in "saeo":
        return w[:-1]
    return w


def catalan_light_sql(var: str = "x") -> str:
    """SQL mirror of catalan_light_stem (same tiers, same order)."""
    v = _fresh("ca")
    body = (
        f"CASE WHEN length({v}) >= 6 AND {v} LIKE '%ques' "
        f"THEN substr({v}, 1, length({v}) - 4) || 'ca' "
        f"WHEN length({v}) >= 5 AND {v} LIKE '%ns' "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"WHEN length({v}) >= 5 AND ({v} LIKE '%es' OR {v} LIKE '%os') "
        f"THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN length({v}) >= 4 AND substr({v}, -1) IN ('s','a','e','o') "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    fold = f"translate({var}, 'àèéíïòóúüç', 'aeeiioouuc')"
    return _bind(v, fold, body)


# --- Galician minimal chain (text_gl) ---------------------------------------

_GL_FOLD = str.maketrans({
    "á": "a", "é": "e", "í": "i", "ó": "o", "ú": "u", "ü": "u",
    "ñ": "n",
})


def galician_minimal_stem(w: str) -> str:
    """Galician minimal stemmer (plural reduction in the spirit of the
    Orengo & Huyck RSLP family the reference's text_gl GalicianStemmer
    descends from). Pinned tiers, first match decides:

      0. fold accents (á é í ó ú/ü ñ)
      1. len >= 5, ends 'ns'  -> 'n'    (cancions→cancion)
      2. len >= 5, ends 'ais'/'eis'/'ois'/'uis' -> drop 'is', add 'l'
         (animais→animal, papeis→papel)
      3. len >= 5, ends 'es'/'as'/'os' -> strip 2   (luces→luc)
      4. len >= 4, ends 's'/'a'/'e'/'o' -> strip 1
    """
    w = w.translate(_GL_FOLD)
    n = len(w)
    if n >= 5 and w.endswith("ns"):
        return w[:-1]
    if n >= 5 and w.endswith(("ais", "eis", "ois", "uis")):
        return w[:-2] + "l"
    if n >= 5 and w.endswith(("es", "as", "os")):
        return w[:-2]
    if n >= 4 and w[-1] in "saeo":
        return w[:-1]
    return w


def galician_minimal_sql(var: str = "x") -> str:
    """SQL mirror of galician_minimal_stem (same tiers, same order)."""
    v = _fresh("gl")
    body = (
        f"CASE WHEN length({v}) >= 5 AND {v} LIKE '%ns' "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"WHEN length({v}) >= 5 AND ({v} LIKE '%ais' OR {v} LIKE '%eis' "
        f"OR {v} LIKE '%ois' OR {v} LIKE '%uis') "
        f"THEN substr({v}, 1, length({v}) - 2) || 'l' "
        f"WHEN length({v}) >= 5 AND ({v} LIKE '%es' OR {v} LIKE '%as' "
        f"OR {v} LIKE '%os') THEN substr({v}, 1, length({v}) - 2) "
        f"WHEN length({v}) >= 4 AND substr({v}, -1) IN ('s','a','e','o') "
        f"THEN substr({v}, 1, length({v}) - 1) "
        f"ELSE {v} END"
    )
    fold = f"translate({var}, 'áéíóúüñ', 'aeiouun')"
    return _bind(v, fold, body)


# --- Indonesian light chain (text_id) ---------------------------------------


def indonesian_light_stem(w: str) -> str:
    """Indonesian light stemmer (F. Tala, "A Study of Stemming Effects
    on Information Retrieval in Bahasa Indonesia", 2003 — the public
    family the reference's text_id IndonesianStemFilterFactory
    implements; inflectional layer only). Sequential strips, each
    leaving >= 3 letters:

      1. particle:    -lah / -kah / -tah / -pun
      2. possessive:  -ku / -mu / -nya
      3. one derivational suffix: -kan / -an / -i
    """
    if len(w) - 3 >= 3 and w.endswith(("lah", "kah", "tah", "pun")):
        w = w[:-3]
    if w.endswith("nya"):
        if len(w) - 3 >= 3:
            w = w[:-3]
    elif len(w) - 2 >= 3 and w.endswith(("ku", "mu")):
        w = w[:-2]
    if len(w) - 3 >= 3 and w.endswith("kan"):
        w = w[:-3]
    elif len(w) - 2 >= 3 and w.endswith("an"):
        w = w[:-2]
    elif len(w) - 1 >= 3 and w.endswith("i"):
        w = w[:-1]
    return w


def indonesian_light_sql(var: str = "x") -> str:
    """SQL mirror of indonesian_light_stem (same strips, same order)."""
    v0, v1, v2 = _fresh("id"), _fresh("id"), _fresh("id")
    e1 = (
        f"CASE WHEN length({v0}) >= 6 AND ({v0} LIKE '%lah' "
        f"OR {v0} LIKE '%kah' OR {v0} LIKE '%tah' OR {v0} LIKE '%pun') "
        f"THEN substr({v0}, 1, length({v0}) - 3) ELSE {v0} END"
    )
    e2 = (
        f"CASE WHEN {v1} LIKE '%nya' THEN "
        f"(CASE WHEN length({v1}) >= 6 THEN substr({v1}, 1, length({v1}) - 3) "
        f"ELSE {v1} END) "
        f"WHEN length({v1}) >= 5 AND ({v1} LIKE '%ku' OR {v1} LIKE '%mu') "
        f"THEN substr({v1}, 1, length({v1}) - 2) ELSE {v1} END"
    )
    e3 = (
        f"CASE WHEN length({v2}) >= 6 AND {v2} LIKE '%kan' "
        f"THEN substr({v2}, 1, length({v2}) - 3) "
        f"WHEN length({v2}) >= 5 AND {v2} LIKE '%an' "
        f"THEN substr({v2}, 1, length({v2}) - 2) "
        f"WHEN length({v2}) >= 4 AND {v2} LIKE '%i' "
        f"THEN substr({v2}, 1, length({v2}) - 1) ELSE {v2} END"
    )
    return _bind(v0, var, _bind(v1, e1, _bind(v2, e2, e3)))


# --- Irish chain (text_ga) ---------------------------------------------------


def irish_light_stem(w: str) -> str:
    """Irish initial-mutation reduction (the text_ga slot: the
    IrishLowerCaseFilter's t-/n- prefix handling plus the eclipsis
    table the Snowball Irish stemmer carries; suffix morphology is
    deliberately left alone). Pinned prefix tiers, first match decides,
    each leaving >= 3 letters:

      1. 'bhf' + ...  -> strip 'bh'   (bhfuinneog→fuinneog)
      2. eclipsis pair mb/gc/nd/bp/dt/ng -> strip first letter
         (mbord→bord, gcarr→carr)
      3. 'ts' + ...   -> strip 't'    (tsolas→solas)
      4. h/n/t + vowel -> strip it    (hathair/nathair/tathair→athair)
    """
    n = len(w)
    if n >= 5 and w.startswith("bhf"):
        return w[2:]
    if n >= 4 and w[:2] in ("mb", "gc", "nd", "bp", "dt", "ng"):
        return w[1:]
    if n >= 4 and w.startswith("ts"):
        return w[1:]
    if n >= 4 and w[0] in "hnt" and w[1] in "aeiou":
        return w[1:]
    return w


def irish_light_sql(var: str = "x") -> str:
    """SQL mirror of irish_light_stem (same tiers, same order)."""
    v = _fresh("ga")
    body = (
        f"CASE WHEN length({v}) >= 5 AND {v} LIKE 'bhf%' "
        f"THEN substr({v}, 3) "
        f"WHEN length({v}) >= 4 AND substr({v}, 1, 2) IN "
        f"('mb','gc','nd','bp','dt','ng') THEN substr({v}, 2) "
        f"WHEN length({v}) >= 4 AND {v} LIKE 'ts%' THEN substr({v}, 2) "
        f"WHEN length({v}) >= 4 AND substr({v}, 1, 1) IN ('h','n','t') "
        f"AND substr({v}, 2, 1) IN ('a','e','i','o','u') "
        f"THEN substr({v}, 2) "
        f"ELSE {v} END"
    )
    return _bind(v, var, body)


# --- Estonian light chain (text_et) ------------------------------------------
# CLEF-style light case-ending reduction for Estonian (the reference's
# text_et slot ships the snowball Estonian stemmer — this pinned table
# covers the high-frequency case/plural layer only, by design; same
# honest-light posture as the Turkish chain above).

_ET_FOLD = str.maketrans({"ä": "a", "ö": "o", "õ": "o", "ü": "u"})
_ET_SUFFIXES = [
    "dele", "dest", "dega", "deks", "tele", "test", "tega",
    "sse", "ile", "ilt", "ist", "iks", "iga", "ini",
    "le", "lt", "st", "ks", "ga", "ni", "na", "ta", "de", "te",
    "id", "d", "l", "s", "t", "i", "e", "u",
]

estonian_light_stem = _table_stem(_ET_SUFFIXES, 3, _ET_FOLD)
estonian_light_stem.__doc__ = """Estonian light stemmer (the text_et
slot of the reference's registry; CLEF light family). Fold the four
umlaut vowels, strip the longest matching case/plural ending leaving
>= 3 letters, at most once (one layer of the agglutinative stack, by
design)."""


def estonian_light_sql(var: str = "x") -> str:
    """SQL mirror of estonian_light_stem (same pinned table)."""
    return _table_sql(var, _ET_SUFFIXES, 3, "äöõü", "aoou", "et")


# --- Basque light chain (text_eu) ---------------------------------------------
# Light determiner/case reduction for Basque (the reference's text_eu
# slot ships the snowball Basque stemmer — this pinned table covers the
# determiner/common-case layer only, by design).

_EU_SUFFIXES = [
    "etako", "etatik", "etara", "arekin", "aren", "ekin", "etan",
    "tik", "ari", "era", "ean", "eko", "ak", "ek", "en",
    "an", "ra", "az", "a", "k",
]

basque_light_stem = _table_stem(_EU_SUFFIXES, 3)
basque_light_stem.__doc__ = """Basque light stemmer (the text_eu slot
of the reference's registry). Strip the longest matching determiner/
case ending leaving >= 3 letters, at most once."""


def basque_light_sql(var: str = "x") -> str:
    """SQL mirror of basque_light_stem (same pinned table)."""
    return _table_sql(var, _EU_SUFFIXES, 3, prefix="eu")


# ---------------------------------------------------------------------------
# Arabic-script chains (text_ar / text_fa): native-script normalization
# + light stemming, consumed by analysis.py's _script_fold machinery
# exactly like the Russian/Greek chains. Public algorithm families:
# Lucene's ArabicNormalizer/ArabicStemmer implement Larkey, Ballesteros
# & Connell, "Improving Stemming for Arabic Information Retrieval:
# Light Stemming and Co-occurrence Analysis" (SIGIR 2002) — the
# "light10" stemmer; PersianNormalizer follows the PersianAnalyzer
# chain (normalization only, no stemmer). Reference capability anchor:
# managed-schema.xml text_ar / text_fa fieldTypes. No bit-parity claim.

_AR_TASHKEEL = set("ًٌٍَُِّْ")
_AR_NORM_MAP = {
    "آ": "ا", "أ": "ا", "إ": "ا",
    "ٱ": "ا",                       # alef variants -> alef
    "ى": "ي",                       # alef maqsura -> yeh
    "ة": "ه",                       # teh marbuta -> heh
}


def arabic_normalize(w: str) -> str:
    """ArabicNormalizer semantics: drop tatweel (U+0640), the eight
    tashkeel marks (U+064B-U+0652) and superscript alef (U+0670);
    normalize alef-with-hamza/madda/wasla to bare alef, alef maqsura to
    yeh, teh marbuta to heh."""
    out = []
    for ch in w:
        if ch == "ـ" or ch == "ٰ" or ch in _AR_TASHKEEL:
            continue
        out.append(_AR_NORM_MAP.get(ch, ch))
    return "".join(out)


_AR_PREFIXES = ["وال", "فال",
                "بال", "كال",
                "لل", "ال", "و"]
_AR_SUFFIXES = ["ها", "ان", "ات",
                "ون", "ين", "يه",
                "ية", "ه", "ة", "ي"]


def arabic_light_stem(w: str) -> str:
    """Light10 stemmer (Larkey 2002 family; the ArabicStemFilterFactory
    slot of the reference's text_ar fieldType). One prefix strip —
    first match of [wal- fal- bal- kal- lil- al- wa-], leaving >= 2
    letters (>= 3 for bare waw) — then the pinned suffix list applied
    IN ORDER, each stripping if it matches and leaves >= 2 letters
    (several suffixes may strip in sequence, matching the Lucene
    loop)."""
    for p in _AR_PREFIXES:
        if w.startswith(p):
            rest = len(w) - len(p)
            if rest >= (3 if p == "و" else 2):
                w = w[len(p):]
            break
    for s in _AR_SUFFIXES:
        if w.endswith(s) and len(w) - len(s) >= 2:
            w = w[: -len(s)]
    return w


_FA_NORM_MAP = {
    "ی": "ي", "ے": "ي",   # farsi yeh / yeh barree
    "ک": "ك",                       # keheh -> kaf
    "ۀ": "ه", "ہ": "ه",   # heh+yeh / heh goal -> heh
}


def persian_normalize(w: str) -> str:
    """PersianNormalizer semantics applied AFTER arabic_normalize (the
    PersianAnalyzer chain order): farsi yeh / yeh barree -> yeh, keheh
    -> kaf, heh-with-yeh / heh goal -> heh, drop hamza-above
    (U+0654)."""
    w = arabic_normalize(w)
    return "".join(
        _FA_NORM_MAP.get(ch, ch) for ch in w if ch != "ٔ"
    )


# ---------------------------------------------------------------------------
# Bulgarian (text_bg), Armenian (text_hy), Hindi (text_hi): native-script
# normalization/light-stem layers for analysis.py's _script_fold, same
# posture as the Russian/Greek/Arabic chains. Public families: Lucene's
# BulgarianStemmer implements Nakov's BulStem (light, inflectional);
# HindiNormalizer/HindiStemmer follow Ramanathan & Rao, "A Lightweight
# Stemmer for Hindi" (2003); the Armenian slot ships snowball — here a
# pinned light case/plural table, honest-light by design. No bit-parity
# claim with any particular Lucene filter.

_BG_SUFFIXES = sorted([
    "овете", "евете", "ищата",
    "ията", "ият", "ите", "ове", "еве", "ища", "ище",
    "та", "то", "те", "ът", "ят", "ия", "ие",
    "а", "я", "о", "е", "и", "ю",
], key=len, reverse=True)


def bulgarian_light_stem(w: str) -> str:
    """Bulgarian light stemmer (BulStem family; the
    BulgarianStemFilterFactory slot of the reference's text_bg
    fieldType): longest matching definite-article/plural/gender ending,
    strip must leave >= 3 letters, applied at most once."""
    for suf in _BG_SUFFIXES:
        if w.endswith(suf) and len(w) - len(suf) >= 3:
            return w[: -len(suf)]
    return w


_HY_SUFFIXES = sorted([
    "ներին", "ներում", "ների", "ներն", "ները", "ներ",
    "երին", "երում", "երի", "երն", "երը", "եր",
    "ում", "ին", "ից", "ով", "ան",
    "ի", "ը", "ն",
], key=len, reverse=True)


def armenian_light_stem(w: str) -> str:
    """Armenian light stemmer (the text_hy snowball slot; pinned light
    table over the plural/case layer): longest matching ending, strip
    must leave >= 3 letters, applied at most once."""
    for suf in _HY_SUFFIXES:
        if w.endswith(suf) and len(w) - len(suf) >= 3:
            return w[: -len(suf)]
    return w


# Hindi: normalization first (HindiNormalizer semantics — the subset
# relevant to the Devanagari letters the transliteration map carries:
# drop nukta (U+093C), candrabindu -> anusvara), then the light stemmer
# (Ramanathan & Rao: strip ONE matra/plural/case ending).

def hindi_normalize(w: str) -> str:
    """HindiNormalizer (subset): remove nukta (U+093C) so क़->क etc.,
    map candrabindu (U+0901) to anusvara (U+0902), drop virama
    (U+094D) word-finally only (medial viramas carry conjunct
    structure the transliteration keeps)."""
    w = w.replace("़", "").replace("ँ", "ं")
    if w.endswith("्"):
        w = w[:-1]
    return w


_HI_SUFFIXES = sorted([
    "ियों", "ाओं", "ुओं", "ाएं", "ाओ",
    "ों", "ें", "ीं", "ियाँ", "ियां",
    "ी", "े", "ो", "ा", "ि", "ु", "ू", "ँ", "ं",
], key=len, reverse=True)


def hindi_light_stem(w: str) -> str:
    """Hindi light stemmer (Ramanathan & Rao 2003 family; the
    HindiStemFilterFactory slot of the reference's text_hi fieldType):
    longest matching matra/plural/case ending, strip must leave >= 2
    characters, applied at most once."""
    for suf in _HI_SUFFIXES:
        if w.endswith(suf) and len(w) - len(suf) >= 2:
            return w[: -len(suf)]
    return w


# ---------------------------------------------------------------------------
# French SNOWBALL stemmer — the FULL algorithm (M.F. Porter's French
# stemmer, snowballstem.org/algorithms/french/stemmer.html), the
# reference text_fr fieldType's documented "more aggressive" slot
# (managed-schema.xml text_fr: `<filter name="snowballPorter"
# language="French"/>`, shipped commented next to the default
# frenchLightStem).  Same one-table dual design as every chain in this
# module: ONE flattened rule table drives BOTH the Python transform and
# the machine-generated DuckDB SQL mirror.
#
# The algorithm's nested "if preceded by ..." clauses are FLATTENED into
# longer suffix entries (e.g. the `ité` rule's `abil`/`ic`/`iv`
# secondaries become `abilité`/`icité`/`ivité` entries), which preserves
# Snowball's longest-match-then-commit discipline exactly: each entry is
# (suffix, [(conds, action), ...]) — the first branch whose conditions
# all hold applies; a matched entry whose branches all fail leaves the
# word unchanged with NO fall-through to shorter suffixes (Snowball
# `among` semantics).  Region tests use the fixed RV/R1/R2 offsets
# computed once after the prelude, as Snowball does.

FR_VOWELS = "aeiouyâàëéêèïîôûù"

# cond atoms (k = suffix char count from the end of the CURRENT word):
#   ("R2", k) / ("R1", k) / ("RV", k)  — the last-k-chars substring
#       starts inside that region (len(w) - k >= region offset)
#   ("p_nonv", L)     — char before the L-suffix is a non-vowel
#   ("p_nonv_rv", L)  — ... and sits inside RV (step 2a's setlimit)
#   ("p_v_rv", L)     — char before is a vowel inside RV (ment/ments)
#   ("p_in_rv", L, s) — char before is one of `s` and inside RV
# actions: ("del", k) — drop last k chars; ("rep", k, r) — replace them.


def _fr1(suffixes, branches):
    return [(s, branches(len(s))) for s in suffixes]


FR_STEP1: list[tuple[str, list]] = (
    # base groups, with compound preceded-by clauses flattened into the
    # longer entries below
    _fr1(["ance", "iqUe", "isme", "able", "iste", "eux",
          "ances", "iqUes", "ismes", "ables", "istes"],
         lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["atrice", "ateur", "ation", "atrices", "ateurs", "ations"],
           lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["icatrice", "icateur", "ication",
            "icatrices", "icateurs", "ications"],
           lambda L: [([("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 2)], ("rep", L, "iqU"))])
    + _fr1(["logie", "logies"],
           lambda L: [([("R2", L)], ("rep", L, "log"))])
    + _fr1(["usion", "ution", "usions", "utions"],
           lambda L: [([("R2", L)], ("rep", L, "u"))])
    + _fr1(["ence", "ences"],
           lambda L: [([("R2", L)], ("rep", L, "ent"))])
    + _fr1(["ement", "ements"],
           lambda L: [([("RV", L)], ("del", L))])
    + _fr1(["ivement", "ivements"],
           lambda L: [([("RV", L - 2), ("R2", L)], ("del", L)),
                      ([("RV", L - 2)], ("del", L - 2))])
    + _fr1(["ativement", "ativements"],
           lambda L: [([("RV", L - 4), ("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("RV", L - 4), ("R2", L - 2)], ("del", L - 2)),
                      ([("RV", L - 4)], ("del", L - 4))])
    + _fr1(["eusement", "eusements"],
           lambda L: [([("RV", L - 3), ("R2", L)], ("del", L)),
                      ([("RV", L - 3), ("R1", L)], ("rep", L, "eux")),
                      ([("RV", L - 3)], ("del", L - 3))])
    + _fr1(["ablement", "ablements", "iqUement", "iqUements"],
           lambda L: [([("RV", L - 3), ("R2", L)], ("del", L)),
                      ([("RV", L - 3)], ("del", L - 3))])
    + _fr1(["ièrement", "ièrements", "Ièrement", "Ièrements"],
           lambda L: [([("RV", L - 3), ("RV", L)], ("rep", L, "i")),
                      ([("RV", L - 3)], ("del", L - 3))])
    + _fr1(["ité", "ités"],
           lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["abilité", "abilités"],
           lambda L: [([("R2", L - 4), ("R2", L)], ("del", L)),
                      ([("R2", L - 4)], ("rep", L, "abl"))])
    + _fr1(["icité", "icités"],
           lambda L: [([("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 2)], ("rep", L, "iqU"))])
    + _fr1(["ivité", "ivités"],
           lambda L: [([("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 2)], ("del", L - 2))])
    + _fr1(["if", "ive", "ifs", "ives"],
           lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["atif", "ative", "atifs", "atives"],
           lambda L: [([("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 2)], ("del", L - 2))])
    + _fr1(["icatif", "icative", "icatifs", "icatives"],
           lambda L: [([("R2", L - 4), ("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 4), ("R2", L - 2)], ("rep", L, "iqU")),
                      ([("R2", L - 4)], ("del", L - 4))])
    + [("eaux", [([], ("rep", 4, "eau"))]),
       ("aux", [([("R1", 3)], ("rep", 3, "al"))])]
    + _fr1(["euse", "euses"],
           lambda L: [([("R2", L)], ("del", L)),
                      ([("R1", L)], ("rep", L, "eux"))])
    + _fr1(["issement", "issements"],
           lambda L: [([("R1", L), ("p_nonv", L)], ("del", L))])
    + [("amment", [([("RV", 6)], ("rep", 6, "ant"))]),
       ("emment", [([("RV", 6)], ("rep", 6, "ent"))])]
    + _fr1(["ment", "ments"],
           lambda L: [([("p_v_rv", L)], ("del", L))])
)

# step 1 entries that apply their change but still hand control to step
# 2a (Snowball french.sbl's fail(...) rules)
FR_MENT_FAMILY = frozenset({"amment", "emment", "ment", "ments"})

FR_STEP2A: list[tuple[str, list]] = _fr1(
    ["îmes", "ît", "îtes", "i", "ie", "ies", "ir", "ira", "irai",
     "iraIent", "irais", "irait", "iras", "irent", "irez", "iriez",
     "irions", "irons", "iront", "is", "issaIent", "issais", "issait",
     "issant", "issante", "issantes", "issants", "isse", "issent",
     "isses", "issez", "issiez", "issions", "issons", "it"],
    lambda L: [([("RV", L), ("p_nonv_rv", L)], ("del", L))])

FR_STEP2B: list[tuple[str, list]] = (
    [("ions", [([("RV", 4), ("R2", 4)], ("del", 4))])]
    + _fr1(["é", "ée", "ées", "és", "èrent", "er", "era", "erai",
            "eraIent", "erais", "erait", "eras", "erez", "eriez",
            "erions", "erons", "eront", "ez", "iez"],
           lambda L: [([("RV", L)], ("del", L))])
    + _fr1(["âmes", "ât", "âtes", "a", "ai", "aIent", "ais", "ait",
            "ant", "ante", "antes", "ants", "as", "asse", "assent",
            "asses", "assiez", "assions"],
           lambda L: [([("RV", L), ("p_in_rv", L, "e")], ("del", L + 1)),
                      ([("RV", L)], ("del", L))])
)

FR_STEP4: list[tuple[str, list]] = (
    [("ion", [([("RV", 3), ("R2", 3), ("p_in_rv", 3, "st")], ("del", 3))])]
    + _fr1(["ier", "ière", "Ier", "Ière"],
           lambda L: [([("RV", L)], ("rep", L, "i"))])
    + [("e", [([("RV", 1)], ("del", 1))])]
)


def _fr_sorted(table):
    return sorted(table, key=lambda e: -len(e[0]))


def _fr_prelude(w: str) -> str:
    """Mark u/i between vowels, y adjacent to a vowel, and u after q as
    the non-vowel letters U/I/Y (the Snowball prelude; prev looks at the
    already-marked char, next at the original — the left-to-right cursor
    discipline)."""
    out: list[str] = []
    n = len(w)
    for i, ch in enumerate(w):
        prev = out[i - 1] if i else ""
        nxt = w[i + 1] if i + 1 < n else ""
        # bool('' in FR_VOWELS) is True (empty-substring membership) —
        # a missing neighbor must count as NOT a vowel
        pv_ = bool(prev) and prev in FR_VOWELS
        nv_ = bool(nxt) and nxt in FR_VOWELS
        if ch == "u" and ((pv_ and nv_) or prev == "q"):
            out.append("U")
        elif ch == "i" and pv_ and nv_:
            out.append("I")
        elif ch == "y" and (pv_ or nv_):
            out.append("Y")
        else:
            out.append(ch)
    return "".join(out)


def _fr_regions(w: str) -> tuple[int, int, int]:
    """(pv, p1, p2) — chars before RV / R1 / R2, Snowball's fixed
    offsets: RV after the third letter when the word starts with two
    vowels or par/col/tap, else after the first non-initial vowel; R1
    after the first non-vowel following a vowel; R2 the same within
    R1."""
    n = len(w)
    isv = [c in FR_VOWELS for c in w]
    if n >= 3 and isv[0] and isv[1]:
        pv = 3
    elif w[:3] in ("par", "col", "tap"):
        pv = 3
    else:
        pv = n
        for i in range(1, n):
            if isv[i]:
                pv = i + 1
                break
    def nonv_after_v(start: int) -> int:
        for i in range(start + 1, n):
            if not isv[i] and isv[i - 1]:
                return i + 1
        return n
    p1 = nonv_after_v(0)
    p2 = nonv_after_v(p1)
    return pv, p1, p2


def _fr_atom(w: str, pv: int, p1: int, p2: int, a) -> bool:
    n, kind = len(w), a[0]
    if kind in ("R2", "R1", "RV"):
        return n - a[1] >= {"R2": p2, "R1": p1, "RV": pv}[kind]
    if kind == "minlen":
        return n >= a[1]
    i = n - a[1] - 1
    if i < 0:
        return kind == "p_not_in"  # absent prec char: `not '<set>'` holds
    if kind == "p_nonv":
        return w[i] not in FR_VOWELS
    if kind == "p_nonv_rv":
        return w[i] not in FR_VOWELS and i >= pv
    if kind == "p_v_rv":
        return w[i] in FR_VOWELS and i >= pv
    if kind == "p_in_rv":
        return w[i] in a[2] and i >= pv
    if kind == "p_in":          # char before suffix in set (no region)
        return w[i] in a[2]
    if kind == "p_not_in":      # char before suffix NOT in set (or none)
        return w[i] not in a[2]
    raise AssertionError(kind)


def _fr_apply(w, pv, p1, p2, table):
    """Longest-match one table entry; returns (word', matched_suffix,
    applied)."""
    for suf, branches in table:
        if w.endswith(suf):
            for conds, act in branches:
                if all(_fr_atom(w, pv, p1, p2, c) for c in conds):
                    keep = w[: len(w) - act[1]]
                    return (keep + act[2] if act[0] == "rep" else keep,
                            suf, True)
            return w, suf, False
    return w, None, False


_FR_STEP1_S = _fr_sorted(FR_STEP1)
_FR_STEP2A_S = _fr_sorted(FR_STEP2A)
_FR_STEP2B_S = _fr_sorted(FR_STEP2B)
_FR_STEP4_S = _fr_sorted(FR_STEP4)
_FR_ACCENT_RE = re.compile(f"[éè]([^{FR_VOWELS}]+)$")


def french_snowball_stem(w: str) -> str:
    """The full Snowball French algorithm (prelude → steps 1/2a/2b with
    the fail-through ment control → 3 or 4 → 5 → 6 → postlude)."""
    w = _fr_prelude(w)
    pv, p1, p2 = _fr_regions(w)
    w0 = w
    w1, suf1, applied1 = _fr_apply(w0, pv, p1, p2, _FR_STEP1_S)
    # amment/emment/ment/ments apply their change but signal failure
    # (french.sbl fail(...)), handing the modified word to step 2a
    success1 = w1 != w0 and not (applied1 and suf1 in FR_MENT_FAMILY)
    if success1:
        core, do3 = w1, True
    else:
        w2a, _s, applied2a = _fr_apply(w1, pv, p1, p2, _FR_STEP2A_S)
        if applied2a:
            core, do3 = w2a, True
        else:
            w2b, _s, applied2b = _fr_apply(w1, pv, p1, p2, _FR_STEP2B_S)
            core, do3 = w2b, applied2b
    w = core
    if do3:  # step 3: only after an obeyed step altered the word
        if w.endswith("Y"):
            w = w[:-1] + "i"
        elif w.endswith("ç"):
            w = w[:-1] + "c"
    else:  # step 4: residual suffix
        if w.endswith("s") and len(w) >= 2 and w[-2] not in "aiouès":
            w = w[:-1]
        w, _s, _a = _fr_apply(w, pv, p1, p2, _FR_STEP4_S)
    # step 5: undouble enn/onn/ett/ell/eill
    if w.endswith(("enn", "onn", "ett", "ell", "eill")):
        w = w[:-1]
    # step 6: un-accent é/è before a final run of non-vowels
    w = _FR_ACCENT_RE.sub(r"e\1", w)
    return w.translate(_FR_POST)


_FR_POST = str.maketrans("UIY", "uiy")


# --- machine-generated DuckDB mirror of french_snowball_stem ---------------

_FR_VSET = ", ".join(f"'{c}'" for c in FR_VOWELS)


def _fr_atom_sql(v: str, a, pv: str, p1: str, p2: str) -> str:
    n, kind = f"length({v})", a[0]
    if kind in ("R2", "R1", "RV"):
        bound = {"R2": p2, "R1": p1, "RV": pv}[kind]
        return f"{n} - {a[1]} >= {bound}"
    if kind == "minlen":
        return f"{n} >= {a[1]}"
    L = a[1]
    ch = f"substr({v}, {n} - {L}, 1)"
    if kind == "p_nonv":
        return f"({n} > {L} AND {ch} NOT IN ({_FR_VSET}))"
    if kind == "p_nonv_rv":
        return (f"({n} > {L} AND {ch} NOT IN ({_FR_VSET}) "
                f"AND {n} - {L} - 1 >= {pv})")
    if kind == "p_v_rv":
        return (f"({n} > {L} AND {ch} IN ({_FR_VSET}) "
                f"AND {n} - {L} - 1 >= {pv})")
    if kind == "p_in_rv":
        cset = ", ".join(f"'{c}'" for c in a[2])
        return (f"({n} > {L} AND {ch} IN ({cset}) "
                f"AND {n} - {L} - 1 >= {pv})")
    if kind == "p_in":
        cset = ", ".join(f"'{c}'" for c in a[2])
        return f"({n} > {L} AND {ch} IN ({cset}))"
    if kind == "p_not_in":
        cset = ", ".join(f"'{c}'" for c in a[2])
        return f"({n} <= {L} OR {ch} NOT IN ({cset}))"
    raise AssertionError(kind)


def _fr_act_sql(v: str, act) -> str:
    keep = f"substr({v}, 1, length({v}) - {act[1]})"
    return f"{keep} || '{act[2]}'" if act[0] == "rep" else keep


def _fr_table_sql(v: str, table, pv: str, p1: str, p2: str) -> str:
    whens = []
    for suf, branches in _fr_sorted(table):
        inner = []
        for conds, act in branches:
            cond = (" AND ".join(_fr_atom_sql(v, c, pv, p1, p2)
                                 for c in conds) or "TRUE")
            inner.append(f"WHEN {cond} THEN {_fr_act_sql(v, act)}")
        branch = "CASE " + " ".join(inner) + f" ELSE {v} END"
        whens.append(f"WHEN {v} LIKE '%{suf}' THEN {branch}")
    return "CASE " + " ".join(whens) + f" ELSE {v} END"


def french_snowball_sql(var: str = "x") -> str:
    """One DuckDB expression computing french_snowball_stem(var),
    machine-generated from the SAME rule tables (FR_STEP1/2A/2B/4), so
    the gate oracle stems independently of the Python path."""
    cs, w0, vp = _fresh("fc"), _fresh("fw"), _fresh("fp")
    pv, p1, p2 = _fresh("fv"), _fresh("fr"), _fresh("fq")
    w1, s1, wa, wb, w3, w4s, w5 = (_fresh("f") for _ in range(7))

    nxt = f"coalesce({cs}[length(acc)+2], '')"
    marked = (
        f"list_reduce(list_prepend('', {cs}), (acc, ch) -> acc || "
        f"CASE WHEN ch = 'u' AND ((substr(acc, -1) IN ({_FR_VSET}) "
        f"AND {nxt} IN ({_FR_VSET})) OR substr(acc, -1) = 'q') THEN 'U' "
        f"WHEN ch = 'i' AND substr(acc, -1) IN ({_FR_VSET}) "
        f"AND {nxt} IN ({_FR_VSET}) THEN 'I' "
        f"WHEN ch = 'y' AND (substr(acc, -1) IN ({_FR_VSET}) "
        f"OR {nxt} IN ({_FR_VSET})) THEN 'Y' ELSE ch END)"
    )
    vpat = (
        f"list_reduce(list_prepend('', split({w0}, '')), (a, c) -> a || "
        f"CASE WHEN c IN ({_FR_VSET}) THEN 'v' ELSE 'c' END)"
    )
    pv_e = (
        f"CASE WHEN length({w0}) >= 3 AND substr({vp}, 1, 2) = 'vv' THEN 3 "
        f"WHEN substr({w0}, 1, 3) IN ('par', 'col', 'tap') THEN 3 "
        f"WHEN instr(substr({vp}, 2), 'v') > 0 "
        f"THEN instr(substr({vp}, 2), 'v') + 1 ELSE length({w0}) END"
    )
    p1_e = (f"CASE WHEN instr({vp}, 'vc') > 0 THEN instr({vp}, 'vc') + 1 "
            f"ELSE length({w0}) END")
    p2_e = (
        f"CASE WHEN instr(substr({vp}, {p1} + 1), 'vc') > 0 "
        f"THEN {p1} + instr(substr({vp}, {p1} + 1), 'vc') + 1 "
        f"ELSE length({w0}) END"
    )
    fam = (
        f"({w0} LIKE '%amment' OR {w0} LIKE '%emment' "
        f"OR ({w0} LIKE '%ments' AND NOT {w0} LIKE '%ements') "
        f"OR ({w0} LIKE '%ment' AND NOT {w0} LIKE '%ement' "
        f"AND NOT {w0} LIKE '%amment' AND NOT {w0} LIKE '%emment'))"
    )
    s1_e = f"({w1} <> {w0} AND NOT {fam})"
    wa_e = (f"CASE WHEN NOT {s1} "
            f"THEN {_fr_table_sql(w1, FR_STEP2A, pv, p1, p2)} "
            f"ELSE {w1} END")
    wb_e = (f"CASE WHEN NOT {s1} AND {wa} = {w1} "
            f"THEN {_fr_table_sql(w1, FR_STEP2B, pv, p1, p2)} "
            f"ELSE {wa} END")
    do3 = f"({s1} OR {wb} <> {w1})"
    step3 = (
        f"CASE WHEN {wb} LIKE '%Y' "
        f"THEN substr({wb}, 1, length({wb}) - 1) || 'i' "
        f"WHEN {wb} LIKE '%ç' "
        f"THEN substr({wb}, 1, length({wb}) - 1) || 'c' ELSE {wb} END"
    )
    s_del = (
        f"CASE WHEN {wb} LIKE '%s' AND length({wb}) >= 2 AND "
        f"substr({wb}, length({wb}) - 1, 1) NOT IN "
        f"('a', 'i', 'o', 'u', 'è', 's') "
        f"THEN substr({wb}, 1, length({wb}) - 1) ELSE {wb} END"
    )
    step4 = _bind(w4s, s_del, _fr_table_sql(w4s, FR_STEP4, pv, p1, p2))
    w3_e = f"CASE WHEN {do3} THEN {step3} ELSE {step4} END"
    step5 = (
        f"CASE WHEN {w3} LIKE '%enn' OR {w3} LIKE '%onn' "
        f"OR {w3} LIKE '%ett' OR {w3} LIKE '%ell' OR {w3} LIKE '%eill' "
        f"THEN substr({w3}, 1, length({w3}) - 1) ELSE {w3} END"
    )
    step6 = _bind(
        w5, step5,
        f"translate(regexp_replace({w5}, "
        f"'[éè]([^{FR_VOWELS}]+)$', 'e\\1'), 'UIY', 'uiy')"
    )
    body = _bind(
        w1, _fr_table_sql(w0, FR_STEP1, pv, p1, p2),
        _bind(s1, s1_e,
              _bind(wa, wa_e,
                    _bind(wb, wb_e, _bind(w3, w3_e, step6)))))
    return _bind(
        cs, f"split({var}, '')",
        _bind(w0, marked,
              _bind(vp, vpat,
                    _bind(pv, pv_e,
                          _bind(p1, p1_e, _bind(p2, p2_e, body))))))


# ---------------------------------------------------------------------------
# German SNOWBALL stemmer — the FULL classic algorithm
# (snowballstem.org/algorithms/german/stemmer.html), the tier of the
# reference text_de fieldType's documented "more aggressive" slot
# (managed-schema.xml text_de: `<filter name="snowballPorter"
# language="German2"/>`, shipped commented next to the default
# germanLightStem).  We implement the published CLASSIC German
# algorithm; German2's additional ae/oe/ue umlaut-digraph folding is a
# documented deviation.  Same flattened one-table dual Python/SQL
# design as the French chain (compound "preceded by" clauses become
# longer suffix entries; step-1's niss rule becomes nisse/nissen/nisses
# entries), reusing the shared atom machinery.

DE_VOWELS = "aeiouyäöü"
_DE_S_END = "bdfghklmnrt"    # valid s-endings (step 1c)
_DE_ST_END = "bdfghklmnt"    # valid st-endings (step 2)

DE_STEP1: list[tuple[str, list]] = (
    _fr1(["em", "ern", "er"], lambda L: [([("R1", L)], ("del", L))])
    # group (b) + the niss rule flattened: deleting e/en/es preceded by
    # niss also drops the final s (Verhältnisse -> Verhältnis)
    + [("nisse", [([("R1", 1)], ("del", 2))]),
       ("nissen", [([("R1", 2)], ("del", 3))]),
       ("nisses", [([("R1", 2)], ("del", 3))])]
    + _fr1(["e", "en", "es"], lambda L: [([("R1", L)], ("del", L))])
    + [("s", [([("R1", 1), ("p_in", 1, _DE_S_END)], ("del", 1))])]
)

DE_STEP2: list[tuple[str, list]] = (
    _fr1(["est", "en", "er"], lambda L: [([("R1", L)], ("del", L))])
    # st: valid st-ending itself preceded by >= 3 letters (hop 3)
    + [("st", [([("R1", 2), ("p_in", 2, _DE_ST_END), ("minlen", 6)],
                ("del", 2))])]
)

DE_STEP3: list[tuple[str, list]] = (
    _fr1(["igend", "igung"],
         lambda L: [([("R2", L - 2), ("R2", L), ("p_not_in", L, "e")],
                     ("del", L)),
                    ([("R2", L - 2)], ("del", L - 2))])
    + _fr1(["end", "ung"], lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["isch", "ig", "ik"],
           lambda L: [([("R2", L), ("p_not_in", L, "e")], ("del", L))])
    + _fr1(["erlich", "enlich", "erheit", "enheit"],
           lambda L: [([("R2", L - 2), ("R1", L)], ("del", L)),
                      ([("R2", L - 2)], ("del", L - 2))])
    + _fr1(["lich", "heit"], lambda L: [([("R2", L)], ("del", L))])
    + [("lichkeit", [([("R2", 4), ("R2", 8)], ("del", 8)),
                     ([("R2", 4)], ("del", 4))]),
       ("igkeit", [([("R2", 4), ("R2", 6)], ("del", 6)),
                   ([("R2", 4)], ("del", 4))])]
    + [("keit", [([("R2", 4)], ("del", 4))])]
)

_DE_STEP1_S = _fr_sorted(DE_STEP1)
_DE_STEP2_S = _fr_sorted(DE_STEP2)
_DE_STEP3_S = _fr_sorted(DE_STEP3)
_DE_POST = str.maketrans({"U": "u", "Y": "y", "ä": "a", "ö": "o", "ü": "u"})


def _de_prelude(w: str) -> str:
    """ß -> ss, then mark u/y BETWEEN vowels as U/Y (both neighbors
    must be vowels — narrower than the French prelude)."""
    w = w.replace("ß", "ss")
    out: list[str] = []
    n = len(w)
    for i, ch in enumerate(w):
        prev = out[i - 1] if i else ""
        nxt = w[i + 1] if i + 1 < n else ""
        if (ch in "uy" and prev and prev in DE_VOWELS
                and nxt and nxt in DE_VOWELS):
            out.append(ch.upper())
        else:
            out.append(ch)
    return "".join(out)


def _de_regions(w: str) -> tuple[int, int]:
    """(p1, p2): standard R1/R2 offsets, with R1 adjusted so at least 3
    letters precede it (p2 is computed from the UNADJUSTED R1 position,
    as german.sbl's cursor flow does)."""
    n = len(w)
    isv = [c in DE_VOWELS for c in w]
    def nonv_after_v(start: int) -> int:
        for i in range(start + 1, n):
            if not isv[i] and isv[i - 1]:
                return i + 1
        return n
    p1_raw = nonv_after_v(0)
    p2 = nonv_after_v(p1_raw)
    return max(p1_raw, 3), p2


def german_snowball_stem(w: str) -> str:
    """The full classic Snowball German algorithm: prelude (ß->ss, U/Y
    marking), adjusted R1/R2, three suffix steps, umlaut-unfolding
    postlude."""
    w = _de_prelude(w)
    p1, p2 = _de_regions(w)
    for table in (_DE_STEP1_S, _DE_STEP2_S, _DE_STEP3_S):
        w, _s, _a = _fr_apply(w, 0, p1, p2, table)
    return w.translate(_DE_POST)


def german_snowball_sql(var: str = "x") -> str:
    """Machine-generated DuckDB mirror of german_snowball_stem, from the
    SAME rule tables."""
    cs, w0, vp = _fresh("gc"), _fresh("gw"), _fresh("gp")
    p1r, p1, p2 = _fresh("gr"), _fresh("g1"), _fresh("g2")
    w1, w2, w3 = _fresh("g"), _fresh("g"), _fresh("g")
    vset = ", ".join(f"'{c}'" for c in DE_VOWELS)

    nxt = f"coalesce({cs}[length(acc)+2], '')"
    marked = (
        f"list_reduce(list_prepend('', {cs}), (acc, ch) -> acc || "
        f"CASE WHEN ch IN ('u', 'y') AND substr(acc, -1) IN ({vset}) "
        f"AND {nxt} IN ({vset}) THEN upper(ch) ELSE ch END)"
    )
    vpat = (
        f"list_reduce(list_prepend('', split({w0}, '')), (a, c) -> a || "
        f"CASE WHEN c IN ({vset}) THEN 'v' ELSE 'c' END)"
    )
    p1r_e = (f"CASE WHEN instr({vp}, 'vc') > 0 THEN instr({vp}, 'vc') + 1 "
             f"ELSE length({w0}) END")
    p2_e = (
        f"CASE WHEN instr(substr({vp}, {p1r} + 1), 'vc') > 0 "
        f"THEN {p1r} + instr(substr({vp}, {p1r} + 1), 'vc') + 1 "
        f"ELSE length({w0}) END"
    )
    # dummy RV offset 0 (German has no RV); the shared table generator
    # only references it for RV atoms, which German tables never use
    s1 = _fr_table_sql(w0, DE_STEP1, "0", p1, p2)
    s2 = _fr_table_sql(w1, DE_STEP2, "0", p1, p2)
    s3 = _fr_table_sql(w2, DE_STEP3, "0", p1, p2)
    post = (f"translate({w3}, 'UYäöü', 'uyaou')")
    body = _bind(w1, s1, _bind(w2, s2, _bind(w3, s3, post)))
    return _bind(
        cs, f"split(replace({var}, 'ß', 'ss'), '')",
        _bind(w0, marked,
              _bind(vp, vpat,
                    _bind(p1r, p1r_e,
                          _bind(p1, f"greatest({p1r}, 3)",
                                _bind(p2, p2_e, body))))))


# ---------------------------------------------------------------------------
# Spanish SNOWBALL stemmer — the FULL algorithm
# (snowballstem.org/algorithms/spanish/stemmer.html), the tier of the
# reference text_es fieldType's documented "more aggressive" slot
# (managed-schema.xml text_es: `<filter name="snowballPorter"
# language="Spanish"/>`, shipped commented next to the default
# spanishLightStem).  Third chain from the shared flattened-table
# machinery.  Step 0's "pronoun preceded by gerund/infinitive ending"
# rule is flattened into ending+pronoun combo entries (generated by
# comprehension from the two pinned lists — still ONE table driving
# both engines); the gu-rules of steps 2b/3 flatten the same way.

ES_VOWELS = "aeiouáéíóúü"

_ES_PRON = ["me", "se", "sela", "selo", "selas", "selos", "la", "le",
            "lo", "las", "les", "los", "nos"]
_ES_END_ACC = [("iéndo", "iendo"), ("ándo", "ando"), ("ár", "ar"),
               ("ér", "er"), ("ír", "ir")]
_ES_END_PLAIN = ["ando", "iendo", "ar", "er", "ir"]


def _es_step0() -> list[tuple[str, list]]:
    t: list[tuple[str, list]] = []
    for p in _ES_PRON:
        for acc, plain in _ES_END_ACC:  # (a): delete pronoun + unaccent
            k = len(acc) + len(p)
            t.append((acc + p, [([("RV", k)], ("rep", k, plain))]))
        for e in _ES_END_PLAIN:         # (b): delete the pronoun
            t.append((e + p, [([("RV", len(e) + len(p))],
                               ("del", len(p)))]))
        # (c): yendo following u — the u need not be in RV
        t.append(("uyendo" + p, [([("RV", 5 + len(p))], ("del", len(p)))]))
    return t


ES_STEP0 = _es_step0()

ES_STEP1: list[tuple[str, list]] = (
    _fr1(["anza", "anzas", "ico", "ica", "icos", "icas", "ismo", "ismos",
          "able", "ables", "ible", "ibles", "ista", "istas", "oso", "osa",
          "osos", "osas", "amiento", "amientos", "imiento", "imientos"],
         lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["adora", "ador", "ación", "adoras", "adores", "aciones",
            "ante", "antes", "ancia", "ancias"],
           lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["icadora", "icador", "icación", "icadoras", "icadores",
            "icaciones", "icante", "icantes", "icancia", "icancias"],
           lambda L: [([("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 2)], ("del", L - 2))])
    + _fr1(["logía", "logías"], lambda L: [([("R2", L)], ("rep", L, "log"))])
    + _fr1(["ución", "uciones"], lambda L: [([("R2", L)], ("rep", L, "u"))])
    + _fr1(["encia", "encias"], lambda L: [([("R2", L)], ("rep", L, "ente"))])
    + [("ativamente", [([("R1", 6), ("R2", 8), ("R2", 10)], ("del", 10)),
                       ([("R1", 6), ("R2", 8)], ("del", 8)),
                       ([("R1", 6)], ("del", 6))]),
       ("ivamente", [([("R1", 6), ("R2", 8)], ("del", 8)),
                     ([("R1", 6)], ("del", 6))])]
    + _fr1(["osamente", "icamente", "adamente"],
           lambda L: [([("R1", 6), ("R2", 8)], ("del", 8)),
                      ([("R1", 6)], ("del", 6))])
    + [("amente", [([("R1", 6)], ("del", 6))])]
    + _fr1(["antemente", "ablemente", "iblemente"],
           lambda L: [([("R2", 5), ("R2", L)], ("del", L)),
                      ([("R2", 5)], ("del", 5))])
    + [("mente", [([("R2", 5)], ("del", 5))])]
    + _fr1(["abilidad", "abilidades"],
           lambda L: [([("R2", L - 4), ("R2", L)], ("del", L)),
                      ([("R2", L - 4)], ("del", L - 4))])
    + _fr1(["icidad", "icidades", "ividad", "ividades"],
           lambda L: [([("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 2)], ("del", L - 2))])
    + _fr1(["idad", "idades"], lambda L: [([("R2", L)], ("del", L))])
    + _fr1(["ativa", "ativo", "ativas", "ativos"],
           lambda L: [([("R2", L - 2), ("R2", L)], ("del", L)),
                      ([("R2", L - 2)], ("del", L - 2))])
    + _fr1(["iva", "ivo", "ivas", "ivos"],
           lambda L: [([("R2", L)], ("del", L))])
)

# step 2a: y-verb suffixes in RV, each preceded by a u that need not be
# in RV
ES_STEP2A: list[tuple[str, list]] = [
    ("u" + y, [([("RV", len(y))], ("del", len(y)))])
    for y in ["ya", "ye", "yan", "yen", "yeron", "yendo", "yo", "yó",
              "yas", "yes", "yais", "yamos"]
]

_ES_2B_GU = ["en", "es", "éis", "emos"]
_ES_2B_REST = [
    "arían", "arías", "arán", "arás", "aríais", "aría", "aréis",
    "aríamos", "aremos", "ará", "aré", "erían", "erías", "erán", "erás",
    "eríais", "ería", "eréis", "eríamos", "eremos", "erá", "eré",
    "irían", "irías", "irán", "irás", "iríais", "iría", "iréis",
    "iríamos", "iremos", "irá", "iré", "aba", "ada", "ida", "ía", "ara",
    "iera", "ad", "ed", "id", "ase", "iese", "aste", "iste", "an",
    "aban", "ían", "aran", "ieran", "asen", "iesen", "aron", "ieron",
    "ado", "ido", "ando", "iendo", "ió", "ar", "er", "ir", "as", "abas",
    "adas", "idas", "ías", "aras", "ieras", "ases", "ieses", "ís",
    "áis", "abais", "íais", "arais", "ierais", "aseis", "ieseis",
    "asteis", "isteis", "ados", "idos", "amos", "ábamos", "íamos",
    "imos", "áramos", "iéramos", "iésemos", "ásemos",
]

# a gu-preceded en/es/éis/emos in RV also loses the u, which need not be
# in RV
ES_STEP2B: list[tuple[str, list]] = (
    [("gu" + x, [([("RV", len(x))], ("del", len(x) + 1))])
     for x in _ES_2B_GU]
    + _fr1(_ES_2B_GU, lambda L: [([("RV", L)], ("del", L))])
    + _fr1(_ES_2B_REST, lambda L: [([("RV", L)], ("del", L))])
)

ES_STEP3: list[tuple[str, list]] = (
    _fr1(["os"], lambda L: [([("RV", 2)], ("del", 2))])
    + _fr1(["a", "o", "á", "í", "ó"], lambda L: [([("RV", 1)], ("del", 1))])
    + [("gue", [([("RV", 1), ("RV", 2)], ("del", 2)),
                ([("RV", 1)], ("del", 1))]),
       ("gué", [([("RV", 1), ("RV", 2)], ("del", 2)),
                ([("RV", 1)], ("del", 1))])]
    + _fr1(["e", "é"], lambda L: [([("RV", 1)], ("del", 1))])
)

_ES_STEP0_S = _fr_sorted(ES_STEP0)
_ES_STEP1_S = _fr_sorted(ES_STEP1)
_ES_STEP2A_S = _fr_sorted(ES_STEP2A)
_ES_STEP2B_S = _fr_sorted(ES_STEP2B)
_ES_STEP3_S = _fr_sorted(ES_STEP3)
_ES_POST = str.maketrans("áéíóú", "aeiou")


def _es_rv(w: str) -> int:
    """Spanish RV: second letter consonant → after the next vowel;
    first two letters vowels → after the next consonant; else
    (consonant-vowel) → after the third letter."""
    n = len(w)
    if n < 3:
        return n
    if w[1] not in ES_VOWELS:
        for i in range(2, n):
            if w[i] in ES_VOWELS:
                return i + 1
        return n
    if w[0] in ES_VOWELS and w[1] in ES_VOWELS:
        for i in range(2, n):
            if w[i] not in ES_VOWELS:
                return i + 1
        return n
    return 3


def _es_r12(w: str) -> tuple[int, int]:
    n = len(w)
    isv = [c in ES_VOWELS for c in w]
    def nonv_after_v(start: int) -> int:
        for i in range(start + 1, n):
            if not isv[i] and isv[i - 1]:
                return i + 1
        return n
    p1 = nonv_after_v(0)
    return p1, nonv_after_v(p1)


def spanish_snowball_stem(w: str) -> str:
    """The full Snowball Spanish algorithm: fixed RV/R1/R2 offsets,
    attached-pronoun step 0, standard suffixes, y-verb and verb
    suffixes (with the flattened gu rules), residual step, un-accent
    postlude."""
    pv = _es_rv(w)
    p1, p2 = _es_r12(w)
    w, _s, _a = _fr_apply(w, pv, p1, p2, _ES_STEP0_S)
    w1, _s, _a = _fr_apply(w, pv, p1, p2, _ES_STEP1_S)
    if w1 == w:
        w2a, _s, applied2a = _fr_apply(w1, pv, p1, p2, _ES_STEP2A_S)
        if not applied2a:
            w2, _s, _a = _fr_apply(w1, pv, p1, p2, _ES_STEP2B_S)
        else:
            w2 = w2a
    else:
        w2 = w1
    w3, _s, _a = _fr_apply(w2, pv, p1, p2, _ES_STEP3_S)
    return w3.translate(_ES_POST)


def spanish_snowball_sql(var: str = "x") -> str:
    """Machine-generated DuckDB mirror of spanish_snowball_stem, from
    the SAME rule tables."""
    vp = _fresh("sp")
    pv, p1, p2 = _fresh("sv"), _fresh("s1"), _fresh("s2")
    w0, w1, w2a, w2, w3 = (_fresh("s") for _ in range(5))
    vset = ", ".join(f"'{c}'" for c in ES_VOWELS)

    vpat = (
        f"list_reduce(list_prepend('', split({var}, '')), (a, c) -> a || "
        f"CASE WHEN c IN ({vset}) THEN 'v' ELSE 'c' END)"
    )
    # RV by the three-case rule over the v/c pattern
    pv_e = (
        f"CASE WHEN length({var}) < 3 THEN length({var}) "
        f"WHEN substr({vp}, 2, 1) = 'c' THEN "
        f"(CASE WHEN instr(substr({vp}, 3), 'v') > 0 "
        f"THEN instr(substr({vp}, 3), 'v') + 2 ELSE length({var}) END) "
        f"WHEN substr({vp}, 1, 2) = 'vv' THEN "
        f"(CASE WHEN instr(substr({vp}, 3), 'c') > 0 "
        f"THEN instr(substr({vp}, 3), 'c') + 2 ELSE length({var}) END) "
        f"ELSE 3 END"
    )
    p1_e = (f"CASE WHEN instr({vp}, 'vc') > 0 THEN instr({vp}, 'vc') + 1 "
            f"ELSE length({var}) END")
    p2_e = (
        f"CASE WHEN instr(substr({vp}, {p1} + 1), 'vc') > 0 "
        f"THEN {p1} + instr(substr({vp}, {p1} + 1), 'vc') + 1 "
        f"ELSE length({var}) END"
    )
    s0 = _fr_table_sql(var, ES_STEP0, pv, p1, p2)
    s1 = _fr_table_sql(w0, ES_STEP1, pv, p1, p2)
    s2a = _fr_table_sql(w1, ES_STEP2A, pv, p1, p2)
    s2b = _fr_table_sql(w1, ES_STEP2B, pv, p1, p2)
    w2a_e = f"CASE WHEN {w1} = {w0} THEN {s2a} ELSE {w1} END"
    w2_e = (f"CASE WHEN {w1} = {w0} AND {w2a} = {w1} THEN {s2b} "
            f"ELSE {w2a} END")
    s3 = _fr_table_sql(w2, ES_STEP3, pv, p1, p2)
    body = _bind(
        w0, s0,
        _bind(w1, s1,
              _bind(w2a, w2a_e,
                    _bind(w2, w2_e,
                          _bind(w3, s3,
                                f"translate({w3}, 'áéíóú', 'aeiou')")))))
    return _bind(vp, vpat,
                 _bind(pv, pv_e, _bind(p1, p1_e, _bind(p2, p2_e, body))))
