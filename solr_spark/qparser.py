"""Query parsing — a "lucene-lite" frontend.

Covers the reference's standard-parser semantics that the FIXTURES query
mix exercises (solr/core/src/java/org/apache/solr/search/LuceneQParser.java,
SolrQueryParser.java; ref-guide standard-query-parser.adoc):

  term            optional scoring clause (OR semantics: sum of matching)
  +term           required scoring clause (mm=100% conjunction when all +)
  -term           prohibited clause (never scores)
  term^2.5        boosted clause (weight multiplies the BM25 contribution,
                  SolrQueryParser boost syntax)
  "a b"           quoted phrase clause (adjacency match; executed from
                  positional postings, engine.gate_phrase)
  field:value     filter on a StrField-like doc column (lang:, repo:, ...)
                  — treated as fq (filter, NOT scored), per FIXTURES.md §2

Terms go through the same analysis chain as documents (analyze_query),
so `License` == `license` and stopword clauses vanish. Duplicate query
terms keep multiplicity (two identical clauses score twice, matching
Lucene's BooleanQuery).
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

from .analysis import analyze_query

FILTER_FIELDS = ("lang", "repo", "path", "commit", "source")

_PHRASE_RE = re.compile(r'([+-]?)"([^"]*)"')
_FUZZY_RE = re.compile(r"^([a-z0-9_]+)~(\d*)$")


@dataclass
class MultiTermClause:
    """A term-expansion clause (prefix / wildcard / fuzzy): matched against
    the term dictionary at query time, scored constant (Lucene's
    CONSTANT_SCORE rewrite — the default for multi-term queries,
    solr-ref-guide standard-query-parser.adoc; PrefixQParserPlugin.java).

    kind: 'prefix' | 'wildcard' | 'fuzzy'
    pattern: the raw lowercased pattern ('spar*', 'w?ndow', 'spark')
    max_edits: fuzzy only — classic Levenshtein budget (Lucene's
    FuzzyQuery uses Damerau-Levenshtein; we pin classic edit distance,
    the JVM/SQL-portable variant — documented deviation).
    """

    kind: str
    pattern: str
    max_edits: int = 0
    boost: float = 1.0


@dataclass
class Query:
    optional: Counter = field(default_factory=Counter)   # term -> multiplicity
    required: Counter = field(default_factory=Counter)
    prohibited: set = field(default_factory=set)
    filters: dict = field(default_factory=dict)          # field -> [values] (OR)
    boosts: dict = field(default_factory=dict)           # term -> float boost
    phrases: list = field(default_factory=list)          # [list[str] token seqs]
    multiterm: list = field(default_factory=list)        # [MultiTermClause]
    # MUST groups: each inner list is "doc must match >= 1 of these terms"
    # (a required clause whose synonyms ORed in — Lucene SynonymQuery
    # inside a MUST clause). Empty => every `required` key is its own
    # singleton group (the plain conjunction).
    required_groups: list = field(default_factory=list)

    @property
    def scoring(self) -> Counter:
        c = Counter(self.optional)
        c.update(self.required)
        return c

    @property
    def is_pure_conjunction(self) -> bool:
        return bool(self.required) and not self.optional


def expand_synonyms(query: Query, synonyms: dict[str, list[str]]) -> Query:
    """Query-time synonym expansion — the synonymGraphFilter slot of the
    reference's query analyzer chain (solr/server/solr/configsets/_default/
    conf/managed-schema.xml:307-312), with Solr's expand=true semantics:
    each synonym becomes an equally-weighted OR clause alongside the
    original term (approximating Lucene SynonymQuery, which blends df —
    we score each variant with its own df, the pre-SynonymQuery behavior).
    Multiplicity and boosts carry over from the source term."""
    out = Query(
        optional=Counter(query.optional),
        required=Counter(query.required),
        prohibited=set(query.prohibited),
        filters={k: list(v) for k, v in query.filters.items()},
        boosts=dict(query.boosts),
        phrases=[list(p) for p in query.phrases],
        multiterm=list(query.multiterm),
    )
    for t, cnt in query.optional.items():
        for s in synonyms.get(t, ()):
            for tok in analyze_query(s):
                out.optional[tok] += cnt
                if t in out.boosts:
                    out.boosts[tok] = out.boosts.get(tok, 1.0) * out.boosts[t]
    # a REQUIRED term's synonyms must OR with the original INSIDE the
    # MUST clause (SynonymQuery in a BooleanClause.MUST) — adding them to
    # `required` would demand every variant. The synonyms join the
    # scoring stream as optional clauses and the MUST constraint becomes
    # a required_group over {term, *synonyms}.
    groups = [list(g) for g in (query.required_groups or [[t] for t in query.required])]
    for t, cnt in query.required.items():
        syns = []
        for s in synonyms.get(t, ()):
            syns.extend(analyze_query(s))
        if not syns:
            continue
        for tok in syns:
            out.optional[tok] += cnt
            if t in out.boosts:
                out.boosts[tok] = out.boosts.get(tok, 1.0) * out.boosts[t]
        for g in groups:
            if t in g:
                g.extend(tok for tok in syns if tok not in g)
    if any(len(g) > 1 for g in groups):
        out.required_groups = groups
    return out


def calculate_mm(optional_clause_count: int, spec: str) -> int:
    """min-should-match spec → required clause count. Faithful port of
    SolrPluginUtils.calculateMinShouldMatch
    (/root/reference/solr/core/src/java/org/apache/solr/util/
    SolrPluginUtils.java:625-663): supports integers ("2"), negatives
    ("-1" = all but one), percentages ("75%", "-25%"), and conditional
    specs ("3<90%": if more than 3 clauses, require 90%)."""
    result = optional_clause_count
    spec = re.sub(r"(\s+<\s*)|(\s*<\s+)", "<", spec.strip())
    if "<" in spec:
        for s in spec.split(" "):
            parts = s.split("<", 1)
            upper_bound = int(parts[0])
            if optional_clause_count <= upper_bound:
                return result
            result = calculate_mm(optional_clause_count, parts[1])
        return result
    if "%" in spec:
        import numpy as np

        percent = int(spec[: spec.index("%")])
        # float32 on purpose: the reference computes (result*percent)*(1/100f)
        # in Java float math, so e.g. 4 clauses at 75% give (int)2.9999999=2
        calc = int(np.float32(result * percent) * (np.float32(1) / np.float32(100)))
        result = result + calc if calc < 0 else calc
    else:
        calc = int(spec)
        result = result + calc if calc < 0 else calc
    if result > optional_clause_count:
        return optional_clause_count
    return 1 if result < 1 else result


def parse_xml_query(xml_str: str, filter_fields: tuple[str, ...] = FILTER_FIELDS) -> Query:
    """{!xmlparser}: the XML query syntax mapped onto the same Query IR
    (core/.../search/XmlQParserPlugin.java:1, which delegates to Lucene's
    xml-queryparser CoreParser). Supported element subset — the shapes
    the reference's own tests exercise:

      <BooleanQuery>
        <Clause occurs="must|should|mustnot"> <TermQuery>…</TermQuery> |
                                              <PhraseQuery>…</PhraseQuery> </Clause>
      </BooleanQuery>
      <TermQuery boost="2.0" fieldName="text">token</TermQuery>  (top level)
      <TermsFilter fieldName="lang">en de</TermsFilter>           (fq analog)

    Unknown elements raise — failing loudly beats silently dropping a
    clause (same stance as kernel.search's phrase guard)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_str)
    out = Query()

    def add_term_el(el, occurs: str) -> None:
        boost = float(el.attrib.get("boost", 1.0))
        fld = el.attrib.get("fieldName", "")
        text = el.text or ""
        if fld and fld.lower() in filter_fields and el.tag == "TermsFilter":
            out.filters.setdefault(fld.lower(), []).extend(text.split())
            return
        for t in analyze_query(text):
            if occurs == "must":
                out.required[t] += 1
            elif occurs == "mustnot":
                out.prohibited.add(t)
            else:
                out.optional[t] += 1
            if boost != 1.0:
                out.boosts[t] = out.boosts.get(t, 1.0) * boost

    def handle(el, occurs: str = "should") -> None:
        if el.tag == "BooleanQuery":
            for clause in el:
                if clause.tag != "Clause":
                    raise ValueError(f"unsupported element <{clause.tag}> in BooleanQuery")
                occ = clause.attrib.get("occurs", "should")
                kids = list(clause)
                if len(kids) != 1:
                    raise ValueError("Clause must wrap exactly one query element")
                handle(kids[0], occ)
        elif el.tag == "TermQuery":
            add_term_el(el, occurs)
        elif el.tag == "PhraseQuery":
            toks = analyze_query(el.text or "")
            if occurs == "mustnot":
                raise ValueError("prohibited phrase clauses are unsupported")
            if toks:
                out.phrases.append(toks)
        elif el.tag == "TermsFilter":
            add_term_el(el, occurs)
        elif el.tag == "MatchAllDocsQuery":
            pass  # no scoring clause; filters (if any) still apply
        else:
            raise ValueError(f"unsupported query element <{el.tag}>")

    handle(root)
    return out


def parse(q: str, filter_fields: tuple[str, ...] = FILTER_FIELDS) -> Query:
    out = Query()

    def strip_phrase(m: "re.Match") -> str:
        toks = analyze_query(m.group(2))
        if toks:
            out.phrases.append(toks)
        return " "

    q = _PHRASE_RE.sub(strip_phrase, q)
    for raw in q.split():
        tok, prefix = raw, ""
        if tok[:1] in "+-":
            prefix, tok = tok[0], tok[1:]
        boost = 1.0
        if "^" in tok:
            tok, _, b = tok.rpartition("^")
            try:
                boost = float(b)
            except ValueError:
                tok = f"{tok}^{b}"  # not a boost — restore
                boost = 1.0
        if ":" in tok:
            f, _, v = tok.partition(":")
            if f.lower() in filter_fields and v:
                out.filters.setdefault(f.lower(), []).append(v)
                continue
        # term-level multi-term queries (standard-query-parser.adoc):
        # spar* / w?ndow (wildcard), spark~ / spark~1 (fuzzy). Lowercased
        # but NOT analyzed (Lucene analyzeMultiTerm: normalization only —
        # analysis would eat the operators). Optional clauses only; the
        # engine expands them against the term dictionary.
        low = tok.lower()
        if "*" in low or "?" in low:
            if prefix:
                # '+spar*' / '-spar*': silently tokenizing to the bare
                # stem would match the wrong docs — fail loudly until
                # required/prohibited multi-term groups are implemented
                raise ValueError(
                    f"required/prohibited multi-term clause {prefix}{low!r} "
                    "is unsupported (SHOULD-only wildcard/prefix queries)"
                )
            kind = (
                "prefix"
                if low.endswith("*") and "*" not in low[:-1] and "?" not in low
                else "wildcard"
            )
            out.multiterm.append(MultiTermClause(kind, low, 0, boost))
            continue
        fz = _FUZZY_RE.match(low)
        if fz:
            if prefix:
                raise ValueError(
                    f"required/prohibited fuzzy clause {prefix}{low!r} is "
                    "unsupported (SHOULD-only fuzzy queries)"
                )
            edits = int(fz.group(2)) if fz.group(2) else 2
            out.multiterm.append(MultiTermClause("fuzzy", fz.group(1), edits, boost))
            continue
        terms = analyze_query(tok)
        for t in terms:
            if prefix == "+":
                out.required[t] += 1
            elif prefix == "-":
                out.prohibited.add(t)
            else:
                out.optional[t] += 1
            if boost != 1.0:
                out.boosts[t] = out.boosts.get(t, 1.0) * boost
    return out
