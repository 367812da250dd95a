"""Text analysis: code-aware tokenization + stop filtering, fully vectorized.

Re-implements the semantics of the reference's default ``text_general``
analyzer chain (StandardTokenizer -> StopFilter -> LowerCaseFilter;
solr/server/solr/configsets/_default/conf/managed-schema.xml:297-313),
simplified to a code-friendly contract that is expressible BOTH as pandas
vector ops (the engine's ingest kernel) and as ANSI SQL (the DuckDB
correctness oracle):

  ANALYSIS CONTRACT (pinned; tests + oracle depend on it)
  1. lowercase the whole string
  2. tokens = maximal runs of [a-z0-9_]  (identifiers stay whole —
     camelCase is lowercased, snake_case survives; punctuation splits)
  3. drop the 33 classic English stopwords (Lucene
     EnglishAnalyzer.ENGLISH_STOP_WORDS_SET)
  4. doclen = number of surviving tokens (exact, NOT Lucene's 1-byte
     quantized norm — documented deviation, see SURVEY.md §4)

SQL-equivalent form (DuckDB/Spark SQL):
  unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) ... WHERE tok <> ''
    AND tok NOT IN (<STOPWORDS>)
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

TOKEN_RE = re.compile(r"[a-z0-9_]+")

# Lucene's classic 33-word English stop set (EnglishAnalyzer): public
# knowledge; mirrored in the reference's default schema stopwords config.
STOPWORDS: frozenset[str] = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with".split()
)

# Stable, SQL-quotable rendering for oracle generation.
STOPWORDS_SQL = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))

SPLIT_REGEX_SQL = "[^a-z0-9_]+"  # for string_split_regex / split()


def tokenize_arrow(texts: pd.Series):
    """The shared Arrow analysis prologue (lower → regex split → flatten
    → stop-filter) used by both term_frequencies and
    positions.position_lists — ONE implementation so the analysis
    contract can never diverge between the tf path and the positional
    path. Returns ``(flat, parent)``: the surviving token Arrow array and
    its list_parent_indices array (same filtering applied to both)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(texts.fillna(""))
    toks = pc.split_pattern_regex(pc.utf8_lower(arr), SPLIT_REGEX_SQL)
    flat = pc.list_flatten(toks)
    parent = pc.list_parent_indices(toks)
    good = pc.and_(
        pc.not_equal(flat, ""),
        pc.invert(pc.is_in(flat, value_set=pa.array(sorted(STOPWORDS)))),
    )
    return pc.filter(flat, good), pc.filter(parent, good)


def surviving_positions(parent: np.ndarray) -> np.ndarray:
    """Token position within its doc among SURVIVING (post-stop) tokens:
    ordinal minus the doc's first ordinal. ``parent`` must be
    non-decreasing in token order (list_parent_indices contract). Shared
    by positions.position_lists and the synonym-injection path so the
    position arithmetic can never diverge."""
    n = parent.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(parent[1:], parent[:-1], out=change[1:])
    doc_first = np.flatnonzero(change)
    return np.arange(n, dtype=np.int64) - doc_first[np.cumsum(change) - 1]


class SynonymGraph:
    """Index-time synonym expansion — the SynonymGraphFilterFactory slot
    of the reference's index analyzer chain (managed-schema.xml text
    fieldTypes; lucene/analysis/common/.../synonym/SynonymGraphFilter.java).

    ``rules`` maps an analyzed LHS phrase (space-separated post-stop
    tokens) to one or more RHS phrases. At index time every LHS
    occurrence ADDITIONALLY emits the RHS tokens (expand=true semantics:
    originals are kept), with FLATTENED-graph positions exactly as
    Lucene's index chain produces them (SynonymGraphFilter must be
    followed by FlattenGraphFilter when indexing —
    FlattenGraphFilter.java class doc): the j-th RHS token lands at
    ``match_start + j``, overlapping whatever original token holds that
    position. Injected tokens carry position-increment-0 semantics:

      * they never shift original token positions, and
      * they do NOT count toward doclen — Lucene's discountOverlaps=true
        norm default (BM25Similarity.java), so BM25 length normalization
        sees only the original stream while tf/df see the expanded one.

    Matching runs on the post-stop, pre-stem token stream; injected
    tokens then pass through the dictionary-level analyzer transform
    (stemmer) like any original token. Queries need NO expansion against
    a synonym-built index — that is the entire point of paying the
    postings-size cost at build time. Matching and injection are
    vectorized (one Arrow equality per distinct rule token, numpy shifts
    for multi-token adjacency); cost ∝ matches, no extra shuffle — the
    100 TB posture is unchanged from the plain analysis chain."""

    def __init__(self, rules: dict):
        self._rules: list[tuple[tuple[str, ...], list[tuple[str, ...]]]] = []
        for lhs, rhss in sorted(rules.items()):
            if isinstance(rhss, str):
                rhss = [rhss]
            lhs_toks = tuple(lhs.split())
            for t in lhs_toks:
                if not TOKEN_RE.fullmatch(t) or t in STOPWORDS:
                    raise ValueError(
                        f"synonym LHS token {t!r} is not an analyzed "
                        "(post-stop, [a-z0-9_]+) token"
                    )
            rhs_list = []
            for rhs in rhss:
                rhs_toks = tuple(rhs.split())
                if not rhs_toks:
                    raise ValueError(f"empty RHS for synonym LHS {lhs!r}")
                for t in rhs_toks:
                    if not TOKEN_RE.fullmatch(t) or t in STOPWORDS:
                        raise ValueError(
                            f"synonym RHS token {t!r} is not an analyzed "
                            "(post-stop, [a-z0-9_]+) token"
                        )
                rhs_list.append(rhs_toks)
            if not lhs_toks:
                raise ValueError("empty synonym LHS")
            self._rules.append((lhs_toks, rhs_list))

    def to_meta(self) -> dict:
        """JSON-serializable form persisted in IndexMeta — the synonym
        table is part of the index contract (a resumed/merged build must
        reproduce the same postings)."""
        return {
            " ".join(lhs): [" ".join(r) for r in rhss]
            for lhs, rhss in self._rules
        }

    def additions(self, flat, par: np.ndarray, tokpos: np.ndarray):
        """Injected tokens for one analyzed batch. ``flat`` is the
        surviving-token Arrow array, ``par``/``tokpos`` its parallel doc
        index / in-doc position arrays. Returns ``(tokens pa.Array,
        par int64, pos int64)`` or None when nothing matched."""
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(flat)
        if n == 0:
            return None
        eqcache: dict[str, np.ndarray] = {}

        def eq(tok: str) -> np.ndarray:
            if tok not in eqcache:
                eqcache[tok] = (
                    pc.equal(flat, tok)
                    .to_numpy(zero_copy_only=False)
                    .astype(bool)
                )
            return eqcache[tok]

        toks_out: list[np.ndarray] = []
        par_out: list[np.ndarray] = []
        pos_out: list[np.ndarray] = []
        for lhs, rhss in self._rules:
            L = len(lhs)
            if n < L:
                continue
            m = n - L + 1
            mask = eq(lhs[0])[:m].copy()
            for j in range(1, L):
                mask &= eq(lhs[j])[j : j + m]
            if L > 1:
                # the span must stay inside one doc and be contiguous in
                # surviving-token positions (stop-removed gaps break it —
                # matching runs on the post-stop stream, pinned contract)
                mask &= par[L - 1 :] == par[:m]
                mask &= tokpos[L - 1 :] == tokpos[:m] + (L - 1)
            idx = np.flatnonzero(mask)
            if idx.size == 0:
                continue
            for rhs in rhss:
                for j, tok in enumerate(rhs):
                    toks_out.append(np.full(idx.size, tok, dtype=object))
                    par_out.append(par[idx])
                    pos_out.append(tokpos[idx] + j)
        if not toks_out:
            return None
        return (
            pa.array(np.concatenate(toks_out), type=pa.string()),
            np.concatenate(par_out).astype(np.int64),
            np.concatenate(pos_out).astype(np.int64),
        )


def _concat_tokens(flat, extra):
    """Append an Arrow string array to the (possibly chunked) surviving
    token array."""
    import pyarrow as pa

    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    return pa.concat_arrays([flat.cast(pa.string()), extra])


def dict_encode_terms(tokens_arr, term_transform=None):
    """Dictionary-encode a token array and (optionally) apply an analyzer
    transform over the DICTIONARY only — unique terms, so stemming cost
    scales with vocabulary, not corpus. Stems may collide; codes are
    remapped into the stemmed code space (callers merge downstream).
    Returns ``(codes int64 ndarray, dictionary pa.Array)``. Shared by
    term_frequencies._count_runs and positions.position_lists."""
    import pyarrow as pa
    import pyarrow.compute as pc

    denc = pc.dictionary_encode(tokens_arr)
    if isinstance(denc, pa.ChunkedArray):
        denc = denc.combine_chunks()
    codes = denc.indices.to_numpy().astype(np.int64)
    dictionary = denc.dictionary
    if term_transform is not None:
        uniq = dictionary.to_pylist()
        new_code: dict[str, int] = {}
        remap = np.empty(len(uniq), dtype=np.int64)
        for ci, t in enumerate(uniq):
            remap[ci] = new_code.setdefault(term_transform(t), len(new_code))
        codes = remap[codes]
        dictionary = pa.array(list(new_code), type=pa.string())
    return codes, dictionary


def tokenize_lists(texts: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[str]] of post-stop-filter tokens."""
    toks = texts.fillna("").str.lower().str.findall(TOKEN_RE)
    # Vectorized stop filtering: flatten -> mask -> regroup is slower for
    # short docs; a per-list comprehension over interned strings is the
    # pragmatic fast path here (set lookup is C-level).
    sw = STOPWORDS
    return toks.map(lambda ts: [t for t in ts if t not in sw])


def term_frequencies(
    doc_ids: np.ndarray,
    texts: pd.Series,
    term_transform=None,
    synonyms: "SynonymGraph | None" = None,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Analyze a batch of documents — the ingest hot path, zero per-token
    Python objects. All string work runs in Arrow C++ over flat buffers
    (lower → regex split → flatten → stop-filter → dictionary-encode);
    only int arrays reach numpy:

      1. pc.utf8_lower + pc.split_pattern_regex on the non-token class
         (identical token contract to TOKEN_RE — empty fragments dropped)
      2. pc.list_flatten + list_parent_indices → (token, doc position)
      3. pc.is_in stop filter, pc.dictionary_encode → int32 codes
      4. tf counts via one int64 sort + run-length over (pos, code) keys
      5. the triples' term column stays an Arrow-backed pandas column
         (no Python string materialization on the way back out)

    Returns ``(triples, doc_lens)``:
      triples  — DataFrame(docid int64, term str[arrow], tf int64, doclen int64)
      doc_lens — DataFrame(docid int64, doclen int64)  (0 for empty docs)
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n_docs = doc_ids.size
    flat, parent = tokenize_arrow(texts)
    if len(flat) == 0:
        empty_terms = pd.array([], dtype="string[pyarrow]")
        return (
            pd.DataFrame({"docid": np.array([], np.int64), "term": empty_terms, "tf": np.array([], np.int64), "doclen": np.array([], np.int64)}),
            pd.DataFrame({"docid": doc_ids, "doclen": np.zeros(n_docs, np.int64)}),
        )
    pos = parent.to_numpy().astype(np.int64)
    # doclen counts ORIGINAL surviving tokens only — injected synonym
    # tokens are posInc-0 overlaps, excluded from length normalization
    # (Lucene discountOverlaps=true; see SynonymGraph)
    doclens = np.bincount(pos, minlength=n_docs).astype(np.int64)
    if synonyms is not None:
        add = synonyms.additions(flat, pos, surviving_positions(pos))
        if add is not None:
            atoks, apar, _apos = add
            flat = _concat_tokens(flat, atoks)
            pos = np.concatenate([pos, apar])

    # (token, doc) pairs → unique (doc, term, tf) via dict-encode + one
    # combined-key sort + run-length; stems may collide after the
    # dictionary-level transform, and the run-length pass merges their tfs
    codes, dictionary = dict_encode_terms(flat, term_transform)
    k = np.int64(len(dictionary))
    key = pos * k + codes
    key.sort()
    change = np.empty(key.size, dtype=bool)
    change[0] = True
    np.not_equal(key[1:], key[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    tf = np.diff(np.append(starts, key.size))
    ukey = key[starts]
    upos = ukey // k
    term_col = pd.Series(
        pd.arrays.ArrowExtensionArray(
            pc.take(dictionary, pa.array((ukey % k), type=pa.int32()))
        )
    )
    triples = pd.DataFrame(
        {
            "docid": doc_ids[upos],
            "term": term_col,
            "tf": tf.astype(np.int64),
            "doclen": doclens[upos],
        }
    )
    doc_lens = pd.DataFrame({"docid": doc_ids, "doclen": doclens})
    return triples, doc_lens


def s_stem(word: str) -> str:
    """Harman S-stemmer (Donna Harman, "How Effective Is Suffixing?",
    JASIS 42(1), 1991 — public algorithm; the reference ships it as the
    EnglishMinimalStem family slot of its analyzer registry,
    solr/server/solr/configsets/_default managed-schema field types):

      1. ends 'ies': → 'y'    unless 'eies'/'aies' (then unchanged)
      2. ends 'es':  → drop s unless 'aes'/'ees'/'oes' (then unchanged)
      3. ends 's':   → drop s unless 'us'/'ss' (then unchanged)

    The first rule whose suffix matches DECIDES (exceptions terminate,
    they do not fall through to later rules). Words of length ≤ 2 pass
    through (the Lucene minimal-stem guard)."""
    if len(word) <= 2:
        return word
    if word.endswith("ies"):
        return word if word.endswith(("eies", "aies")) else word[:-3] + "y"
    if word.endswith("es"):
        return word if word.endswith(("aes", "ees", "oes")) else word[:-1]
    if word.endswith("s"):
        return word if word.endswith(("us", "ss")) else word[:-1]
    return word


# SQL mirror of s_stem over a lambda variable x (DuckDB list_transform
# body) — identical branch order and guards.
S_STEM_CASE_SQL = (
    "CASE WHEN length(x) <= 2 THEN x "
    "WHEN x LIKE '%ies' THEN "
    "(CASE WHEN x LIKE '%eies' OR x LIKE '%aies' THEN x "
    "ELSE substr(x, 1, length(x) - 3) || 'y' END) "
    "WHEN x LIKE '%es' THEN "
    "(CASE WHEN x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes' THEN x "
    "ELSE substr(x, 1, length(x) - 1) END) "
    "WHEN x LIKE '%s' THEN "
    "(CASE WHEN x LIKE '%us' OR x LIKE '%ss' THEN x "
    "ELSE substr(x, 1, length(x) - 1) END) "
    "ELSE x END"
)

# Analyzer registry: name → per-term transform applied to the token
# DICTIONARY (unique terms), not the token stream — stemming cost scales
# with vocabulary size, not corpus size (the Spark-native analog of
# Lucene's per-segment term dictionary). None = identity (the pinned
# "code" contract above).
from .stem import (  # noqa: E402
    basque_light_stem,
    catalan_light_stem,
    czech_light_stem,
    danish_minimal_stem,
    dutch_minimal_stem,
    estonian_light_stem,
    finnish_light_stem,
    french_minimal_stem,
    french_snowball_stem,
    galician_minimal_stem,
    german_snowball_stem,
    spanish_snowball_stem,
    german_minimal_stem,
    hungarian_light_stem,
    indonesian_light_stem,
    irish_light_stem,
    italian_light_stem,
    latvian_light_stem,
    norwegian_minimal_stem,
    porter_stem,
    portuguese_minimal_stem,
    romanian_light_stem,
    spanish_light_stem,
    swedish_light_stem,
    turkish_light_stem,
)

ANALYZERS: dict[str, "callable | None"] = {
    "code": None,
    "code_stem": s_stem,
    # text_en: the reference's English chain shape (stop + Porter; the
    # base tokenize path already applies the stop set, so the dictionary
    # transform is the Porter step — stem.porter_stem, the 1980 paper)
    "text_en": porter_stem,
    # text_de: umlaut folding + minimal plural/case stripper
    # (stem.german_minimal_stem) — the non-English chain slot
    "text_de": german_minimal_stem,
    # text_fr: accent folding + Savoy-style light ending removal
    # (stem.french_minimal_stem) — the reference text_fr fieldType's
    # DEFAULT frenchLightStem slot (managed-schema.xml text_fr)
    "text_fr": french_minimal_stem,
    # text_fr_snowball: the SAME fieldType's documented "more
    # aggressive" alternative slot (`<filter name="snowballPorter"
    # language="French"/>`, shipped commented in managed-schema.xml
    # text_fr) — the FULL Snowball French algorithm
    # (stem.french_snowball_stem), proving the one-table dual
    # Python/SQL design carries full-algorithm complexity beyond the
    # light tier (Porter English already does)
    "text_fr_snowball": french_snowball_stem,
    # text_de_snowball: text_de's documented "more aggressive" slot
    # (managed-schema.xml text_de: snowballPorter language="German2",
    # shipped commented next to the default germanLightStem) — the
    # published CLASSIC Snowball German algorithm
    # (stem.german_snowball_stem); German2's additional ae/oe/ue
    # digraph folding is a documented deviation
    "text_de_snowball": german_snowball_stem,
    # text_es_snowball: text_es's documented "more aggressive" slot
    # (managed-schema.xml text_es: snowballPorter language="Spanish") —
    # the full published algorithm incl. the attached-pronoun step
    "text_es_snowball": spanish_snowball_stem,
    # text_es / text_it / text_pt: the same Savoy/Orengo light-stemmer
    # family the reference's language fieldTypes ship (managed-schema
    # text_es/text_it/text_pt; each a pinned rule table in stem.py with
    # a machine-generated DuckDB SQL mirror)
    "text_es": spanish_light_stem,
    "text_it": italian_light_stem,
    "text_pt": portuguese_minimal_stem,
    # text_sv / text_no / text_hu / text_nl: the remaining European
    # light chains of the reference's language fieldType registry
    # (managed-schema text_sv/text_no/text_hu/text_nl — Swedish/
    # Norwegian light, Hungarian light completing the Savoy SAC-2006
    # quartet, Dutch plural/diminutive reduction); same pinned
    # rule-table → dual Python/SQL design in stem.py
    "text_sv": swedish_light_stem,
    "text_no": norwegian_minimal_stem,
    "text_hu": hungarian_light_stem,
    "text_nl": dutch_minimal_stem,
    # text_cjk: no dictionary transform — the chain is the ingest
    # pre-transform PRE_TRANSFORMS["text_cjk"] (CJK bigram fold below)
    "text_cjk": None,
    # text_folded: ASCIIFoldingFilter pre-transform chain, no dictionary
    # transform (PRE_TRANSFORMS["text_folded"])
    "text_folded": None,
    # text_ru / text_el: Cyrillic/Greek chains — native-script light stem
    # + transliteration fold as ingest pre-transforms
    # (PRE_TRANSFORMS["text_ru"/"text_el"]), no dictionary transform
    "text_ru": None,
    "text_el": None,
    # Batch 2: the remaining Latin-script chains of the reference's
    # language fieldType registry (managed-schema text_fi/text_da/
    # text_ro/text_cz/text_tr/text_lv/text_ca/text_gl/text_id/text_ga).
    # Every chain is the same pinned rule-table → dual Python/SQL
    # design in stem.py: fi/da/ro/cz/tr/lv come from the shared
    # suffix-table factory (_table_stem/_table_sql generate BOTH sides
    # from ONE list), ca/gl/id/ga are hand-written tier pairs.
    "text_fi": finnish_light_stem,
    "text_da": danish_minimal_stem,
    "text_ro": romanian_light_stem,
    "text_cz": czech_light_stem,
    "text_tr": turkish_light_stem,
    "text_lv": latvian_light_stem,
    "text_ca": catalan_light_stem,
    "text_gl": galician_minimal_stem,
    "text_id": indonesian_light_stem,
    "text_ga": irish_light_stem,
    "text_et": estonian_light_stem,
    "text_eu": basque_light_stem,
    # text_ar / text_fa: Arabic-script chains — normalization +
    # (Arabic-only) light10 stem + romanization as ingest pre-transforms
    # (PRE_TRANSFORMS["text_ar"/"text_fa"]), no dictionary transform
    "text_ar": None,
    "text_fa": None,
    # remaining non-Latin chains: all pre-transform-only
    # (PRE_TRANSFORMS carries the normalization/stem/romanization)
    "text_bg": None,
    "text_hy": None,
    "text_hi": None,
    "text_th": None,
    "text_ja": None,
    "text_ko": None,
    # the tight splitting variant indexes catenations only (no Porter —
    # the reference's text_en_splitting_tight uses EnglishMinimalStem,
    # which is the s_stem slot)
    "text_en_splitting_tight": s_stem,
    # text_general is the chain the pinned base contract derives from
    # (StandardTokenizer+stop+lowercase, managed-schema text_general) —
    # an explicit alias of the default "code" chain
    "text_general": None,
    # text_greek: the reference schema carries BOTH text_greek (its own
    # GreekLowerCase+GreekStem chain) and text_el (the *_txt_el dynamic
    # slot) — one chain here, two names
    "text_greek": None,
}

# Reference text_* fieldTypes (managed-schema.xml) NOT carried as
# chains, with reasons — the parity test freezes this list so a new
# reference name can never silently fall through.
ANALYZER_EXCLUSIONS: dict[str, str] = {
    # KeywordTokenizer + collation sort field: a SORT KEY, not a search
    # analyzer — the engine sorts stored columns directly
    # (relational.py sort/export), so a separate analyzed sort field
    # has no role
    "text_gen_sort": "collation sort key, not a search chain",
    # WhitespaceTokenizer-only chain: breaks the pinned [a-z0-9_]+
    # token-space contract every oracle/codec path relies on
    # (punctuation would survive inside tokens); the default chain is
    # the supported tokenization
    "text_ws": "whitespace tokenization conflicts with the pinned "
               "token-space contract",
    # ReversedWildcardFilter chain: leading wildcards expand by a LIKE
    # scan of the term dictionary (engine._multiterm_component) — a
    # separate indexed field is the Lucene mechanism, not the capability
    "text_general_rev": "leading wildcards served by a term-dictionary "
                        "scan, not a second indexed field",
}

# text_en_splitting: WordDelimiterGraph pre-transform (PRE_TRANSFORMS
# below) + the same stop+Porter tail as text_en
ANALYZERS["text_en_splitting"] = porter_stem


# ---------------------------------------------------------------------------
# CJK bigram chain (text_cjk): the one tokenizer-LEVEL chain in the
# reference's registry (CJKBigramFilterFactory in managed-schema's
# text_cjk fieldType; lucene/analysis/common/.../cjk/CJKBigramFilter.java
# semantics: each maximal Han/Hiragana/Katakana/Hangul run emits its
# overlapping character bigrams; a length-1 run emits the single char).
# Implemented as an ingest PRE-transform so the engine-wide ANALYSIS
# CONTRACT stays untouched: each CJK bigram is folded to the token
# 'cjk_<hex>_<hex>' (codepoints, 5 hex digits) — an INJECTIVE mapping
# into the [a-z0-9_]+ term space, so tf/df/BM25/positions/phrases all
# work unchanged, and pure-ASCII text is a no-op. The same fold applies
# to query strings (query/index analyzer symmetry).

CJK_RANGES = (
    "\\u3040-\\u30ff"  # Hiragana + Katakana
    "\\u3400-\\u4dbf"  # CJK Extension A
    "\\u4e00-\\u9fff"  # CJK Unified Ideographs
    "\\uac00-\\ud7af"  # Hangul syllables (+ Jamo Extended-B head)
)
_CJK_RUN_RE = re.compile(f"[{CJK_RANGES}]+")


def _cjk_run_tokens(run: str) -> str:
    if len(run) == 1:
        return f"cjk_{ord(run):05x}"
    return " ".join(
        f"cjk_{ord(a):05x}_{ord(b):05x}" for a, b in zip(run, run[1:])
    )


def cjk_bigram_fold(text: str) -> str:
    """Replace every maximal CJK run with its space-separated bigram
    tokens (surrounded by spaces so the standard tokenizer isolates
    them). ASCII-only strings return unchanged (identity fast path —
    one regex scan, no allocation)."""
    if text is None:
        return text
    if not _CJK_RUN_RE.search(text):
        return text
    return _CJK_RUN_RE.sub(lambda m: f" {_cjk_run_tokens(m.group(0))} ", text)


def ascii_fold(text: str) -> str:
    """The ASCIIFoldingFilterFactory slot (managed-schema text_general_*
    variants; lucene/analysis/common/.../miscellaneous/ASCIIFoldingFilter.java
    semantics for the Latin accent plane): NFKD-decompose and drop
    combining marks, so café→cafe, naïve→naive, Müller→Muller BEFORE
    tokenization. Characters that do not decompose to ASCII (CJK, Greek
    base letters) pass through to the tokenizer unchanged. ASCII-only
    strings return the SAME object (identity fast path)."""
    if text is None:
        return text
    if text.isascii():
        return text
    import unicodedata

    return "".join(
        ch
        for ch in unicodedata.normalize("NFKD", text)
        if not unicodedata.combining(ch)
    )


# ---------------------------------------------------------------------------
# text_en_splitting: the WordDelimiterGraphFilter chain of the
# reference's schema (managed-schema.xml text_en_splitting —
# WhitespaceTokenizer + WordDelimiterGraphFilter(generateWordParts=1,
# generateNumberParts=1, catenateWords=1, catenateNumbers=1,
# splitOnCaseChange=1) + stop + Porter; filter semantics in
# lucene/analysis/common/.../miscellaneous/WordDelimiterGraphFilter.java).
# Implemented as an ingest PRE-transform over the ORIGINAL-case text
# (pre-transforms run before the lowercase step, so case transitions
# are still visible): every intra-word-delimited run is replaced by its
# parts plus the catenations, then the standard tokenize/stop/Porter
# pipeline runs unchanged. Pinned contract:
#
#   run   = [A-Za-z0-9]+ segments joined by single '-' or '_'
#   split = at '-'/'_', at lower→Upper ("fooBar"→foo|Bar), at the last
#           upper of an upper-run before a lower ("XMLParser"→XML|Parser),
#           and at letter↔digit transitions ("foo123bar"→foo|123|bar)
#   emit  = the parts in order, then one catenation per maximal run of
#           ≥2 consecutive same-type parts (letters: "wi-fi"→wifi;
#           digits: "A380-800"→380800)  [catenateWords/catenateNumbers]
#
# Documented deviations from the Lucene graph filter: the emission is a
# FLAT token stream (catenations take their own position instead of
# overlapping — they therefore also count toward doclen), and the same
# fold is applied to query strings (the reference's query chain sets
# catenateWords=0; symmetry keeps the oracle/query contract simple and
# strictly widens recall). preserveOriginal=0 matches the reference.

_WDG_TRIGGER_RE = re.compile(
    r"[a-z][A-Z]|[A-Za-z][0-9]|[0-9][A-Za-z]"
    r"|[A-Za-z0-9][-_][A-Za-z0-9]|[A-Z][A-Z][a-z]"
)
_WDG_RUN_RE = re.compile(r"[A-Za-z0-9]+(?:[-_][A-Za-z0-9]+)*")


def _wdg_split_segment(seg: str) -> list:
    """Split one alphanumeric segment at case and letter/digit
    transitions (WordDelimiterGraphFilter's splitOnCaseChange +
    splitOnNumerics rules). Every returned part is homogeneous
    (all-letters or all-digits)."""
    parts = []
    start = 0
    for i in range(1, len(seg)):
        a, b = seg[i - 1], seg[i]
        if (
            (a.islower() and b.isupper())
            or (a.isalpha() and b.isdigit())
            or (a.isdigit() and b.isalpha())
        ):
            parts.append(seg[start:i])
            start = i
        elif (
            a.isupper() and b.islower() and i - 1 > start
            and seg[start : i].isupper()
        ):
            # upper-run followed by lower: boundary before the LAST upper
            parts.append(seg[start : i - 1])
            start = i - 1
    parts.append(seg[start:])
    return parts


def _wdg_run(m) -> str:
    run = m.group(0)
    parts: list = []
    for seg in run.replace("-", "_").split("_"):
        if seg:
            parts.extend(_wdg_split_segment(seg))
    if len(parts) <= 1:
        return run
    # catenations: one per maximal group of >=2 consecutive same-type
    # parts (catenateWords=1 over letter parts, catenateNumbers=1 over
    # digit parts; catenateAll=0)
    cats: list = []
    i = 0
    n = len(parts)
    while i < n:
        j = i
        is_num = parts[i].isdigit()
        while j + 1 < n and parts[j + 1].isdigit() == is_num:
            j += 1
        if j > i:
            cats.append("".join(parts[i : j + 1]))
        i = j + 1
    return " " + " ".join(parts + cats) + " "


def word_delimiter_fold(text: str) -> str:
    """The text_en_splitting pre-transform (contract above). Strings
    with no delimiter boundary return the SAME object (identity fast
    path — one regex scan)."""
    if text is None:
        return text
    if not _WDG_TRIGGER_RE.search(text):
        return text
    return _WDG_RUN_RE.sub(_wdg_run, text)


# ---------------------------------------------------------------------------
# Russian chain (text_ru) and Greek chain (text_el): non-Latin-script
# support via the same ingest PRE-transform slot the CJK chain uses.
# Each maximal Cyrillic/Greek run is lowercased, light-stemmed in its
# NATIVE script (stem.russian_light_stem / greek_light_stem — the CLEF
# light-stemmer family of the reference's text_ru/text_el fieldTypes),
# then DETERMINISTICALLY transliterated into the pinned [a-z0-9_]+ term
# space (GOST-7.79-style for Cyrillic, ELOT-743-style for Greek), so
# tf/df/BM25/positions work unchanged. The same fold applies to query
# strings (query/index symmetry); content sha256 stays on the original
# bytes. Latin text inside mixed documents is untouched.

_RU_TRANSLIT = {
    "а": "a", "б": "b", "в": "v", "г": "g", "д": "d", "е": "e",
    "ё": "e", "ж": "zh", "з": "z", "и": "i", "й": "j", "к": "k",
    "л": "l", "м": "m", "н": "n", "о": "o", "п": "p", "р": "r",
    "с": "s", "т": "t", "у": "u", "ф": "f", "х": "kh", "ц": "ts",
    "ч": "ch", "ш": "sh", "щ": "shch", "ъ": "", "ы": "y", "ь": "",
    "э": "e", "ю": "yu", "я": "ya",
}
_RU_RUN_RE = re.compile("[Ѐ-ӿ]+")

_EL_TRANSLIT = {
    "α": "a", "β": "v", "γ": "g", "δ": "d", "ε": "e", "ζ": "z",
    "η": "i", "θ": "th", "ι": "i", "κ": "k", "λ": "l", "μ": "m",
    "ν": "n", "ξ": "x", "ο": "o", "π": "p", "ρ": "r", "σ": "s",
    "ς": "s", "τ": "t", "υ": "y", "φ": "f", "χ": "ch", "ψ": "ps",
    "ω": "o",
}
_EL_RUN_RE = re.compile("[Ͱ-Ͽἀ-῿]+")


def _script_fold(run_re, stem_fn, translit, normalize=None):
    def fold(text: str) -> str:
        if text is None:
            return text
        if not run_re.search(text):
            return text

        def one(m) -> str:
            w = m.group(0).lower()
            if normalize is not None:
                w = normalize(w)
            w = stem_fn(w)
            out = "".join(translit.get(ch, "") for ch in w)
            return f" {out} " if out else " "

        return run_re.sub(one, text)

    return fold


def _el_normalize(w: str) -> str:
    """Strip Greek diacritics (NFD + drop combining marks) and map final
    sigma ς→σ — the GreekLowerCaseFilter normalization."""
    import unicodedata

    w = "".join(
        ch
        for ch in unicodedata.normalize("NFD", w)
        if not unicodedata.combining(ch)
    )
    return w.replace("ς", "σ")


from .stem import greek_light_stem, russian_light_stem  # noqa: E402

russian_fold = _script_fold(_RU_RUN_RE, russian_light_stem, _RU_TRANSLIT)
greek_fold = _script_fold(
    _EL_RUN_RE, greek_light_stem, _EL_TRANSLIT, normalize=_el_normalize
)


# ---------------------------------------------------------------------------
# Arabic chain (text_ar) and Persian chain (text_fa): the same
# native-script-stem + deterministic-transliteration fold design as
# text_ru/text_el. Arabic runs are normalized (ArabicNormalizer
# semantics), light10-stemmed (Larkey 2002; the ArabicStemFilterFactory
# slot), then romanized into the pinned [a-z0-9_]+ term space with a
# chat-Arabizi-style map (digraphs for the fricatives, the conventional
# digit codes 2/3 for hamza/ain, digit-suffixed forms for the emphatic
# consonants — deterministic, not injective, same posture as the ru/el
# maps). Persian runs go through the Arabic normalizer THEN the Persian
# normalizer (the PersianAnalyzer chain order) with NO stemmer, and the
# map adds the four Persian letters. ZWNJ (U+200C) is outside the run
# regex, so half-space-joined Persian compounds split into separate
# tokens — exactly the PersianCharFilter behavior. Reference anchor:
# managed-schema.xml text_ar / text_fa.

_AR_RUN_RE = re.compile("[ء-ْٮ-ۓٰ]+")

_AR_TRANSLIT = {
    "ا": "a", "ب": "b", "ت": "t", "ث": "th", "ج": "j", "ح": "h",
    "خ": "kh", "د": "d", "ذ": "dh", "ر": "r", "ز": "z", "س": "s",
    "ش": "sh", "ص": "s9", "ض": "d9", "ط": "t9", "ظ": "z9", "ع": "3",
    "غ": "gh", "ف": "f", "ق": "q", "ك": "k", "ل": "l", "م": "m",
    "ن": "n", "ه": "h", "و": "w", "ي": "y",
    "ء": "2", "ئ": "2", "ؤ": "2",
    # forms the normalizer did not fold (kept for robustness on mixed
    # or unnormalized input reaching the map directly)
    "ة": "h", "ى": "y",
}

_FA_TRANSLIT = dict(_AR_TRANSLIT)
_FA_TRANSLIT.update({"پ": "p", "چ": "ch", "ژ": "zh", "گ": "g"})

from .stem import (  # noqa: E402
    arabic_light_stem,
    arabic_normalize,
    persian_normalize,
)

arabic_fold = _script_fold(
    _AR_RUN_RE, arabic_light_stem, _AR_TRANSLIT, normalize=arabic_normalize
)
_persian_script_fold = _script_fold(
    _AR_RUN_RE, lambda w: w, _FA_TRANSLIT, normalize=persian_normalize
)


def persian_fold(text: str) -> str:
    """text_fa pre-transform: ZWNJ -> space first (the PersianCharFilter
    half-space rule, so compounds split into separate tokens), then the
    normalize+romanize script fold."""
    if text is None:
        return text
    if "‌" in text:
        text = text.replace("‌", " ")
    return _persian_script_fold(text)


# ---------------------------------------------------------------------------
# Bulgarian (text_bg), Armenian (text_hy), Hindi (text_hi): three more
# native-script chains on the same _script_fold machinery. Bulgarian
# reuses the Cyrillic map with the two letters whose standard Bulgarian
# romanization differs from the Russian one (ъ is a full vowel -> 'a',
# щ -> 'sht' — the official Streamlined System); Armenian uses an
# ISO-9985-style map; Hindi a conventional Devanagari romanization
# (consonants carry no inherent-vowel synthesis — deterministic fold,
# not a phonetic transcription, same posture as every map here).

_BG_TRANSLIT = dict(_RU_TRANSLIT)
_BG_TRANSLIT.update({"ъ": "a", "щ": "sht", "ь": "y"})
_BG_RUN_RE = _RU_RUN_RE  # same Cyrillic block

_HY_TRANSLIT = {
    "ա": "a", "բ": "b", "գ": "g", "դ": "d", "ե": "e", "զ": "z",
    "է": "e", "ը": "e", "թ": "t", "ժ": "zh", "ի": "i", "լ": "l",
    "խ": "kh", "ծ": "ts", "կ": "k", "հ": "h", "ձ": "dz", "ղ": "gh",
    "ճ": "ch", "մ": "m", "յ": "y", "ն": "n", "շ": "sh", "ո": "o",
    "չ": "ch", "պ": "p", "ջ": "j", "ռ": "r", "ս": "s", "վ": "v",
    "տ": "t", "ր": "r", "ց": "ts", "ւ": "w", "փ": "p", "ք": "k",
    "օ": "o", "ֆ": "f", "և": "ev",
}
_HY_RUN_RE = re.compile("[Ա-֏]+")

_HI_TRANSLIT = {
    "क": "k", "ख": "kh", "ग": "g", "घ": "gh", "ङ": "n",
    "च": "ch", "छ": "chh", "ज": "j", "झ": "jh", "ञ": "n",
    "ट": "t", "ठ": "th", "ड": "d", "ढ": "dh", "ण": "n",
    "त": "t", "थ": "th", "द": "d", "ध": "dh", "न": "n",
    "प": "p", "फ": "ph", "ब": "b", "भ": "bh", "म": "m",
    "य": "y", "र": "r", "ल": "l", "व": "v",
    "श": "sh", "ष": "sh", "स": "s", "ह": "h",
    "अ": "a", "आ": "aa", "इ": "i", "ई": "ii", "उ": "u", "ऊ": "uu",
    "ऋ": "ri", "ए": "e", "ऐ": "ai", "ओ": "o", "औ": "au",
    "ा": "aa", "ि": "i", "ी": "ii", "ु": "u", "ू": "uu",
    "ृ": "ri", "े": "e", "ै": "ai", "ो": "o", "ौ": "au",
    "ं": "n", "ः": "h", "्": "",
}
_HI_RUN_RE = re.compile("[ऀ-ॏ]+")

from .stem import (  # noqa: E402
    armenian_light_stem,
    bulgarian_light_stem,
    hindi_light_stem,
    hindi_normalize,
)

bulgarian_fold = _script_fold(_BG_RUN_RE, bulgarian_light_stem, _BG_TRANSLIT)
armenian_fold = _script_fold(_HY_RUN_RE, armenian_light_stem, _HY_TRANSLIT)
hindi_fold = _script_fold(
    _HI_RUN_RE, hindi_light_stem, _HI_TRANSLIT, normalize=hindi_normalize
)


# ---------------------------------------------------------------------------
# Thai chain (text_th): the reference's ThaiTokenizer does
# dictionary-based word segmentation (no Thai word separators); the
# honest no-dictionary fallback is overlapping character bigrams —
# exactly the CJK posture above — folded injectively into the pinned
# term space as th_<hex>_<hex>. Query/index symmetric; documented
# deviation from morphological segmentation.

_TH_RUN_RE = re.compile("[ก-๎]+")


def _th_run_tokens(run: str) -> str:
    if len(run) == 1:
        return f"th_{ord(run):04x}"
    return " ".join(
        f"th_{ord(a):04x}_{ord(b):04x}" for a, b in zip(run, run[1:])
    )


def thai_bigram_fold(text: str) -> str:
    """Bigram-only Thai fold (the no-dictionary fallback posture; kept
    as the OOV path inside thai_dict_fold and directly testable)."""
    if text is None:
        return text
    if not _TH_RUN_RE.search(text):
        return text
    return _TH_RUN_RE.sub(lambda m: f" {_th_run_tokens(m.group(0))} ", text)


# Pinned public Thai wordlist for dictionary segmentation — a small set
# of high-frequency everyday words (common public vocabulary; the
# honest middle between bigrams and the reference ThaiTokenizer's ICU
# BreakIterator dictionaries, managed-schema.xml:1002). Longest-match
# beats substrings (e.g. โรงเรียน wins over โรง+เรียน).
THAI_WORDS: tuple[str, ...] = (
    "สวัสดี", "ขอบคุณ", "ประเทศ", "ไทย", "คน", "น้ำ", "ใจ", "บ้าน",
    "โรงเรียน", "โรง", "เรียน", "หนังสือ", "ภาษา", "อาหาร", "แมว",
    "หมา", "รัก", "ดี", "ใหญ่", "เล็ก", "ไป", "มา", "กิน", "เมือง",
    "เวลา", "วัน", "ปี", "ครู", "นักเรียน", "ตลาด", "ทะเล", "ภูเขา",
    "ข้าว", "ร้าน", "รถ", "ไฟ", "ฟ้า", "ต้นไม้", "ดอกไม้", "เด็ก",
    "ผู้หญิง", "ผู้ชาย", "ครับ", "ค่ะ", "ผม", "ฉัน", "เรา", "ที่",
    "และ", "ของ",
)
_TH_DICT_LONGEST = tuple(sorted(THAI_WORDS, key=len, reverse=True))


def _th_word_token(w: str) -> str:
    return "th_" + "_".join(f"{ord(c):04x}" for c in w)


def _th_segment_run(run: str) -> str:
    """Longest-match dictionary walk over one Thai run: at each
    position the longest THAI_WORDS entry wins and emits one word
    token (th_<cp>_<cp>_...); maximal stretches with no dictionary
    match fall back to the bigram fold (_th_run_tokens). Deterministic:
    longest-first scan, no tie possible between distinct equal-length
    prefixes. NOTE a 2-codepoint dictionary word token coincides with
    the bigram token of the same pair — an intentional (recall-neutral)
    namespace merge, identical on both engines."""
    toks: list[str] = []
    pend: list[str] = []
    i, n = 0, len(run)
    while i < n:
        best = None
        for w in _TH_DICT_LONGEST:
            if run.startswith(w, i):
                best = w
                break
        if best is not None:
            if pend:
                toks.append(_th_run_tokens("".join(pend)))
                pend = []
            toks.append(_th_word_token(best))
            i += len(best)
        else:
            pend.append(run[i])
            i += 1
    if pend:
        toks.append(_th_run_tokens("".join(pend)))
    return " ".join(toks)


def thai_dict_fold(text: str) -> str:
    """text_th pre-transform: dictionary longest-match segmentation
    over each maximal Thai run (reference: ThaiTokenizer's dictionary
    BreakIterator, managed-schema.xml text_th), with the bigram fold as
    the out-of-dictionary fallback. Query/index symmetric; injective
    into the pinned [a-z0-9_]+ term space."""
    if text is None:
        return text
    if not _TH_RUN_RE.search(text):
        return text
    return _TH_RUN_RE.sub(lambda m: f" {_th_segment_run(m.group(0))} ", text)


def word_delimiter_fold_tight(text: str) -> str:
    """text_en_splitting_tight: the reference's tight variant
    (generateWordParts=0, catenateWords=1 — managed-schema
    text_en_splitting_tight): splittable runs index ONLY the same-type
    catenations ('wi-fi'->'wifi', 'getFooBar'->'getfoobar' after the
    lowercase step), with parts that belong to no >=2-group kept as-is
    so no text is dropped."""
    if text is None:
        return text
    if not _WDG_TRIGGER_RE.search(text):
        return text

    def run(m) -> str:
        r = m.group(0)
        parts: list = []
        for seg in r.replace("-", "_").split("_"):
            if seg:
                parts.extend(_wdg_split_segment(seg))
        if len(parts) <= 1:
            return r
        out: list = []
        i, n = 0, len(parts)
        while i < n:
            j = i
            is_num = parts[i].isdigit()
            while j + 1 < n and parts[j + 1].isdigit() == is_num:
                j += 1
            out.append("".join(parts[i : j + 1]))
            i = j + 1
        return " " + " ".join(out) + " "

    return _WDG_RUN_RE.sub(run, text)


# analyzer name → str→str ingest pre-transform, applied to document
# content BEFORE tokenization (both the tf and the positional build
# paths) and to query strings before parsing. Orthogonal to ANALYZERS
# (the dictionary-level per-term transforms).
PRE_TRANSFORMS: dict[str, "callable"] = {
    "text_cjk": cjk_bigram_fold,
    "text_folded": ascii_fold,
    "text_ru": russian_fold,
    "text_el": greek_fold,
    "text_ar": arabic_fold,
    "text_fa": persian_fold,
    "text_bg": bulgarian_fold,
    "text_hy": armenian_fold,
    "text_hi": hindi_fold,
    "text_th": thai_dict_fold,
    # text_ja / text_ko: the reference ships morphological tokenizers
    # (kuromoji / nori); the honest no-dictionary fallback is the CJK
    # bigram chain — Lucene's own CJKAnalyzer posture for ja/ko
    "text_ja": cjk_bigram_fold,
    "text_ko": cjk_bigram_fold,
    # camelCase / delimiter splitting BEFORE the lowercase step (the
    # only chains whose pre-transform needs original case); Porter runs
    # after as text_en_splitting's dictionary transform (ANALYZERS)
    "text_en_splitting": word_delimiter_fold,
    "text_en_splitting_tight": word_delimiter_fold_tight,
}


def analyze_query(q: str) -> list[str]:
    """Apply the same analysis chain to a query string (bag of terms,
    duplicates preserved — duplicate query terms score with multiplicity,
    matching Lucene's boolean-query clause semantics)."""
    return [t for t in TOKEN_RE.findall(q.lower()) if t not in STOPWORDS]
