"""Function-query registry: the reference's ValueSourceParser surface as
named Column builders.

Reference registry: /root/reference/solr/core/src/java/org/apache/solr/
search/ValueSourceParser.java:146-1397 (each `addParser("name", ...)`
maps a function-query name to a ValueSource). Here each name maps to a
pyspark Column builder — whole-stage-codegen'd JVM expressions, the
"function queries are Columns" stance of SURVEY §2.7. The handful that
need corpus statistics (`scale`) take them via a one-row broadcast join
rather than a driver collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def recip(x: Column, m: float, a: float, b: float) -> Column:
    """recip(x,m,a,b) = a / (m*x + b) — the classic date-boost shape
    (ReciprocalFloatFunction; ValueSourceParser 'recip')."""
    return F.lit(float(a)) / (F.lit(float(m)) * x + F.lit(float(b)))


def map_val(x: Column, lo: float, hi: float, target: float) -> Column:
    """map(x,min,max,target): values inside [min,max] become target,
    others pass through (RangeMapFloatFunction)."""
    return F.when(
        (x >= F.lit(float(lo))) & (x <= F.lit(float(hi))), F.lit(float(target))
    ).otherwise(x)


def linear(x: Column, m: float, c: float) -> Column:
    """linear(x,m,c) = m*x + c (LinearFloatFunction)."""
    return F.lit(float(m)) * x + F.lit(float(c))


def scale_to(df: DataFrame, x: Column, min_to: float, max_to: float) -> DataFrame:
    """scale(x,minTarget,maxTarget): rescale the column's observed
    [min,max] onto the target range (ScaleFloatFunction — the reference
    computes the field's min/max from the index; here a one-row
    aggregate broadcast into the plan, no driver round-trip). Returns
    ``df`` with a ``scaled`` column."""
    stats = df.agg(F.min(x).alias("__mn"), F.max(x).alias("__mx"))
    span = F.col("__mx") - F.col("__mn")
    scaled = F.when(span == 0, F.lit(float(min_to))).otherwise(
        F.lit(float(min_to))
        + (x - F.col("__mn")) / span * F.lit(float(max_to - min_to))
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("scaled", scaled)
        .drop("__mn", "__mx")
    )


def if_fn(cond: Column, then: Column, otherwise: Column) -> Column:
    return F.when(cond, then).otherwise(otherwise)


def exists_fn(x: Column) -> Column:
    return x.isNotNull()


def def_fn(x: Column, default) -> Column:
    """def(x,d): x if it exists else d (DefFunction)."""
    return F.coalesce(x, F.lit(default))


# name → builder, 1:1 with ValueSourceParser.addParser names. Multi-arg
# arithmetic (sum/product/min/max) folds left like the reference's
# MultiFloatFunction evaluation order.
def _fold(op):
    def g(*cols):
        acc = cols[0]
        for c in cols[1:]:
            acc = op(acc, c)
        return acc

    return g


REGISTRY: dict[str, "callable"] = {
    "sum": _fold(lambda a, b: a + b),
    "sub": lambda a, b: a - b,
    "product": _fold(lambda a, b: a * b),
    "div": lambda a, b: a / b,
    "mod": lambda a, b: a % b,
    "abs": F.abs,
    "pow": F.pow,
    "sqrt": F.sqrt,
    "log": F.log10,     # Solr's log() is base 10 (LogFloatFunction)
    "ln": F.log,
    "exp": F.exp,
    "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
    "ceil": F.ceil, "floor": F.floor, "rint": F.round,
    "min": lambda *c: F.least(*c),
    "max": lambda *c: F.greatest(*c),
    "map": map_val,
    "linear": linear,
    "recip": recip,
    "if": if_fn,
    "exists": exists_fn,
    "def": def_fn,
    "strdist": lambda a, b: F.lit(1.0)
    - F.levenshtein(a, b)
    / F.greatest(F.length(a), F.length(b)),  # edit-distance similarity form
    "ms": F.unix_millis,
}


# --------------------------------------------------------------------------
# round-3 parity batch — the remaining ValueSourceParser names
# (CORE/search/ValueSourceParser.java:163-1397). Index-stat names
# (docfreq/idf/tf/termfreq/norm/maxdoc/numdocs/totaltermfreq/
# sumtotaltermfreq) and query()/boost() are registered below as bridges
# into kernel.py so values are bit-identical to the scoring kernel;
# agg_* live in rollup.py; payload(...) routes to
# positions.payload_score_frame; cscore() is the collapse-time score —
# operators/windowed.collapse's score column, not a standalone scalar.
# testfunc/threadid/sleep are test/diagnostic parsers with no data
# semantics — out of scope. currency() takes its exchange-rate table as
# a plain dict (the FileExchangeRateProvider analog) — see below.
# childfield(field) is the block-join projection of a child doc's field
# onto its parent hit — operators/joins.py block_parent/block_child
# (a join + first() agg here, not a scalar function).

import math as _math

from .geo import haversine_km as _hsin_km

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_BITS = 30  # per axis at precision 12 (5*12 = 60 interleaved bits)


_MORTON_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _morton_spread(x: Column) -> Column:
    """Spread bit k of a ≤31-bit int to bit 2k (the classic Morton-code
    mask ladder — 5 shift/mask steps instead of a per-bit loop, keeping
    the Catalyst expression tree small)."""
    for sh, mask in _MORTON_MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, sh))).bitwiseAND(F.lit(mask))
    return x


def _morton_compact(x: Column) -> Column:
    """Inverse of _morton_spread: gather bit 2k back to bit k (the
    inverse mask ladder, shift amounts mirrored)."""
    x = x.bitwiseAND(F.lit(0x5555555555555555))
    x = (x.bitwiseOR(F.shiftright(x, 1))).bitwiseAND(F.lit(0x3333333333333333))
    x = (x.bitwiseOR(F.shiftright(x, 2))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = (x.bitwiseOR(F.shiftright(x, 4))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = (x.bitwiseOR(F.shiftright(x, 8))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = (x.bitwiseOR(F.shiftright(x, 16))).bitwiseAND(F.lit(0x00000000FFFFFFFF))
    return x


def geohash_encode(lat: Column, lon: Column, precision: int = 12) -> Column:
    """geohash(lat, lon): standard geohash base-32 encoding
    (ValueSourceParser 'geohash' → GeoHashUtils; public algorithm:
    quantize each axis, interleave bits lon-first, 5 bits per char).
    Pure Catalyst integer arithmetic: the per-axis quantization is the
    closed form of the textbook bisection loop, the interleave is a
    Morton mask ladder (O(log bits) expression nodes, not O(bits))."""
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be 1..12")
    n_bits = 5 * precision
    lon_bits = (n_bits + 1) // 2
    lat_bits = n_bits // 2
    lonq = F.least(
        F.lit((1 << lon_bits) - 1),
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))),
    ).cast("bigint")
    latq = F.least(
        F.lit((1 << lat_bits) - 1),
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))),
    ).cast("bigint")
    # lon-first alternation, LSB view: with an even bit total lon bit k
    # lands at 2k+1 and lat bit k at 2k; an odd total flips the parity
    if lon_bits > lat_bits:  # odd total
        inter = _morton_spread(lonq).bitwiseOR(
            F.shiftleft(_morton_spread(latq), 1)
        )
    else:  # even total
        inter = F.shiftleft(_morton_spread(lonq), 1).bitwiseOR(
            _morton_spread(latq)
        )
    # base-32 digits via ONE fold (LSB-first, prepending) so the morton
    # subtree appears once in the plan — per-char substring extraction
    # would copy it `precision` times and composed expressions
    # (ghhsin = decode∘encode) would blow up the analyzer
    folded = F.aggregate(
        F.sequence(F.lit(1), F.lit(precision)),
        F.struct(inter.alias("rem"), F.lit("").alias("s")),
        lambda acc, _: F.struct(
            F.shiftright(acc["rem"], 5).alias("rem"),
            F.concat(
                F.lit(GEOHASH_BASE32).substr(
                    (acc["rem"].bitwiseAND(F.lit(31)) + 1).cast("int"), F.lit(1)
                ),
                acc["s"],
            ).alias("s"),
        ),
        lambda acc: acc["s"],
    )
    return folded


def geohash_decode(gh: Column, precision: int = 12) -> tuple[Column, Column]:
    """(lat, lon) cell-midpoint decode of a geohash string column —
    base-32 digits fold into the interleaved int, the Morton compact
    ladder separates the axes."""
    n_bits = 5 * precision
    lon_bits = (n_bits + 1) // 2
    lat_bits = n_bits // 2
    # fold digits MSB-first: acc = acc*32 + digit — references ``gh``
    # once per character but each reference is a leaf-sized subtree
    inter = F.aggregate(
        F.sequence(F.lit(1), F.lit(precision)),
        F.lit(0).cast("bigint"),
        lambda acc, k: F.shiftleft(acc, 5).bitwiseOR(
            (
                F.instr(F.lit(GEOHASH_BASE32), gh.substr(k.cast("int"), F.lit(1)))
                - 1
            ).cast("bigint")
        ),
    )
    if lon_bits > lat_bits:  # odd total: lon on even bits
        lonq = _morton_compact(inter)
        latq = _morton_compact(F.shiftright(inter, 1))
    else:  # even total: lon on odd bits
        lonq = _morton_compact(F.shiftright(inter, 1))
        latq = _morton_compact(inter)
    lat = F.lit(-90.0) + (latq.cast("double") + F.lit(0.5)) * F.lit(
        180.0 / (1 << lat_bits)
    )
    lon = F.lit(-180.0) + (lonq.cast("double") + F.lit(0.5)) * F.lit(
        360.0 / (1 << lon_bits)
    )
    return lat, lon


def ghhsin(gh1: Column, gh2: Column, precision: int = 12) -> Column:
    """ghhsin(): haversine km between two geohash cells (midpoints)."""
    lat1, lon1 = geohash_decode(gh1, precision)
    lat2, lon2 = geohash_decode(gh2, precision)
    return _hsin_km(lat1, lon1, lat2, lon2)


def sqedist(*cols: Column) -> Column:
    """sqedist(x1,x2,...,y1,y2,...): squared euclidean distance between
    two equal-length point vectors given as flat value sources."""
    if len(cols) % 2:
        raise ValueError("sqedist takes an even number of value sources")
    h = len(cols) // 2
    acc = None
    for a, b in zip(cols[:h], cols[h:]):
        d = (a - b) * (a - b)
        acc = d if acc is None else acc + d
    return acc


def dist(power: float, *cols: Column) -> Column:
    """dist(p, x..., y...): Minkowski p-norm distance (p=1 manhattan,
    p=2 euclidean, p=0 sparseness, p=inf → use float('inf'))."""
    if len(cols) % 2:
        raise ValueError("dist takes an even number of value sources")
    h = len(cols) // 2
    pairs = list(zip(cols[:h], cols[h:]))
    if power == float("inf"):
        return F.greatest(*[F.abs(a - b) for a, b in pairs])
    if power == 0:
        acc = None
        for a, b in pairs:
            d = F.when(a != b, 1.0).otherwise(0.0)
            acc = d if acc is None else acc + d
        return acc
    acc = None
    for a, b in pairs:
        d = F.pow(F.abs(a - b), F.lit(float(power)))
        acc = d if acc is None else acc + d
    return F.pow(acc, F.lit(1.0 / float(power)))


def ord_rord(df: DataFrame, col: str, high_cardinality: bool = False) -> DataFrame:
    """ord(field)/rord(field): 1-based ordinal of the row's value in the
    field's sorted term order (OrdFieldSource/ReverseOrdFieldSource —
    the reference reads index ords; the distributed equivalent ranks the
    DISTINCT value table and joins back, so no corpus-wide window).

    Default path: single-partition window over the DISTINCT values +
    broadcast join — right when cardinality ≪ corpus (the enum/keyword
    fields ord() is used on). ``high_cardinality=True`` switches to the
    distributed range-shuffle rank (relational.global_rank — the export
    handler's total-order machinery) and a shuffle join, for fields
    whose value table is itself corpus-sized (e.g. ord over an id)."""
    distinct = df.select(col).distinct()
    if high_cardinality:
        from solr_spark.operators.relational import global_rank

        ranked = global_rank(distinct, [F.asc(col)], rank_col="ord")
        n_row = ranked.agg(F.max("ord").alias("n")).first()
        ranked = ranked.withColumn(
            "rord", F.lit(int(n_row["n"]) + 1) - F.col("ord")
        )
        return df.join(ranked, col)
    from pyspark.sql import Window

    w = Window.orderBy(F.asc(col))
    n = distinct.count()
    ranked = distinct.select(
        col,
        F.row_number().over(w).alias("ord"),
        (F.lit(n + 1) - F.row_number().over(w)).alias("rord"),
    )
    return df.join(F.broadcast(ranked), col)


def joindf(
    df: DataFrame, other: DataFrame, from_col: str, to_col: str
) -> DataFrame:
    """joindf(fromField,toField,...): boolean 'joined' column — whether
    the row's ``to_col`` value appears in ``other``'s ``from_col``
    (JoinDocFreqValueSource's domain-membership shape as a broadcast
    semi-join flag)."""
    keys = other.select(F.col(from_col).alias(to_col)).distinct().withColumn(
        "__j", F.lit(True)
    )
    return df.join(F.broadcast(keys), to_col, "left").withColumn(
        "joined", F.coalesce(F.col("__j"), F.lit(False))
    ).drop("__j")


REGISTRY.update(
    {
        "literal": F.lit,
        "field": F.col,
        "pi": lambda: F.lit(_math.pi),
        "e": lambda: F.lit(_math.e),
        "hypot": F.hypot,
        "atan2": F.atan2,
        "deg": F.degrees,
        "rad": F.radians,
        "sqedist": sqedist,
        "dist": dist,
        "vector": lambda *c: F.array(*c),
        "concat": lambda *c: F.concat(*c),
        "true": lambda: F.lit(True),
        "false": lambda: F.lit(False),
        "isnan": F.isnan,
        "not": lambda a: ~a,
        "and": lambda a, b: a & b,
        "or": lambda a, b: a | b,
        "xor": lambda a, b: a ^ b,
        "gt": lambda a, b: a > b,
        "lt": lambda a, b: a < b,
        "gte": lambda a, b: a >= b,
        "lte": lambda a, b: a <= b,
        "eq": lambda a, b: a == b,
        "hsin": _hsin_km,
        "geodist": _hsin_km,
        "geohash": geohash_encode,
        "ghhsin": ghhsin,
    }
)

# vectorSimilarity(v1, v2): cosine over array columns (the reference's
# DenseVectorField similarity; similarity.py owns the vector plane)
def _vector_similarity(a: Column, b: Column) -> Column:
    from .similarity import cosine

    return cosine(a, b)


REGISTRY["vectorSimilarity"] = _vector_similarity


# --------------------------------------------------------------------------
# agg_* parser names (ValueSourceParser.java:1195-1390 registers the JSON
# facet aggregates under "agg_<name>" so function-query syntax can call
# them): bridge each name to the rollup metric registry so a user of the
# reference's `agg_sum(field)` spelling lands on the same Column builder
# as rollup()'s `sum`. agg_hll additionally exposes the from-scratch
# cross-engine HyperLogLog (functions/sketch.py) as agg_hll_sketch.


def _agg_aliases() -> dict[str, "callable"]:
    from solr_spark.operators.rollup import AGG_FUNCS

    out = {}
    for name, fn in AGG_FUNCS.items():
        if fn is None:
            continue
        out[f"agg_{name}"] = fn
    out["agg_uniqueBlock"] = AGG_FUNCS["unique"]  # uniqueBlock: see rollup.unique_block
    return out


REGISTRY.update(_agg_aliases())


def _agg_hll_sketch(df, value_col: str, keys=None, p: int = 12):
    from solr_spark.functions.sketch import hll_count_distinct

    return hll_count_distinct(df, value_col, keys, p)


REGISTRY["agg_hll_sketch"] = _agg_hll_sketch


# agg_percentile(field, pct): the one AGG_FUNCS special case (rollup
# computes it via its exact percentile path) exposed under the parser
# name as Spark's exact percentile aggregate.
REGISTRY["agg_percentile"] = lambda c, pct: F.percentile(
    c, F.lit(float(pct) / 100.0)
)


# --------------------------------------------------------------------------
# Index-stat parser names (ValueSourceParser.java 'docfreq'/'idf'/
# 'termfreq'/'tf'/'norm'/'maxdoc'/'numdocs'/'totaltermfreq'/
# 'sumtotaltermfreq' — DocFreqValueSource.java and siblings). These read
# index statistics, so their builders take (spark, meta) and return
# DataFrames/columns over the index tables — the "index-statistic
# functions are columns of our postings/stats tables" stance of
# SURVEY §2.7. All delegate to kernel.py so values are bit-identical to
# the scoring kernel's.


def docfreq_frame(spark, meta, terms: list[str]):
    """docfreq(field,term) per term: one pruned scan of the terms
    dictionary (PushedFilters: In(term, ...)); absent terms → df 0.
    Deleted docs count until a merge."""
    from solr_spark.indexer import index_table

    got = (
        index_table(spark, meta, "terms")
        .where(F.col("term").isin(sorted(set(terms))))
        .select("term", F.col("df").cast("long").alias("docfreq"))
    )
    want = spark.createDataFrame([(t,) for t in sorted(set(terms))], "term string")
    return want.join(got, "term", "left").na.fill({"docfreq": 0})


def idf_frame(spark, meta, terms: list[str]):
    """idf(field,term): the exact BM25 idf the scorer uses
    (scoring.idf — ln(1 + (N - df + 0.5) / (df + 0.5)))."""
    from solr_spark.scoring import idf_col

    return docfreq_frame(spark, meta, terms).withColumn(
        "idf", idf_col(F.col("docfreq").cast("double"), meta.n_docs)
    )


def termfreq_frame(spark, meta, terms: list[str]):
    """termfreq(field,term) per (docid, term): raw within-doc counts
    from the pruned postings decode (TermFreqValueSource)."""
    from solr_spark.kernel import postings_rows

    return postings_rows(spark, meta, sorted(set(terms))).select(
        "term", "docid", F.col("tf").cast("long").alias("termfreq")
    )


def tf_frame(spark, meta, terms: list[str]):
    """tf(field,term): the similarity-normalized tf — for our BM25
    contract the k1/b-saturated factor, identical to the scoring
    kernel's per-term contribution divided by idf (TFValueSource applies
    Similarity.tf; kernel.term_contributions IS idf*tfnorm)."""
    from solr_spark.kernel import term_contributions

    contrib = term_contributions(spark, meta, sorted(set(terms)))
    stats = idf_frame(spark, meta, terms).select("term", "idf")
    return (
        contrib.join(F.broadcast(stats), "term")
        .withColumn("tf", F.col("contrib") / F.col("idf"))
        .select("term", "docid", "tf")
    )


def norm_frame(spark, meta):
    """norm(field): the reference decodes Lucene's lossy 1-byte length
    norm; our docs table keeps the EXACT doclen (norm's information
    content, losslessly), so norm is a 2-column scan (of live docs)."""
    from solr_spark.indexer import index_table
    from solr_spark.kernel import live_rows

    norms = index_table(spark, meta, "docs").select(
        "docid", F.col("doclen").cast("long").alias("norm")
    )
    return live_rows(spark, meta, norms)


def maxdoc_value(meta) -> Column:
    """maxdoc(): docs-in-index including deleted (MaxDocValueSource) —
    a literal from the build manifest, no scan."""
    return F.lit(int(meta.n_docs))


def numdocs_value(meta) -> Column:
    """numdocs(): maxdoc minus deletions. A literal cannot resolve a
    view's delete keys (a docs scan), so this is maxdoc for an index and
    a view alike — a deviation on a view with deletes."""
    return F.lit(int(meta.n_docs))


def query_score_frame(spark, meta, q: str, default: float = 0.0):
    """query(subquery, default): the subquery's score as a value source
    (QueryValueSource) — engine search in unsorted component mode (no
    corpus-sized TakeOrdered), non-matches get ``default`` when joined
    via ``join_query_score``."""
    from solr_spark.kernel import search

    return search(spark, meta, q, unsorted=True).select(
        "docid", F.col("score").alias("qscore")
    )


def join_query_score(df, qframe, default: float = 0.0):
    """Attach query()'s score to a docid-keyed frame, defaulting
    non-matches (the QueryValueSource defVal contract)."""
    return df.join(qframe, "docid", "left").withColumn(
        "qscore", F.coalesce(F.col("qscore"), F.lit(float(default)))
    )


def boost_frame(spark, meta, q: str, factor: float):
    """boost(q, f): query score scaled by f (BoostQParserPlugin /
    'boost' parser)."""
    qf = query_score_frame(spark, meta, q)
    return qf.withColumn("qscore", F.col("qscore") * F.lit(float(factor)))


REGISTRY.update(
    {
        "cbrt": F.cbrt,
        "scale": scale_to,          # DataFrame-level: observed [min,max] → target range
        "ord": ord_rord,            # DataFrame-level: adds ord + rord columns
        "rord": ord_rord,
        "joindf": joindf,
        # top(fn): evaluate fn against the top-level reader context
        # (TopValueSource) — one logical table here, so identity
        "top": lambda x: x,
        "docfreq": docfreq_frame,
        "idf": idf_frame,
        "termfreq": termfreq_frame,
        "tf": tf_frame,
        "norm": norm_frame,
        "maxdoc": maxdoc_value,
        "numdocs": numdocs_value,
        "totaltermfreq": None,      # kernel.total_term_freq (set below)
        "sumtotaltermfreq": None,   # kernel.sum_total_term_freq (set below)
        "query": query_score_frame,
        "boost": boost_frame,
    }
)


def currency(
    amount: Column,
    code: Column,
    target: str,
    rates: dict,
    fraction_digits: dict | None = None,
) -> Column:
    """currency(field, targetCode) (CORE/schema/CurrencyFieldType.java:
    477-484 + CurrencyValue.convertAmount:132-152 +
    FileExchangeRateProvider.getExchangeRate:65-89): convert per-row
    (amount-in-minor-units, currency-code) to ``target``. Rate
    resolution follows the reference exactly — same code → 1.0, direct
    rate, else 1/inverse rate, else no conversion (null, the per-row
    error-channeling stance instead of the reference's request error).
    Minor-unit amounts are rescaled by the fraction-digit delta
    (ISO 4217; default 2 everywhere, e.g. pass {"JPY": 0}).

    ``rates`` is {(from, to): rate} — the reference's currency.xml as a
    plain dict (its FileExchangeRateProvider analog). Resolution is
    driver-side (rate tables are tiny by nature) and the conversion
    compiles to one literal-map lookup × multiply — whole-stage
    codegen, no UDF, no join."""
    fraction_digits = fraction_digits or {}
    codes = {target} | {c for pair in rates for c in pair}
    factors: dict[str, float] = {}
    for c in sorted(codes):
        if c == target:
            rate = 1.0
        elif (c, target) in rates:
            rate = float(rates[(c, target)])
        elif (target, c) in rates:
            rate = 1.0 / float(rates[(target, c)])
        else:
            continue  # unconvertible code → null result for its rows
        delta = fraction_digits.get(target, 2) - fraction_digits.get(c, 2)
        factors[c] = rate * (10.0 ** delta)
    mapping = F.create_map(
        *[F.lit(x) for c, f in sorted(factors.items()) for x in (c, f)]
    )
    return (
        amount.cast("double") * F.element_at(mapping, code)
    ).cast("long")


REGISTRY["currency"] = currency


def _ttf_bridge(spark, meta, terms):
    from solr_spark.kernel import total_term_freq

    return total_term_freq(spark, meta, terms)


def _sttf_bridge(spark, meta):
    from solr_spark.kernel import sum_total_term_freq

    return sum_total_term_freq(spark, meta)


REGISTRY["totaltermfreq"] = _ttf_bridge
REGISTRY["sumtotaltermfreq"] = _sttf_bridge


# ---- ValueSourceParser name-parity closers ----------------------------
# (CORE/search/ValueSourceParser.java registration list; the frozen-list
# contract lives in tests/test_funcquery_parity.py)

def agg_dispatch(name: str, *args):
    """agg(<metric>(...)) / the "agg_" prefix dispatcher
    (ValueSourceParser.java registers "agg" and "agg_" as generic
    wrappers that re-dispatch on the inner metric name)."""
    fn = REGISTRY.get(f"agg_{name}") or REGISTRY.get(name)
    if fn is None:
        raise KeyError(f"unknown agg metric: {name!r}")
    return fn(*args)


def agg_multistat(df, aggs):
    """agg_multistat — the JSON Facet API's internal gather-several-
    stats-in-one-pass aggregate; Spark's multi-expression agg IS that
    single pass (partial+final, one shuffle)."""
    from solr_spark.operators.rollup import stats

    return stats(df, aggs)


def child_field(parents, children, parent_key, child_filter, field,
                score_mode: str = "max"):
    """childfield(field) (ChildFieldValueSourceParser) — sort/score
    parents in a {!parent} result by a field of their matching children;
    agg over matching children picks the representative value."""
    from solr_spark.operators.joins import block_join_parents

    return block_join_parents(
        parents, children, parent_key, child_filter,
        score_col=F.col(field), score_mode=score_mode,
    )


def cscore():
    """cscore() (CollapseScoreFunction) — the score of the collapsed
    group head; operators/windowed.collapse keeps the head's score in
    the `score` column, so the value source is that column."""
    return F.col("score")


def _payload_bridge(spark, meta, term: str, default: float = 0.0,
                    func: str = "average", docs=None):
    """payload(field, value[, default, ['min|max|average|first']]) —
    per-position payload aggregate as a VALUE SOURCE
    (ValueSourceParser.java:904-933: func defaults to "average", the
    default VALUE — returned for docs that lack the term — defaults to
    0.0). positions.payload_score_frame owns the payload-stream decode
    and only emits docs containing the term; pass ``docs`` (a frame
    with a ``docid`` column — the query domain) to get the full
    value-source contract with ``default`` filled in for the rest."""
    from solr_spark.positions import payload_score_frame

    # the reference's "average" is payload_score_frame's "avg"
    frame = payload_score_frame(
        spark, meta, term, func={"average": "avg"}.get(func, func))
    if docs is None:
        return frame
    return docs.join(frame, "docid", "left").withColumn(
        "payload_score",
        F.coalesce(F.col("payload_score"), F.lit(float(default))),
    )


REGISTRY["agg"] = agg_dispatch
REGISTRY["agg_"] = agg_dispatch
REGISTRY["agg_multistat"] = agg_multistat
REGISTRY["childfield"] = child_field
REGISTRY["cscore"] = cscore
REGISTRY["payload"] = _payload_bridge

# ValueSourceParser names deliberately excluded, with reasons
EXCLUDED_VSP: dict[str, str] = {
    "testfunc": "test-only ValueSource used by the reference's own unit "
                "tests (wraps another source unchanged)",
    "threadid": "debug: returns the serving thread's id — meaningless "
                "in a declarative distributed plan",
    "sleep": "debug: blocks the serving thread; a sleep inside a "
             "distributed query plan is a reliability hazard, not a "
             "function",
}


class FileExchangeRateProvider:
    """File-backed exchange-rate provider with a refresh lifecycle
    (CORE/schema/FileExchangeRateProvider.java:1 — reload() parses
    currency.xml; CurrencyFieldType's refreshInterval re-checks the
    source at most every N intervals). Parses the reference's
    currency.xml format::

        <currencyConfig version="1.0"><rates>
          <rate from="USD" to="EUR" rate="0.92"/>
        </rates></currencyConfig>

    into the {(from, to): rate} dict ``currency()`` consumes, and
    re-reads the file when its mtime changes, checking at most once per
    ``refresh_interval_s`` (driver-side by design: rate tables are tiny
    and feed a literal map — the distributed plan never re-reads)."""

    def __init__(self, path: str, refresh_interval_s: float = 600.0,
                 _clock=None):
        import time as _time

        self.path = path
        self.refresh_interval_s = float(refresh_interval_s)
        self._clock = _clock or _time.monotonic
        self._rates: dict = {}
        self._mtime: float | None = None
        self._next_check = float("-inf")
        self._load()

    def _load(self) -> None:
        import os as _os
        import xml.etree.ElementTree as ET

        mtime = _os.path.getmtime(self.path)
        if mtime == self._mtime:
            return
        root = ET.parse(self.path).getroot()
        rates: dict = {}
        for r in root.iter("rate"):
            rates[(r.attrib["from"], r.attrib["to"])] = float(r.attrib["rate"])
        self._rates, self._mtime = rates, mtime

    def rates(self) -> dict:
        """Current rate table, refreshing from the file if its mtime
        changed and the refresh interval has elapsed since the last
        check."""
        now = self._clock()
        if now >= self._next_check:
            self._next_check = now + self.refresh_interval_s
            self._load()
        return dict(self._rates)
