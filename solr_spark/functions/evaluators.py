"""Stream-evaluator library: the reference's math/stats evaluators
re-expressed as Catalyst Column builders.

Reference registry: /root/reference/solr/solrj-streaming/src/java/org/
apache/solr/client/solrj/io/Lang.java:419-498 (249 evaluators registered
over the eval/ package — ArcCosineEvaluator, CorrelationEvaluator:429,
MovingAverageEvaluator:436, RegressionEvaluator, CumulativeSum via
running-total lambdas, ...). The reference evaluates these row-at-a-time
inside the streaming tuple loop; here every evaluator is a JVM-side
Catalyst expression (scalar), a group aggregate, a partitioned window, or
an array (vector) expression — whole-stage-codegen'd, never per-row
Python.

Determinism note for the aggregate family: corr/covariance/regression are
computed from EXACT decimal-cast moments (n, Σx, Σy, Σxy, Σx², Σy² — all
exact when inputs are fixed-point), then combined in one deterministic
double expression. This both sidesteps Spark's merge-order fp wobble and
matches the closed-form the DuckDB oracles use bit-for-bit.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# scalar evaluators (Lang.java one-arg/two-arg math family) — name → builder
SCALAR = {
    "abs": F.abs,
    "ceil": F.ceil,
    "floor": F.floor,
    "round": F.round,
    "sqrt": F.sqrt,
    "cbrt": F.cbrt,
    "exp": F.exp,
    "ln": F.log,
    "log10": F.log10,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "pow": F.pow,
    "mod": lambda a, b: a % b,
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mult": lambda a, b: a * b,
    "div": lambda a, b: a / b,
    "if": F.when,  # if(cond, then).otherwise(...)
    "eq": lambda a, b: a == b,
    "gt": lambda a, b: a > b,
    "gteq": lambda a, b: a >= b,
    "lt": lambda a, b: a < b,
    "lteq": lambda a, b: a <= b,
    "and": lambda a, b: a & b,
    "or": lambda a, b: a | b,
    "not": lambda a: ~a,
}

# third batch — the remaining common one/two-arg math evaluators
# (Lang.java scalar family), all straight builtin mappings
SCALAR.update(
    {
        "atan2": F.atan2,
        "hypot": F.hypot,
        "expm1": F.expm1,
        "log1p": F.log1p,
        "sgn": F.signum,
        "degrees": F.degrees,
        "radians": F.radians,
        "cbrt": F.cbrt,
        "factorial": F.factorial,
        "greatest": F.greatest,
        "least": F.least,
    }
)


# vector (array-column) evaluators — the reference's list-valued family
VECTOR = {
    "length": F.size,
    "rev": F.reverse,
    "arraySort": F.sort_array,
    "distinct": F.array_distinct,
    "dotProduct": lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ),
    "euclidean": lambda a, b: F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    ),
    "manhattan": lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ),
    "cosineSimilarity": lambda a, b: VECTOR["dotProduct"](a, b)
    / (
        F.sqrt(VECTOR["dotProduct"](a, a)) * F.sqrt(VECTOR["dotProduct"](b, b))
    ),
}

# second batch of the vector family (mean/variance/scale/unitize — the
# reference's descriptive and transform evaluators over list values)
VECTOR.update(
    {
        "mean": lambda a: F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v
        )
        / F.size(a),
        "variance": lambda a: F.aggregate(  # population variance: E[x²]−E[x]²
            a, F.lit(0.0), lambda acc, v: acc + v * v
        )
        / F.size(a)
        - (VECTOR["mean"](a) * VECTOR["mean"](a)),
        "scale": lambda k, a: F.transform(a, lambda v: k * v),
        "unitize": lambda a: F.transform(
            a, lambda v: v / F.sqrt(VECTOR["dotProduct"](a, a))
        ),
        "norm2": lambda a: F.sqrt(VECTOR["dotProduct"](a, a)),
    }
)

# element-wise vector arithmetic (ebeAdd/ebeSubtract/ebeMultiply/ebeDivide)
# and generators (zeros/ones/sequence) — the reference's matrix-math family
VECTOR.update(
    {
        "ebeAdd": lambda a, b: F.zip_with(a, b, lambda x, y: x + y),
        "ebeSubtract": lambda a, b: F.zip_with(a, b, lambda x, y: x - y),
        "ebeMultiply": lambda a, b: F.zip_with(a, b, lambda x, y: x * y),
        "ebeDivide": lambda a, b: F.zip_with(a, b, lambda x, y: x / y),
        "zeros": lambda n: F.array_repeat(F.lit(0.0), n),
        "ones": lambda n: F.array_repeat(F.lit(1.0), n),
        "sequence": lambda start, stop, by: F.transform(
            F.sequence(start, stop, by), lambda x: x.cast("double")
        ),
        "copyOfRange": lambda a, lo, hi: F.slice(a, lo + 1, hi - lo),
    }
)


def _dec(c: Column | str, scale: int = 4, width: int = 18) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({width},{scale})")


def exact_moments(x: Column | str, y: Column | str, scale: int = 4) -> list[Column]:
    """The six exact moments behind corr/cov/regression — decimal-cast
    sums (exact for fixed-point inputs), emitted as doubles.

    Spark side uses width 18: an 18x18 product is decimal(37, 2*scale),
    UNDER Spark's 38-precision cap, so the product stays exact (width 19
    would make a precision-39 product that Spark silently rounds to
    scale 7 — divergence from the oracle for >3-decimal inputs). The
    DuckDB oracles keep DECIMAL(19,4): their 38-precision product is
    also exact, and both sides emit the same double."""
    xd, yd = _dec(x, scale, 18), _dec(y, scale, 18)
    return [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    ]


def corr_expr() -> Column:
    """Pearson correlation from exact moments (CorrelationEvaluator,
    Lang.java:429): (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²))."""
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )


def regress_exprs() -> tuple[Column, Column]:
    """OLS slope/intercept from exact moments (RegressionEvaluator /
    OLSRegressionEvaluator): slope = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²),
    intercept = (Σy − slope·Σx)/n."""
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return slope, intercept


def corr_regress(df: DataFrame, x: str, y: str, scale: int = 4) -> DataFrame:
    """One-row (corr, slope, intercept) over the frame — the aggregate
    evaluators wired through exact moments (one map-side-combined pass)."""
    m = df.agg(*exact_moments(x, y, scale))
    slope, intercept = regress_exprs()
    return m.select(
        corr_expr().alias("corr"), slope.alias("slope"), intercept.alias("intercept")
    )


def moving_avg(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    value: str,
    window: int,
    out_col: str = "moving_avg",
    scale: int = 2,
) -> DataFrame:
    """movingAvg (MovingAverageEvaluator, Lang.java:436) over a
    PARTITIONED window — the partition keys are mandatory (a sliding
    window over an unpartitioned 100-TB stream is a single-task plan; the
    reference evaluates per-tuple over an already-sorted stream, the
    partitioned window is the distributed equivalent). Exact decimal sum
    over the frame divided by the frame count, emitted as double."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order)
        .rowsBetween(-(window - 1), 0)
    )
    # cast the exact decimal sum to double BEFORE dividing — the oracle
    # does CAST(sum(...) AS DOUBLE)/count, and decimal-vs-double division
    # rounds differently
    return df.withColumn(
        out_col,
        F.sum(_dec(value, scale)).over(w).cast("double")
        / F.count(F.lit(1)).over(w),
    )


def diff_lag(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    value: str,
    out_col: str = "diff",
) -> DataFrame:
    """diff (DifferenceEvaluator): first difference of ``value`` within
    each partition under ``order`` (lag-1 subtraction)."""
    w = Window.partitionBy(*part_cols).orderBy(*order)
    return df.withColumn(out_col, F.col(value) - F.lag(value, 1).over(w))


def cumulative_sum(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    value: str,
    out_col: str = "cumsum",
    scale: int = 2,
) -> DataFrame:
    """Running total within each partition (the reference's cumulative
    lambdas over sorted streams) — exact decimal accumulation."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        out_col, F.sum(_dec(value, scale)).over(w).cast("double")
    )


def moving_median(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    value: str,
    window: int,
    out_col: str = "moving_median",
) -> DataFrame:
    """movingMedian (MovingMedianEvaluator, Lang.java window family):
    exact median over a trailing row frame. Spark has no holistic median
    window function, so the frame's values ride a sorted array (frames
    are small by construction — ``window`` rows) and the median is the
    interpolated middle, matching DuckDB's window median semantics."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order)
        .rowsBetween(-(window - 1), 0)
    )
    arr = F.sort_array(F.collect_list(F.col(value).cast("double")).over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2.0
    return df.withColumn(out_col, F.when(n % 2 == 1, odd).otherwise(even))


def covariance(df: DataFrame, x: str, y: str, scale: int = 4) -> DataFrame:
    """cov (CovarianceEvaluator, Lang.java:430): one-row population and
    sample covariance from the same exact decimal moments as corr —
    cov_pop = (Σxy − Σx·Σy/n)/n, cov_samp = (Σxy − Σx·Σy/n)/(n−1)."""
    m = df.agg(*exact_moments(x, y, scale))
    n, sx, sy, sxy = F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy")
    return m.select(
        ((sxy - sx * sy / n) / n).alias("cov_pop"),
        ((sxy - sx * sy / n) / (n - F.lit(1.0))).alias("cov_samp"),
    )


def percent_rank(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    out_col: str = "pct_rank",
) -> DataFrame:
    """percentRank / rank-transform evaluator: (rank−1)/(n−1) within each
    partition — both engines implement the identical SQL-standard
    definition, so values match bit-for-bit."""
    w = Window.partitionBy(*part_cols).orderBy(*order)
    return df.withColumn(out_col, F.percent_rank().over(w))


def describe(df: DataFrame, value: str, scale: int = 2) -> DataFrame:
    """describe (DescribeEvaluator): one-row summary — count, exact
    decimal mean, min/max, and interpolated quartiles (Spark `percentile`
    and DuckDB `quantile_cont` share the linear-interpolation
    definition)."""
    v = F.col(value).cast("double")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_dec(value, scale)).cast("double") / F.count(F.lit(1))).alias("mean"),
        F.min(v).alias("min"),
        F.expr(f"percentile({value}, 0.25)").alias("p25"),
        F.expr(f"percentile({value}, 0.5)").alias("p50"),
        F.expr(f"percentile({value}, 0.75)").alias("p75"),
        F.max(v).alias("max"),
    )


def ema(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    value: str,
    alpha: float,
    out_col: str = "ema",
) -> DataFrame:
    """expMovingAvg (ExponentialMovingAverageEvaluator): within each
    partition, ema_0 = x_0; ema_i = α·x_i + (1−α)·ema_{i−1}.

    The recurrence is inherently sequential, but only WITHIN a partition
    key — so each group's ordered values ride one array (groups are
    bounded: a day, a device, a user) and the recurrence folds JVM-side
    with F.aggregate, then explodes back to rows. No Python, no global
    sort; parallelism = number of groups, the same contract as the
    reference's per-stream evaluation."""
    a = float(alpha)
    w = Window.partitionBy(*part_cols).orderBy(*order)
    with_rn = df.withColumn("__rn", F.row_number().over(w))
    grouped = with_rn.groupBy(*part_cols).agg(
        F.array_sort(
            F.collect_list(F.struct("__rn", F.col(value).cast("double").alias("__v")))
        ).alias("__a")
    )
    emas = F.aggregate(
        F.col("__a"),
        F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
        lambda acc, s: F.when(F.size(acc) == 0, F.array(s["__v"])).otherwise(
            F.concat(
                acc,
                F.array(
                    F.lit(a) * s["__v"] + F.lit(1.0 - a) * F.element_at(acc, -1)
                ),
            )
        ),
    )
    exploded = grouped.withColumn("__e", emas).select(
        *part_cols,
        F.posexplode(
            F.arrays_zip(F.col("__a"), F.col("__e").alias("__ema"))
        ).alias("__pos", "__z"),
    )
    flat = exploded.select(
        *part_cols,
        F.col("__z.__a.__rn").alias("__rn"),
        F.col("__z.__ema").alias(out_col),
    )
    return with_rn.join(flat, [*part_cols, "__rn"]).drop("__rn")


def zscore(df: DataFrame, value: str, out_col: str = "zscore") -> DataFrame:
    """normalize/standardize (NormalizeEvaluator): (x − μ)/σ via a
    broadcast one-row stats join (no window over the full frame)."""
    stats = df.agg(
        F.avg(value).alias("__mu"), F.stddev_pop(value).alias("__sigma")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, (F.col(value) - F.col("__mu")) / F.col("__sigma"))
        .drop("__mu", "__sigma")
    )


# --------------------------------------------------------------------------
# batch 4 — distributions / hypothesis tests / signal ops (the Lang.java
# eval families NormalDistributionEvaluator + ProbabilityEvaluator +
# CumulativeProbabilityEvaluator, KolmogorovSmirnovEvaluator,
# AnovaEvaluator, ConvolutionEvaluator, PolyFitEvaluator). The reference
# wraps Apache Commons Math objects per tuple; here each is a Catalyst
# expression (or a short deterministic CTE pipeline), so the same math
# runs JVM-side over any number of rows.

SQRT_2PI = 2.5066282746310002


def norm_pdf(x: Column, mu: Column, sigma: Column) -> Column:
    """Normal density (NormalDistributionEvaluator + density): exp(-(x-μ)²
    / 2σ²) / (σ√2π) — one codegen'd expression."""
    z = (x - mu) / sigma
    return F.exp(F.lit(-0.5) * z * z) / (sigma * F.lit(SQRT_2PI))


def erf_approx(z: Column) -> Column:
    """erf via the Abramowitz & Stegun 7.1.26 polynomial (|err| < 1.5e-7,
    public formula) — both engines evaluate the identical arithmetic, so
    round(,6) outputs match exactly. t = 1/(1+0.3275911|z|);
    erf = sign(z)·(1 − (a1t + a2t² + a3t³ + a4t⁴ + a5t⁵)·e^(−z²))."""
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t
            * (
                F.lit(1.421413741)
                + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
            )
        )
    )
    mag = F.lit(1.0) - poly * F.exp(-az * az)
    return F.signum(z) * mag


# the same polynomial as a SQL string — gate oracles inline it so DuckDB
# runs bit-identical arithmetic
def erf_sql(z: str) -> str:
    return (
        f"(CASE WHEN {z} < 0 THEN -1 ELSE 1 END) * (1.0 - "
        f"((1.0/(1.0+0.3275911*abs({z}))) * (0.254829592 + (1.0/(1.0+0.3275911*abs({z}))) * "
        f"(-0.284496736 + (1.0/(1.0+0.3275911*abs({z}))) * (1.421413741 + (1.0/(1.0+0.3275911*abs({z}))) * "
        f"(-1.453152027 + (1.0/(1.0+0.3275911*abs({z}))) * 1.061405429))))) * exp(-abs({z})*abs({z})))"
    )


def norm_cdf(x: Column, mu: Column, sigma: Column) -> Column:
    """Normal CDF (cumulativeProbability): ½(1 + erf(z/√2)) with the
    shared erf polynomial."""
    z = (x - mu) / (sigma * F.lit(1.4142135623730951))
    return F.lit(0.5) * (F.lit(1.0) + erf_approx(z))


def uniform_cdf(x: Column, lo: Column, hi: Column) -> Column:
    """UniformRealDistribution cumulativeProbability."""
    return F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), (x - lo) / (hi - lo))
    )


def log_factorial(c: Column) -> Column:
    """ln(c!) as an ascending fold Σ ln i (i = 2..c) — the arbitrary-k
    replacement for Spark's factorial(), which is NULL past 20. Gate
    oracles mirror the same ascending sum (a recursive CTE in
    gate._DISCRETE_SQL) so the doubles are bit-identical."""
    return F.when(c < 2, F.lit(0.0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(2), c.cast("int")),
            F.lit(0.0),
            lambda acc, x: acc + F.log(x.cast("double")),
        )
    )


def poisson_pmf(k: Column, lam: Column) -> Column:
    """PoissonDistribution probability: e^(−λ)·λ^k / k!, computed in log
    space (Commons Math routes through logGamma the same way) because
    Spark's factorial() returns NULL past k=20 — well inside the
    distribution's mass once λ ≳ 15."""
    ki = k.cast("int")
    return F.exp(
        ki.cast("double") * F.log(lam) - lam - log_factorial(ki)
    )


def normal_fit(df: DataFrame, value: str, scale: int = 2) -> DataFrame:
    """One-row (mu, sigma) maximum-likelihood normal fit from exact
    decimal moments (population σ — Commons Math NormalDistribution's
    fit convention in the reference's empirical pipelines)."""
    vd = _dec(value, scale, 18)
    m = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(vd).cast("double").alias("sx"),
        F.sum(vd * vd).cast("double").alias("sxx"),
    )
    return m.select(
        (F.col("sx") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
        ).alias("sigma"),
    )


def ks_2sample(
    df: DataFrame,
    value: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test (KolmogorovSmirnovEvaluator —
    the reference delegates to Commons Math KolmogorovSmirnovTest):
    D = sup_x |F_a(x) − F_b(x)| over the pooled sample, p-value from the
    asymptotic Kolmogorov series Q(λ) = 2·Σ_{j≥1} (−1)^{j−1} e^{−2j²λ²}
    at λ = √(n_a·n_b/(n_a+n_b))·D (truncated at j=100; the standard
    large-sample approximation).

    Distributed shape: counts aggregate map-side per distinct value
    first (the shuffle carries |distinct values| rows, not |rows|), the
    ECDF window then runs over that compact table. The final window is
    unpartitioned BY CONSTRUCTION over the distinct-value table — for
    continuous 100-TB data, bucket values first (the reference's
    empirical-distribution binning does the same)."""
    two = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value).alias("v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("is_a"),
    )
    per_v = two.groupBy("v").agg(
        F.sum("is_a").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ecdf = per_v.select(
        (
            F.sum("ca").over(w).cast("double")
            / F.sum("ca").over(wall).cast("double")
        ).alias("fa"),
        (
            F.sum("cb").over(w).cast("double")
            / F.sum("cb").over(wall).cast("double")
        ).alias("fb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    d = ecdf.agg(
        F.max(F.abs(F.col("fa") - F.col("fb"))).alias("d_stat"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    lam = (
        F.sqrt(
            F.col("na").cast("double")
            * F.col("nb").cast("double")
            / (F.col("na") + F.col("nb")).cast("double")
        )
        * F.col("d_stat")
    )
    p = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.pow(F.lit(-1.0), (j - 1).cast("double"))
        * F.exp(F.lit(-2.0) * lam * lam * j.cast("double") * j.cast("double")),
    ) * F.lit(2.0)
    return d.select(
        "d_stat",
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), p)).alias("p_value"),
    )


def anova_f(
    df: DataFrame, value: str, group_col: str, scale: int = 2
) -> DataFrame:
    """One-way ANOVA (AnovaEvaluator → Commons Math OneWayAnova): one row
    (f_stat, df_between, df_within). Per-group moments are EXACT decimal
    sums; the only double fold — Σ_g (Σx_g)²/n_g — runs over the groups
    in sorted group order (groups are few by definition), so both engines
    add the identical handful of doubles in the identical order."""
    vd = _dec(value, scale, 18)
    per_g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.sum(vd).cast("double").alias("sxg"),
        F.sum(vd * vd).cast("double").alias("sxxg"),
    )
    folded = per_g.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col(group_col).alias("g"), "sxg", "ng"))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["sxg"] * s["sxg"] / s["ng"],
        ).alias("t"),
        F.sum("ng").alias("n"),
        F.sum("sxg").alias("sx"),
        F.sum("sxxg").alias("sxx"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    ssb = F.col("t") - F.col("sx") * F.col("sx") / F.col("n")
    ssw = F.col("sxx") - F.col("t")
    return folded.select(
        (
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
        ).alias("f_stat"),
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
    )


# convolution joins the VECTOR family: full linear convolution of two
# array columns, out[n] = Σ_i a[i]·b[n−i] (ConvolutionEvaluator; exact
# for integer-count inputs)
VECTOR["conv"] = lambda a, b: F.transform(
    F.sequence(F.lit(0), F.size(a) + F.size(b) - 2),
    lambda n: F.aggregate(
        F.sequence(
            F.greatest(F.lit(0), n - F.size(b) + 1),
            F.least(n, F.size(a) - 1),
        ),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(a, i + 1) * F.element_at(b, n - i + 1),
    ),
)


def polyfit2(
    df: DataFrame, x: str, y: str, x_scale: int = 1, y_scale: int = 2
) -> DataFrame:
    """Degree-2 polynomial OLS fit (PolyFitEvaluator, default degree 2 in
    the reference): one row (c0, c1, c2) of y ≈ c0 + c1·x + c2·x².
    Normal-equation moments Σx..Σx⁴, Σy, Σxy, Σx²y are EXACT decimals
    (widths chosen so every product stays under Spark's 38-precision
    cap for |x| ≤ ~9999), then the 3×3 system solves by Cramer's rule in
    one deterministic double expression."""
    xd = _dec(x, x_scale, 6)   # d(6,s): x⁴ products stay ≤ precision 27
    yd = _dec(y, y_scale, 10)
    x2 = xd * xd
    m = df.agg(
        F.count(F.lit(1)).cast("double").alias("s0"),
        F.sum(xd).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x2 * xd).cast("double").alias("s3"),
        F.sum(x2 * x2).cast("double").alias("s4"),
        F.sum(yd).cast("double").alias("t0"),
        F.sum(yd * xd).cast("double").alias("t1"),
        F.sum(yd * x2).cast("double").alias("t2"),
    )
    s0, s1, s2 = F.col("s0"), F.col("s1"), F.col("s2")
    s3, s4 = F.col("s3"), F.col("s4")
    t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
    det = (
        s0 * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * s3 - s2 * s2)
    )
    c0 = (
        t0 * (s2 * s4 - s3 * s3)
        - s1 * (t1 * s4 - t2 * s3)
        + s2 * (t1 * s3 - t2 * s2)
    ) / det
    c1 = (
        s0 * (t1 * s4 - t2 * s3)
        - t0 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * t2 - s2 * t1)
    ) / det
    c2 = (
        s0 * (s2 * t2 - s3 * t1)
        - s1 * (s1 * t2 - s2 * t1)
        + t0 * (s1 * s3 - s2 * s2)
    ) / det
    return m.select(c0.alias("c0"), c1.alias("c1"), c2.alias("c2"))


# --------------------------------------------------------------------------
# batch 5 — the remaining high-traffic Lang.java families: string ops,
# vector/matrix algebra, more distributions, rank tests, signal ops.

# string evaluators (upper/lower/trim/replace/matches/... — the reference's
# per-tuple string lambdas; here plain Catalyst string expressions)
STRING = {
    "upper": F.upper,
    "lower": F.lower,
    "trim": F.trim,
    "ltrim": F.ltrim,
    "rtrim": F.rtrim,
    "replace": lambda c, a, b: F.replace(c, F.lit(a), F.lit(b)),
    "matches": lambda c, pat: c.rlike(pat),
    "split": lambda c, sep: F.split(c, sep),
    "indexOf": lambda c, s: F.instr(c, s) - 1,  # reference is 0-based/-1 missing
    "concat": lambda *c: F.concat(*c),
    "uuid": lambda: F.expr("uuid()"),
    "dateTime": lambda c, fmt: F.date_format(c, fmt),
}

SCALAR.update(
    {
        "coalesce": F.coalesce,
        "isNull": lambda c: c.isNull(),
        "notNull": lambda c: c.isNotNull(),
        "trunc": lambda c, n=0: (
            F.floor(c * F.lit(float(10**n))) / F.lit(float(10**n))
        ),
        "lerp": lambda a, b, t: a + t * (b - a),
        "eor": lambda a, b: a ^ b,
        "double": lambda c: c.cast("double"),
        "long": lambda c: c.cast("bigint"),
        # C(n,k) for small ints — the reference delegates to Commons Math
        "binomialCoefficient": lambda n, k: (
            F.factorial(n.cast("int"))
            / (F.factorial(k.cast("int")) * F.factorial((n - k).cast("int")))
        ),
        # round to s significant figures (PrecisionEvaluator); s may be a
        # per-row Column (both args are value sources in the reference)
        "precision": lambda x, s: F.when(x == 0, F.lit(0.0)).otherwise(
            F.round(
                x,
                ((s if hasattr(s, "cast") else F.lit(int(s))) - 1
                 - F.floor(F.log10(F.abs(x)))).cast("int"),
            )
        ),
    }
)


def _vsum(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v)


VECTOR.update(
    {
        "l1norm": lambda a: F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + F.abs(v)
        ),
        "l2norm": lambda a: VECTOR["norm2"](a),
        "linfnorm": lambda a: F.array_max(F.transform(a, F.abs)),
        "scalarAdd": lambda k, a: F.transform(a, lambda v: v + k),
        "scalarSubtract": lambda k, a: F.transform(a, lambda v: v - k),
        "scalarMultiply": lambda k, a: F.transform(a, lambda v: v * k),
        "scalarDivide": lambda k, a: F.transform(a, lambda v: v / k),
        "normalizeSum": lambda a: F.transform(a, lambda v: v / _vsum(a)),
        "minMaxScale": lambda a, lo=0.0, hi=1.0: F.transform(
            a,
            lambda v: F.lit(float(lo))
            + (v - F.array_min(a))
            / (F.array_max(a) - F.array_min(a))
            * F.lit(float(hi) - float(lo)),
        ),
        "sumSq": lambda a: F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v),
        "var": lambda a: VECTOR["variance"](a),
        "std": lambda a: F.sqrt(VECTOR["variance"](a)),
        "zscores": lambda a: F.transform(
            a,
            lambda v: (v - VECTOR["mean"](a)) / F.sqrt(VECTOR["variance"](a)),
        ),
        "valueAt": lambda a, i: F.element_at(a, i + 1),  # reference is 0-based
        "addAll": lambda *arrs: F.concat(*arrs),
        "append": lambda a, v: F.concat(a, F.array(v)),
        "natural": lambda n: F.transform(
            F.sequence(F.lit(0), n - 1), lambda x: x.cast("double")
        ),
        "repeat": lambda v, n: F.array_repeat(v, n),
        "array": lambda *c: F.array(*c),
        "mode": lambda a: F.array_max(  # most frequent; ties → larger value
            F.transform(
                F.array_distinct(a),
                lambda u: F.struct(
                    F.size(F.filter(a, lambda v: v == u)).alias("n"),
                    u.alias("v"),
                ),
            )
        ).getField("v"),
        "canberra": lambda a, b: F.aggregate(
            F.zip_with(
                a, b, lambda x, y: F.when(
                    (F.abs(x) + F.abs(y)) == 0, F.lit(0.0)
                ).otherwise(F.abs(x - y) / (F.abs(x) + F.abs(y)))
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        "chebyshev": lambda a, b: F.array_max(
            F.zip_with(a, b, lambda x, y: F.abs(x - y))
        ),
        # 1-D earth mover's distance = Σ |prefix-sum differences|
        # (the closed form for 1-D histograms)
        "earthMovers": lambda a, b: F.aggregate(
            F.zip_with(a, b, lambda x, y: x - y),
            F.struct(F.lit(0.0).alias("run"), F.lit(0.0).alias("emd")),
            lambda acc, d: F.struct(
                (acc["run"] + d).alias("run"),
                (acc["emd"] + F.abs(acc["run"] + d)).alias("emd"),
            ),
            lambda acc: acc["emd"],
        ),
        # interpolated percentile of a vector (PercentileEvaluator)
        "percentile": lambda a, p: _vec_percentile(a, p),
    }
)


def _vec_percentile(a: Column, p) -> Column:
    s = F.sort_array(a)
    n = F.size(s)
    # R-7 interpolation (the Commons Math / numpy 'linear' default)
    h = (n.cast("double") - 1) * (
        p / F.lit(100.0) if not isinstance(p, (int, float)) else F.lit(p / 100.0)
    )
    lo = F.floor(h).cast("int")
    return F.element_at(s, lo + 1) + (h - lo.cast("double")) * (
        F.element_at(s, F.least(lo + 2, n)) - F.element_at(s, lo + 1)
    )


# matrix family: a matrix is an array<array<double>> column
# (MatrixEvaluator, TransposeEvaluator, MatrixMultiplyEvaluator,
# SumRowsEvaluator, SumColumnsEvaluator, GrandSumEvaluator, ...)
MATRIX = {
    "matrix": lambda *rows: F.array(*rows),
    "rowCount": F.size,
    "columnCount": lambda m: F.size(F.element_at(m, 1)),
    "rowAt": lambda m, i: F.element_at(m, i + 1),
    "colAt": lambda m, j: F.transform(m, lambda r: F.element_at(r, j + 1)),
    "transpose": lambda m: F.transform(
        F.sequence(F.lit(1), F.size(F.element_at(m, 1))),
        lambda j: F.transform(m, lambda r: F.element_at(r, j)),
    ),
    "sumRows": lambda m: F.transform(m, _vsum),
    "sumColumns": lambda m: F.transform(
        F.sequence(F.lit(1), F.size(F.element_at(m, 1))),
        lambda j: F.aggregate(
            m, F.lit(0.0), lambda acc, r: acc + F.element_at(r, j)
        ),
    ),
    "grandSum": lambda m: F.aggregate(
        m, F.lit(0.0), lambda acc, r: acc + _vsum(r)
    ),
    "matrixMult": lambda a, b: F.transform(
        a,
        lambda row: F.transform(
            F.sequence(F.lit(1), F.size(F.element_at(b, 1))),
            lambda j: F.aggregate(
                F.zip_with(
                    row,
                    F.transform(b, lambda r: F.element_at(r, j)),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    ),
    "scalarMultiply": lambda k, m: F.transform(
        m, lambda r: F.transform(r, lambda v: v * k)
    ),
}


# more distribution pmf/pdf/cdf closed forms (Commons Math wrappers in
# the reference; plain expressions here)
def binomial_pmf(k: Column, n: Column, p: Column) -> Column:
    """BinomialDistribution probability in log space (ln C(n,k) from
    log_factorial), so n past factorial()'s 20 ceiling still evaluates;
    p∈{0,1} degenerate cases guarded because ln(0) is NULL in Spark."""
    kd, nd = k.cast("double"), n.cast("double")
    log_c = log_factorial(n) - log_factorial(k) - log_factorial(n - k)
    general = F.exp(
        log_c + kd * F.log(p) + (nd - kd) * F.log(F.lit(1.0) - p)
    )
    return (
        F.when(p <= 0.0, F.when(kd == 0.0, F.lit(1.0)).otherwise(F.lit(0.0)))
        .when(p >= 1.0, F.when(kd == nd, F.lit(1.0)).otherwise(F.lit(0.0)))
        .otherwise(general)
    )


def geometric_pmf(k: Column, p: Column) -> Column:
    """P(X=k) = (1-p)^k · p (failures-before-first-success convention)."""
    return F.pow(F.lit(1.0) - p, k.cast("double")) * p


def uniform_int_pmf(k: Column, lo: Column, hi: Column) -> Column:
    return F.when(
        (k >= lo) & (k <= hi), F.lit(1.0) / (hi - lo + 1).cast("double")
    ).otherwise(F.lit(0.0))


def lognormal_pdf(x: Column, mu: Column, sigma: Column) -> Column:
    z = (F.log(x) - mu) / sigma
    return F.exp(F.lit(-0.5) * z * z) / (x * sigma * F.lit(SQRT_2PI))


def lognormal_cdf(x: Column, mu: Column, sigma: Column) -> Column:
    return norm_cdf(F.log(x), mu, sigma)


def weibull_pdf(x: Column, k: Column, lam: Column) -> Column:
    return (
        (k / lam)
        * F.pow(x / lam, k - F.lit(1.0))
        * F.exp(-F.pow(x / lam, k))
    )


def weibull_cdf(x: Column, k: Column, lam: Column) -> Column:
    return F.lit(1.0) - F.exp(-F.pow(x / lam, k))


def triangular_pdf(x: Column, a: Column, c: Column, b: Column) -> Column:
    """a=min, c=mode, b=max."""
    return (
        F.when((x < a) | (x > b), F.lit(0.0))
        .when(x < c, F.lit(2.0) * (x - a) / ((b - a) * (c - a)))
        .when(x == c, F.lit(2.0) / (b - a))
        .otherwise(F.lit(2.0) * (b - x) / ((b - a) * (b - c)))
    )


def zipf_pmf(k: Column, s: Column, n: int) -> Column:
    """Finite-N Zipf: k^-s / H_{n,s} (the normalization folds over a
    literal 1..n sequence)."""
    h = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(n))),
        F.lit(0.0),
        lambda acc, i: acc + F.pow(i.cast("double"), -s),
    )
    return F.pow(k.cast("double"), -s) / h


def welch_ttest(
    df: DataFrame, value: str, group_col: str, group_a, group_b, scale: int = 2
) -> DataFrame:
    """Welch two-sample t-test (TTestEvaluator → Commons Math TTest):
    one row (t_stat, df, p_value). Moments are exact decimals; the
    p-value uses the large-sample NORMAL approximation 2(1−Φ(|t|)) via
    the shared erf polynomial — exact Student-t needs the incomplete
    beta function, out of closed-Catalyst scope and documented as such
    (for the gate's n≈20k per group the two agree to ~1e-6)."""
    vd = _dec(value, scale, 18)
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(vd).cast("double").alias("sx"),
            F.sum(vd * vd).cast("double").alias("sxx"),
        )
        .withColumn("mean", F.col("sx") / F.col("n"))
        .withColumn(
            "var",
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1),
        )
    )
    a = g.filter(F.col(group_col) == group_a).select(
        F.col("n").alias("na"), F.col("mean").alias("ma"), F.col("var").alias("va")
    )
    b = g.filter(F.col(group_col) == group_b).select(
        F.col("n").alias("nb"), F.col("mean").alias("mb"), F.col("var").alias("vb")
    )
    j = a.crossJoin(b)
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (F.col("va") / F.col("na")) * (F.col("va") / F.col("na"))
        / (F.col("na") - 1)
        + (F.col("vb") / F.col("nb")) * (F.col("vb") / F.col("nb"))
        / (F.col("nb") - 1)
    )
    z = F.abs(t) / F.lit(1.4142135623730951)
    p = F.lit(2.0) * (F.lit(0.5) * (F.lit(1.0) - erf_approx(z)))
    return j.select(t.alias("t_stat"), dof.alias("df"), p.alias("p_value"))


def mann_whitney_u(
    df: DataFrame, value: str, group_col: str, group_a, group_b
) -> DataFrame:
    """Mann–Whitney U (MannWhitneyUEvaluator): U from midranks over the
    pooled sample (value-aggregated first, so the rank table is
    |distinct values| rows), z with tie correction, two-sided p via the
    normal approximation (the reference's Commons Math path uses the
    same asymptotic for large samples)."""
    two = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value).alias("v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("is_a"),
    )
    per_v = two.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("ct")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_v.select(
        "ca",
        "ct",
        (
            F.coalesce(F.sum("ct").over(w), F.lit(0)).cast("double")
            + (F.col("ct").cast("double") + 1.0) / 2.0
        ).alias("midrank"),
        F.sum(F.col("ca")).over(wall).alias("na"),
        F.sum(F.col("ct") - F.col("ca")).over(wall).alias("nb"),
    )
    agg = ranked.agg(
        F.sum(F.col("ca").cast("double") * F.col("midrank")).alias("ra"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
        F.sum(
            F.col("ct").cast("double") * F.col("ct") * F.col("ct")
            - F.col("ct").cast("double")
        ).alias("tie_term"),
        F.sum("ct").alias("n"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    n = F.col("n").cast("double")
    u = F.col("ra") - na * (na + 1) / 2
    mu = na * nb / 2
    sigma = F.sqrt(
        (na * nb / 12) * ((n + 1) - F.col("tie_term") / (n * (n - 1)))
    )
    z = (u - mu) / sigma
    za = F.abs(z) / F.lit(1.4142135623730951)
    p = F.lit(2.0) * (F.lit(0.5) * (F.lit(1.0) - erf_approx(za)))
    return agg.select(
        u.alias("u_stat"), z.alias("z"), F.least(F.lit(1.0), p).alias("p_value")
    )


def fft_cols(df: DataFrame, arr_col: str, out_col: str = "fft") -> DataFrame:
    """fft (FFTEvaluator): per-row DFT of an array column via numpy inside
    an Arrow-batched pandas UDF — returns [real[], imag[]] (the
    reference's 2-row matrix shape). Python is unavoidable here (no
    Catalyst FFT) but the transfer is Arrow and the work is per-row
    vectorized."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _fft(s: pd.Series) -> pd.Series:
        out = []
        for a in s:
            c = np.fft.fft(np.asarray(a, dtype=np.float64))
            out.append([c.real.tolist(), c.imag.tolist()])
        return pd.Series(out)

    return df.withColumn(
        out_col, pandas_udf(_fft, "array<array<double>>")(F.col(arr_col))
    )


def ifft_cols(df: DataFrame, fft_col: str, out_col: str = "signal") -> DataFrame:
    """ifft (IFFTEvaluator): inverse of fft_cols — takes the
    [real[], imag[]] 2-row matrix column and returns the real part of
    the inverse DFT (the reference discards the residual imaginary
    part of a round-trip the same way)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _ifft(s: pd.Series) -> pd.Series:
        out = []
        for m in s:
            c = np.asarray(m[0], dtype=np.float64) + 1j * np.asarray(
                m[1], dtype=np.float64
            )
            out.append(np.fft.ifft(c).real.tolist())
        return pd.Series(out)

    return df.withColumn(
        out_col, pandas_udf(_ifft, "array<double>")(F.col(fft_col))
    )


def loess_smooth(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bandwidth: float = 0.3,
    out_col: str = "smoothed",
) -> DataFrame:
    """loess (LoessEvaluator → Commons Math LoessInterpolator): per-row
    local linear regression with tricube weights over (x[], y[]) array
    columns. numpy per row inside an Arrow batch — same scale shape as
    fft_cols."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bw = float(bandwidth)

    def _loess(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for xa, ya in zip(xs, ys):
            x = np.asarray(xa, dtype=np.float64)
            y = np.asarray(ya, dtype=np.float64)
            n = len(x)
            k = max(2, int(np.ceil(bw * n)))
            sm = np.empty(n)
            for i in range(n):
                d = np.abs(x - x[i])
                idx = np.argsort(d)[:k]
                dk = d[idx].max() or 1.0
                wts = (1 - (d[idx] / dk) ** 3) ** 3
                wts = np.clip(wts, 0, None)
                xw, yw = x[idx], y[idx]
                sw = wts.sum()
                xm = (wts * xw).sum() / sw
                ym = (wts * yw).sum() / sw
                den = (wts * (xw - xm) ** 2).sum()
                slope = 0.0 if den == 0 else (wts * (xw - xm) * (yw - ym)).sum() / den
                sm[i] = ym + slope * (x[i] - xm)
            out.append(sm.tolist())
        return pd.Series(out)

    return df.withColumn(
        out_col,
        pandas_udf(_loess, "array<double>")(F.col(x_col), F.col(y_col)),
    )


# derivative/integral over sampled (x[], y[]) arrays — the reference's
# DerivativeEvaluator/IntegrateEvaluator run over a fitted spline; these
# are the standard discrete stand-ins (central differences / trapezoid),
# documented as such.
VECTOR.update(
    {
        "derivative": lambda x, y: F.transform(
            F.sequence(F.lit(1), F.size(y)),
            lambda i: F.when(
                i == 1,
                (F.element_at(y, 2) - F.element_at(y, 1))
                / (F.element_at(x, 2) - F.element_at(x, 1)),
            )
            .when(
                i == F.size(y),
                (F.element_at(y, F.size(y)) - F.element_at(y, F.size(y) - 1))
                / (F.element_at(x, F.size(x)) - F.element_at(x, F.size(x) - 1)),
            )
            .otherwise(
                (F.element_at(y, i + 1) - F.element_at(y, i - 1))
                / (F.element_at(x, i + 1) - F.element_at(x, i - 1))
            ),
        ),
        "integral": lambda x, y: F.aggregate(
            F.sequence(F.lit(2), F.size(y)),
            F.lit(0.0),
            lambda acc, i: acc
            + (F.element_at(y, i) + F.element_at(y, i - 1))
            * (F.element_at(x, i) - F.element_at(x, i - 1))
            / F.lit(2.0),
        ),
    }
)


# --------------------------------------------------------------------------
# batch 6 — the remaining Catalyst-expressible Lang.java names: aliases,
# differencing/ranking, finddelay, frequency table, oscillate, copyOf,
# parseCSV/parseTSV. (The numpy-fit / ML / geometry families live in
# solr_spark/functions/mathx.py.)

SCALAR.update(
    {
        # RecipEvaluator (Commons Math Inverse): 1/x
        "recip": lambda x: F.lit(1.0) / x,
        "noop": lambda x: x,
        "val": lambda v: F.lit(v),
        "null": lambda: F.lit(None),
    }
)

STRING.update(
    {
        # ParseCSV/ParseTSV stream classes parse a delimited field into
        # columns mid-pipeline; from_csv is the Catalyst-native analog.
        "parseCSV": lambda c, schema: F.from_csv(c, F.lit(schema)),
        "parseTSV": lambda c, schema: F.from_csv(
            c, F.lit(schema), {"sep": "\t"}
        ),
    }
)


def _rank_natural(a: Column) -> Column:
    """NaturalRanking with ties → average of the tied positions (the
    Commons Math default used by RankEvaluator): for each v in a,
    rank(v) = (#strictly-smaller) + (#equal + 1)/2."""
    return F.transform(
        a,
        lambda v: F.size(F.filter(a, lambda u: u < v)).cast("double")
        + (F.size(F.filter(a, lambda u: u == v)).cast("double") + 1.0) / 2.0,
    )


VECTOR.update(
    {
        "avg": lambda a: VECTOR["mean"](a),
        "count": F.size,
        "countDist": lambda a: F.size(F.array_distinct(a)),
        "stddev": lambda a: VECTOR["std"](a),
        "cosine": lambda a, b: VECTOR["cosineSimilarity"](a, b),
        "per": lambda a, p: _vec_percentile(a, p),
        # DifferenceEvaluator: y[i] - y[i-lag] (default lag 1); output is
        # len(y) - lag values, like the reference's differencing
        "diff": lambda y, lag=1: F.transform(
            F.sequence(F.lit(int(lag) + 1 if isinstance(lag, int) else 2),
                       F.size(y)),
            lambda i: F.element_at(y, i)
            - F.element_at(y, i - (lag if isinstance(lag, int) else 1)),
        ),
        "rank": _rank_natural,
        # MeanDifference/SumDifference (paired stats over equal-length
        # vectors; Commons Math StatUtils.meanDifference/sumDifference)
        "meanDifference": lambda a, b: _vsum(
            F.zip_with(a, b, lambda x, y: x - y)
        ) / F.size(a).cast("double"),
        "sumDifference": lambda a, b: _vsum(
            F.zip_with(a, b, lambda x, y: x - y)
        ),
        # CopyOfEvaluator: Arrays.copyOf semantics — truncate to n, or
        # zero-pad when n > len(a)
        "copyOf": lambda a, n: F.transform(
            F.sequence(F.lit(1), F.lit(int(n))),
            lambda i: F.coalesce(
                F.when(i <= F.size(a), F.element_at(a, i)), F.lit(0.0)
            ),
        ),
        "copyOfRange": VECTOR.get("copyOfRange")
        or (lambda a, lo, hi: F.slice(a, int(lo) + 1, int(hi) - int(lo))),
        # FindDelayEvaluator: full cross-correlation (convolution of a
        # with reversed b — reversing twice = correlation), delay =
        # argmax|xcorr| + 1 - len(b).  Reuses the existing "conv" entry.
        "finddelay": lambda a, b: F.aggregate(
            F.transform(
                VECTOR["conv"](a, F.reverse(b)),
                lambda v: F.abs(v),
            ),
            F.struct(
                F.lit(0).alias("i"),
                F.lit(-1).alias("argmax"),
                F.lit(float("-inf")).alias("best"),
            ),
            lambda acc, v: F.struct(
                (acc["i"] + 1).alias("i"),
                F.when(v > acc["best"], acc["i"] + 1)
                .otherwise(acc["argmax"])
                .alias("argmax"),
                F.greatest(v, acc["best"]).alias("best"),
            ),
            lambda acc: acc["argmax"] - F.size(b),
        ),
        # FrequencyTableEvaluator: per distinct (long-cast) value —
        # struct(value, count, totalFreq, percent), ascending by value
        "freqTable": lambda a: F.transform(
            F.array_sort(F.array_distinct(F.transform(a, lambda v: v.cast("bigint")))),
            lambda u: F.struct(
                u.alias("value"),
                F.size(
                    F.filter(a, lambda v: v.cast("bigint") == u)
                ).alias("count"),
                F.size(a).alias("totalFreq"),
                (
                    F.size(F.filter(a, lambda v: v.cast("bigint") == u)).cast("double")
                    / F.size(a).cast("double")
                ).alias("percent"),
            ),
        ),
        # OscillateEvaluator: 128 samples of amp*sin(om*x + phase), x=0..127
        "oscillate": lambda amp, om, phase: F.transform(
            F.sequence(F.lit(0), F.lit(127)),
            lambda i: amp * F.sin(om * i.cast("double") + phase),
        ),
    }
)


# --------------------------------------------------------------------------
# batch 6b — the last Lang.java evaluator stragglers: convert (unit
# conversion, the exact factor table of ConversionEvaluator.java:95-185),
# getValue/setValue/withField/withValue tuple ops (struct columns here),
# recNum (RecNumEvaluator: a 0-based record counter), cell (CellStream:
# wrap a stream's tuples into one list-valued tuple).

_CONVERT_FACTORS = {
    ("inches", "millimeters"): 25.4,
    ("inches", "centimeters"): 2.54,
    ("inches", "meters"): 0.0254,
    ("feet", "meters"): 0.30,
    ("yards", "meters"): 0.91,
    ("yards", "kilometers"): 0.00091,
    ("miles", "kilometers"): 1.61,
    ("millimeters", "inches"): 0.039,
    ("centimeters", "inches"): 0.39,
    ("meters", "feet"): 3.28,
    ("kilometers", "miles"): 0.62,
    ("kilometers", "feet"): 3280.8,
}


def convert_units(frm: str, to: str, value: Column) -> Column:
    """convert(from, to, x) — only the reference's published pairs are
    legal; anything else raises, matching its EvaluatorException."""
    key = (frm.lower(), to.lower())
    if key not in _CONVERT_FACTORS:
        raise ValueError(f"No conversion available from {frm} to {to}")
    return value * F.lit(_CONVERT_FACTORS[key])


SCALAR.update(
    {
        "convert": convert_units,
        # tuple/struct field ops (GetValueEvaluator/SetValueEvaluator,
        # and the let-context withField/withValue): structs are the
        # Tuple analog, so these are plain Catalyst field ops
        "getValue": lambda t, name: t.getField(name),
        "setValue": lambda t, name, v: t.withField(name, v),
        "withField": lambda t, name, v: t.withField(name, v),
        "withValue": lambda t, name, v: t.withField(name, v),
    }
)


RECNUM_WINDOW_MAX = 100_000


def recnum(df: DataFrame, order_by: str | list[str],
           out_col: str = "recNum") -> DataFrame:
    """recNum() (RecNumEvaluator: ++index per tuple, 0-based).  The
    reference counts tuples as they stream past in one process; a
    distributed analog needs an explicit total order, so order_by is
    required — same contract as export()'s global rank.

    Scale guard: the single-stream Window mirror funnels every row
    through one task, which is the reference's semantics but not a plan
    you want at corpus scale — above RECNUM_WINDOW_MAX rows this
    auto-switches to relational.global_rank's range-shuffle (identical
    output, every stage parallel)."""
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    # bounded probe: reads at most RECNUM_WINDOW_MAX + 1 input rows
    if df.limit(RECNUM_WINDOW_MAX + 1).count() > RECNUM_WINDOW_MAX:
        from ..operators.relational import global_rank

        ranked = global_rank(df, [F.asc(c) for c in cols], rank_col=out_col)
        return ranked.withColumn(out_col, F.col(out_col).cast("int") - 1)
    w = Window.orderBy(*[F.asc(c) for c in cols])
    return df.withColumn(out_col, F.row_number().over(w) - 1)


def cell(df: DataFrame, name: str = "cell") -> DataFrame:
    """cell() (CellStream): gather a (small) stream's tuples into ONE
    list-of-struct tuple — the let()-context building block. Only for
    dimension-sized frames by construction (single reducer, like the
    reference's in-memory list)."""
    return df.agg(
        F.collect_list(F.struct(*[F.col(c) for c in df.columns])).alias(name)
    )


# --- batch 7: paired tests, count-dataset tests, moving MAD, misc ---------


def paired_ttest(df: DataFrame, x: str, y: str, scale: int = 2) -> DataFrame:
    """Paired t-test (PairedTTestEvaluator → Commons Math TTest.pairedTTest):
    one row (t_stat, df, p_value) from the exact decimal moments of the
    per-row difference d = x − y; t = mean(d)/(sd(d)/√n), df = n−1.
    p uses the same documented large-sample normal approximation (shared
    erf polynomial) as welch_ttest, so a SQL oracle can mirror it."""
    d = _dec(x, scale, 18) - _dec(y, scale, 18)
    m = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d).cast("double").alias("sd"),
        F.sum(d * d).cast("double").alias("sdd"),
    )
    n, sd, sdd = F.col("n"), F.col("sd"), F.col("sdd")
    var = (sdd - sd * sd / n) / (n - 1)
    t = (sd / n) / F.sqrt(var / n)
    z = F.abs(t) / F.lit(1.4142135623730951)
    p = F.lit(2.0) * (F.lit(0.5) * (F.lit(1.0) - erf_approx(z)))
    return m.select(t.alias("t_stat"), (n - 1).alias("df"), p.alias("p_value"))


def chi_square_dataset(df: DataFrame, a: str, b: str) -> DataFrame:
    """chiSquareDataSet (ChiSquareDataSetEvaluator → Commons Math
    ChiSquareTest.chiSquareDataSetsComparison): two observed count
    columns, statistic Σ (√(N2/N1)·o1 − √(N1/N2)·o2)² / (o1+o2) over
    categories with o1+o2 > 0; df = k−1. The statistic is plain
    arithmetic (SQL-mirrorable); the p-value needs the regularized
    incomplete gamma and rides mathx.chi2_sf driver-side via
    chi_square_dataset_p."""
    oa = F.col(a).cast("double")
    ob = F.col(b).cast("double")
    tot = df.agg(
        F.sum(oa).alias("n1"),
        F.sum(ob).alias("n2"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    joined = df.crossJoin(F.broadcast(tot))
    r12 = F.sqrt(F.col("n2") / F.col("n1"))
    r21 = F.sqrt(F.col("n1") / F.col("n2"))
    term = F.when(
        oa + ob > 0, (r12 * oa - r21 * ob) * (r12 * oa - r21 * ob) / (oa + ob)
    ).otherwise(0.0)
    return joined.agg(
        F.sum(term).alias("chisq"),
        (F.first(F.col("k")) - 1).alias("df"),
    )


def gtest_dataset(df: DataFrame, a: str, b: str) -> DataFrame:
    """gtestDataSet (GTestDataSetEvaluator → Commons Math
    GTest.gDataSetsComparison): G = 2·[Σ o·ln o − Σ row·ln row
    − Σ col·ln col + N·ln N] over the 2×k table of the two count
    columns; df = k−1. Pure logs and sums — SQL-mirrorable."""
    oa = F.col(a).cast("double")
    ob = F.col(b).cast("double")
    xlogx = lambda c: F.when(c > 0, c * F.log(c)).otherwise(0.0)  # noqa: E731
    cell = df.agg(
        F.sum(xlogx(oa) + xlogx(ob)).alias("s_cell"),
        F.sum(xlogx(oa + ob)).alias("s_row"),
        F.sum(oa).alias("n1"),
        F.sum(ob).alias("n2"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    n = F.col("n1") + F.col("n2")
    g = 2.0 * (
        F.col("s_cell")
        - F.col("s_row")
        - (xlogx(F.col("n1")) + xlogx(F.col("n2")))
        + xlogx(n)
    )
    return cell.select(g.alias("g_stat"), (F.col("k") - 1).alias("df"))


def moving_mad(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    value: str,
    window: int,
    out_col: str = "moving_mad",
) -> DataFrame:
    """movingMAD (MovingMADEvaluator): mean absolute deviation from the
    frame mean over a trailing row window — the reference's definition
    is the MEAN deviation (Commons Math DescriptiveStatistics-based),
    not the median-of-deviations, and it only emits once the slider
    holds a full window — partial frames yield NULL here to match."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order)
        .rowsBetween(-(window - 1), 0)
    )
    v = F.col(value).cast("double")
    mean = F.avg(v).over(w)
    arr = F.collect_list(v).over(w)
    dev = F.aggregate(
        F.transform(arr, lambda x: F.abs(x - mean)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size(arr)
    full = F.size(arr) >= window
    return df.withColumn(out_col, F.when(full, dev))


def pair_sort(a: Column, b: Column) -> Column:
    """pairSort (PairSortEvaluator): sort two parallel numeric arrays by
    the first; returns struct(x, y) of the re-ordered arrays."""
    zipped = F.array_sort(F.arrays_zip(a.alias("x"), b.alias("y")))
    return F.struct(
        F.transform(zipped, lambda s: s.getField("x")).alias("x"),
        F.transform(zipped, lambda s: s.getField("y")).alias("y"),
    )


def outliers(
    df: DataFrame, value: str, low: float = 0.01, high: float = 0.99,
    scale: int = 2,
) -> DataFrame:
    """outliers (OutliersEvaluator): fit a normal to ``value`` and keep
    rows whose CDF falls below ``low`` or above ``high``, with the
    cumulative probability attached (the reference's contract: filter a
    tuple stream by distribution tail probability)."""
    fit = normal_fit(df, value, scale=scale)
    joined = df.crossJoin(F.broadcast(fit))
    cdf = norm_cdf(F.col(value).cast("double"), F.col("mu"), F.col("sigma"))
    return (
        joined.withColumn("cum_prob", cdf)
        .filter((F.col("cum_prob") < low) | (F.col("cum_prob") > high))
        .drop("mu", "sigma")
    )


def enumerated_pmf(k: Column, values: list, probs: list[float]) -> Column:
    """enumeratedDistribution pmf over an explicit (value, prob) table."""
    expr = F.lit(0.0)
    for v, p in zip(values, probs):
        expr = F.when(k == F.lit(v), F.lit(float(p))).otherwise(expr)
    return expr


def constant_pdf(x: Column, c: float) -> Column:
    """constantDistribution: a point mass at c (pmf form)."""
    return F.when(x.cast("double") == F.lit(float(c)), F.lit(1.0)).otherwise(0.0)


def constant_cdf(x: Column, c: float) -> Column:
    return F.when(x.cast("double") >= F.lit(float(c)), F.lit(1.0)).otherwise(0.0)
