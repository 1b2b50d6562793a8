"""Stat-DSL analog: the reference's sketch/stats surface as Spark aggregates.

The reference parses a stats DSL string ("Count();MinMax(a);Histogram(b,...)",
``geomesa-utils/.../stats/StatParser.scala:93-216``) into mergeable sketches
computed server-side (``iterators/StatsScan.scala``). Spark's partial+final
aggregation IS that architecture, so each stat maps to a built-in aggregate:

| reference stat (file) | function: Spark mapping |
|---|---|
| Count() (Stat.scala) | row_count: count(*) |
| MinMax(a) (MinMax.scala) | minmax: min, max and the HLL cardinality MinMax carries (approx_count_distinct, HLL++) |
| Enumeration(a) (EnumerationStat) | enumeration: groupBy(a).count() |
| TopK(a) (TopK.scala) | top_k: enumeration + row_number <= k |
| Histogram(a,n,lo,hi) (Histogram.scala) | histogram: clamped floor((a-lo)/w) bucket + groupBy |
| Frequency(a) (Frequency.scala, CMS) | frequency: enumeration's exact counts (documented substitution: Spark's shuffle makes exact counts cheaper than CMS maintenance; approx_count_distinct covers the sketched-cardinality use) |
| DescriptiveStats(a) (DescriptiveStats.scala) | descriptive: count/min/max/avg/var_samp/stddev/skewness/kurtosis |
| Z3Histogram(...) (Z3Histogram.scala) | z3_histogram: (epoch bin, cell) counts |
| GroupBy(a, stat) (GroupBy.scala) | the stat's function with ``a`` appended to ``group_cols`` |
| IteratorStackCount | iterator_stack_count: n/a (no iterators); distinct partitions holding rows |

``run_stats`` parses the DSL and dispatches each term to the function in
its row, so the DSL and the Python API share one body per stat.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def row_count(df: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Count() analog: -> (*group_cols, cnt)."""
    return df.groupBy(*group_cols).agg(F.count("*").alias("cnt"))


def histogram(
    df: DataFrame, col: str, bins: int, lo: float, hi: float,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """-> (*group_cols, bucket, n) for ``bins`` equal buckets over [lo, hi);
    values at/above ``hi`` clamp into the last bucket, below ``lo`` into the
    first — matching the reference's BinnedArray index clamping
    (Histogram.scala)."""
    w = (hi - lo) / bins
    bucket = F.least(
        F.greatest(F.floor((F.col(col) - lo) / w).cast("long"), F.lit(0)),
        F.lit(bins - 1),
    )
    return df.groupBy(*group_cols, bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )


def top_k(df: DataFrame, col: str, k: int, group_cols: Sequence[str] = ()) -> DataFrame:
    """-> (*group_cols, value, n, rnk): exact top-k by frequency per group,
    deterministic tiebreak by value (TopK.scala's StreamSummary is
    approximate; exact groupBy is the idiomatic Spark equivalent and
    strictly stronger)."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    return (
        enumeration(df, col, group_cols)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def enumeration(df: DataFrame, col: str, group_cols: Sequence[str] = ()) -> DataFrame:
    """UniqueProcess analog: -> (*group_cols, value, n), distinct values
    with counts."""
    return df.groupBy(*group_cols, F.col(col).alias("value")).agg(
        F.count("*").alias("n")
    )


def descriptive(df: DataFrame, col: str, group_cols: Sequence[str] = ()) -> DataFrame:
    """DescriptiveStats analog: one row of moments per group."""
    c = F.col(col)
    return df.groupBy(*group_cols).agg(
        F.count(c).alias("cnt"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        F.avg(c).alias("mean_v"),
        F.var_samp(c).alias("var_v"),
        F.stddev_samp(c).alias("std_v"),
        F.skewness(c).alias("skew_v"),
        F.kurtosis(c).alias("kurt_v"),
    )


def quantiles_by(
    df: DataFrame,
    key: str,
    col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """-> (key, n, q_<p> per prob): EXACT linearly-interpolated quantiles per
    group (Stat-DSL addendum — the reference's Histogram sketch answers
    quantile questions only to bin width). Spark's native ``percentile``
    aggregate computes the type-7 (numpy/DuckDB ``quantile_cont``)
    definition, partial-aggregated map-side like any other agg — one
    shuffle on the group key, no sort of the whole column. Exact per-group
    quantiles are the right call when groups are numerous and each fits an
    aggregation buffer; for a single giant group use
    ``percentile_approx`` (t-digest-style bounded memory) instead."""
    arr = ", ".join(f"{p}D" for p in probs)
    qs = F.expr(f"percentile({col}, array({arr}))")
    out = df.groupBy(F.col(key)).agg(
        F.count(F.col(col)).alias("n"), qs.alias("__qs")
    )
    return out.select(
        key,
        "n",
        *[
            F.round(F.col("__qs")[i], 6).alias(f"q_{str(p).replace('.', '_')}")
            for i, p in enumerate(probs)
        ],
    )


def minmax(df: DataFrame, col: str, group_cols: Sequence[str] = ()) -> DataFrame:
    """MinMaxProcess analog, incl. the HLL cardinality MinMax carries."""
    c = F.col(col)
    return df.groupBy(*group_cols).agg(
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        F.approx_count_distinct(c).alias("approx_distinct"),
    )


def frequency(df: DataFrame, col: str, group_cols: Sequence[str] = ()) -> DataFrame:
    """Frequency(a) analog (Frequency.scala:17-62 keeps a CountMinSketch).

    Documented substitution: Spark's shuffle makes EXACT per-value counts
    cheaper than maintaining mergeable CMS state, and the result is strictly
    stronger (no over-count bias). Same output shape as a CMS point query
    for every observed value: :func:`enumeration`'s."""
    return enumeration(df, col, group_cols)


def iterator_stack_count(df: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """IteratorStackCount analog: no server-side iterators exist, so report
    -> (*group_cols, cnt), the number of executor partitions that hold rows."""
    return (
        df.select(*group_cols, F.spark_partition_id().alias("pid"))
        .groupBy(*group_cols)
        .agg(F.countDistinct("pid").alias("cnt"))
    )


def z3_histogram(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    period: str = "week",
    res: int = 4,
) -> DataFrame:
    """Z3Histogram analog (stats/Z3Histogram.scala): counts per
    (epoch time bin, coarse z cell) — the selectivity surface the reference's
    cost estimator reads (StatsBasedEstimator.scala:49-128)."""
    from .spatial_join import add_cell_column

    secs = {"day": 86400, "week": 7 * 86400}[period]
    return (
        add_cell_column(df, res, lon, lat, out="cell")
        .select(
            F.expr(
                f"cast(floor(cast(cast({ts} as timestamp) as long) / {secs}) as bigint)"
            ).alias("time_bin"),
            "cell",
        )
        .groupBy("time_bin", "cell")
        .agg(F.count("*").alias("n"))
    )


_STAT_RE = re.compile(r"(\w+)\(([^)]*)\)")


def _eval_stat(df: DataFrame, part: str, group_cols: list[str]) -> DataFrame:
    """Evaluate one stat term, optionally nested under GroupBy columns.

    Any stat nests (GroupBy.scala supports arbitrary nested stats, incl.
    GroupBy(GroupBy(...)) — :36-40): grouping columns accumulate and the
    leaf stat's function runs with them as ``group_cols``.
    """
    if part.lower().startswith("groupby("):
        inner = part[len("groupby(") : -1]
        gcol, sub = inner.split(",", 1)
        return _eval_stat(df, sub.strip(), group_cols + [gcol.strip()])

    m = _STAT_RE.match(part)
    if not m:
        raise ValueError(f"bad stat spec: {part}")
    name = m.group(1)
    args = [a.strip() for a in m.group(2).split(",") if a.strip()]

    if name == "Count":
        return row_count(df, group_cols)
    if name == "MinMax":
        return minmax(df, args[0], group_cols)
    if name == "DescriptiveStats":
        return descriptive(df, args[0], group_cols)
    if name == "Histogram":
        bins, lo, hi = int(args[1]), float(args[2]), float(args[3])
        return histogram(df, args[0], bins, lo, hi, group_cols)
    if name in ("Enumeration", "Z3Frequency"):
        return enumeration(df, args[0], group_cols)
    if name == "Frequency":
        return frequency(df, args[0], group_cols)
    if name == "TopK":
        return top_k(df, args[0], int(args[1]), group_cols)
    if name == "Z3Histogram":
        if group_cols:
            raise ValueError("GroupBy(Z3Histogram) not supported")
        return z3_histogram(
            df, *(args[:3] or ["lon", "lat", "ts"]),
            period=args[3] if len(args) > 3 else "week",
            res=int(args[4]) if len(args) > 4 else 4,
        )
    if name == "IteratorStackCount":
        return iterator_stack_count(df, group_cols)
    raise ValueError(f"unknown stat: {name}")


def run_stats(df: DataFrame, spec: str) -> dict[str, DataFrame]:
    """StatsProcess analog: evaluate a semicolon-joined stat spec string.

    Grammar (StatParser.scala:93-216 subset): ``Count()``, ``MinMax(col)``,
    ``Histogram(col,bins,lo,hi)``, ``TopK(col,k)``, ``Enumeration(col)``,
    ``Frequency(col)``, ``DescriptiveStats(col)``, ``Z3Histogram(...)``,
    and ``GroupBy(col, <any stat>)`` with arbitrary nesting
    (``GroupBy(a, GroupBy(b, TopK(c,3)))``), mirroring GroupBy.scala's
    nested-stat support.
    """
    out: dict[str, DataFrame] = {}
    for part in spec.split(";"):
        part = part.strip()
        if part:
            out[part] = _eval_stat(df, part, [])
    return out
