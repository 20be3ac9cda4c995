"""Scalar / aggregate metric operators.

Spark-first re-expression of the aggregate queries in
/root/reference/src/datajudge/db_access.py (row counts :740-756, min/max
:789-800, mean :803-809, percentile :812-857, lengths :860-875, fraction
between :878-903, missing fraction :967-986, date span :224-299, date growth
:302-313).

Every operator returns ``(value, [DataFrame, ...])`` — the DataFrames are the
lazy plans that produced the value, rendered into failure messages only when a
constraint fails (see ``plans.py``). Only O(1) values cross the driver
boundary; all O(rows) work stays on executors inside whole-stage codegen.

Scale notes (100 TB design):
- counts/min/max/avg/length extremes are single-pass partial aggregations —
  Catalyst plans map-side partial + final agg, no full shuffle.
- ``get_row_count(row_limit=n)`` uses ``df.limit(n)`` so the scan
  short-circuits (LocalLimit) instead of counting 100 TB to answer "are there
  at least n rows" (reference rationale: constraints/nrows.py:41-48).
- the exact percentile avoids a global row_number window (single-partition
  hazard, reference db_access.py:821-825): one range-bucketed engine
  (``_exact_percentiles``) aggregates only the target buckets to their
  distinct-value histogram, then takes a cumulative sum over values —
  identical result, bounded state.
"""

from __future__ import annotations

import functools
import math
from decimal import Decimal
from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..condition import Condition, merge_conditions
from ..reference import DataReference
from ._order import _order_proxy_expr

_Plans = list[DataFrame]


def get_row_count(
    spark: SparkSession, ref: DataReference, row_limit: int | None = None
) -> tuple[int, _Plans]:
    """Number of rows, optionally capped at ``row_limit``
    (reference db_access.py:740-756)."""
    selection = ref.get_selection(spark)
    if row_limit:
        selection = selection.limit(row_limit)
    return selection.count(), [selection]


def _get_column_agg(
    spark: SparkSession, ref: DataReference, agg_col
) -> tuple[object, _Plans]:
    """Single-scalar aggregate over the ref's only column
    (reference get_column, db_access.py:759-786)."""
    column = ref.get_column(spark)
    selection = ref.get_selection(spark)
    agg_df = selection.select(agg_col(F.col(column)).alias("value"))
    row = agg_df.first()
    return (row["value"] if row is not None else None), [agg_df]


def get_min(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _get_column_agg(spark, ref, F.min)


def get_max(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _get_column_agg(spark, ref, F.max)


def get_mean(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    """``avg(cast(col AS double))`` (reference casts to DECIMAL,
    db_access.py:803-809; we document double precision — Spark's avg over
    integers is already exact in double for < 2^53 sums)."""
    value, plans = _get_column_agg(
        spark, ref, lambda c: F.avg(c.cast("double"))
    )
    return (float(value) if value is not None else None), plans


def get_min_length(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _get_column_agg(spark, ref, lambda c: F.min(F.length(c)))


def get_max_length(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _get_column_agg(spark, ref, lambda c: F.max(F.length(c)))


def get_fraction_between(
    spark: SparkSession,
    ref: DataReference,
    lower_bound: str | float,
    upper_bound: str | float,
) -> tuple[float | None, _Plans]:
    """Fraction of rows with ``lower <= col <= upper``
    (reference db_access.py:878-903 runs two counts; we fuse them into ONE
    scan: conditional aggregation avoids the second pass over 100 TB)."""
    column = ref.get_column(spark)
    between = Condition(
        conditions=[
            Condition(raw_string=f"{column} >= {lower_bound}"),
            Condition(raw_string=f"{column} <= {upper_bound}"),
        ],
        reduction_operator="and",
    )
    selection = ref.get_selection(spark)
    agg_df = selection.select(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(between.to_column(), 1)).alias("n_filtered"),
    )
    row = agg_df.first()
    n_all = row["n_all"] if row is not None else 0
    n_filtered = row["n_filtered"] if row is not None else 0
    if n_all == 0:
        return None, [agg_df]
    return n_filtered / n_all, [agg_df]


def get_missing_fraction(
    spark: SparkSession, ref: DataReference
) -> tuple[float, _Plans]:
    """NULL fraction of the ref's column, one scan
    (reference db_access.py:967-986 uses two counts)."""
    column = ref.get_column(spark)
    selection = ref.get_selection(spark)
    agg_df = selection.select(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col(column).isNull(), 1)).alias("n_missing"),
    )
    row = agg_df.first()
    if row is None or row["n_total"] == 0:
        return 0, [agg_df]
    return row["n_missing"] / row["n_total"], [agg_df]


#: Range-bucket count per level of the exact-percentile engine.
PERCENTILE_BUCKETS = 4096

#: Refine the target range-bucket while it still holds more rows than
#: this — the bound on what the final single-partition cumulative
#: window is ever asked to sort.
PERCENTILE_REFINE_ROWS = 65536


def _fraction(percentage: float) -> Fraction:
    """``percentage`` % as an exact rational (Fraction parses the decimal
    string exactly), so every boundary test below is integer arithmetic:
    a double ``percentage * total`` degrades past 2^53 and can select an
    off-by-one value at an exact boundary."""
    return Fraction(str(percentage)) / 100


def _exact_percentiles(df, column: str, percentages, weight_column=None):
    """Exact (weighted) percentiles of ``column`` as ONE row with a
    ``p{pct:g}`` column per target (``.`` spelled ``_``: ``p50``,
    ``p99_9``) — the engine behind every global percentile operator in
    this module.

    Semantics (reference db_access.py:812-857): the smallest value v such
    that the rows with value <= v carry at least ``percentage`` % of the
    total mass.  A row's mass is 1, or its ``weight_column`` value; weights
    must be non-negative integers (counts, cents, token counts) so every
    cumulative sum is exact — a negative weight raises, since it would
    break the monotone cumulative and silently return a wrong value.
    ``percentile_approx`` is deliberately NOT used (breaks exact
    semantics, SURVEY §7.3.1).

    A naive construction sorts ALL (distinct) values under one global
    window — a single-partition bottleneck on near-unique columns
    (SURVEY §4.4).  Instead, fully-parallel passes:

    1. a stats probe: the range of a MONOTONE double proxy of the value
       (:func:`_order_proxy_expr`) and the total mass;
    2. one range-bucket histogram of rows and mass per
       ``PERCENTILE_BUCKETS`` equal proxy ranges, shared by all targets;
       a driver walk over it locates each target's bucket;
    3. refinement, only for a target bucket holding more than
       ``PERCENTILE_REFINE_ROWS`` rows: re-bucket it over its own proxy
       range, one range probe and one histogram probe per level.  On
       heavy-tailed domains (pairwise slopes, deviations) the
       outlier-stretched range puts nearly all mass in one linear bucket
       (measured: 1.28M of theil_sen's 2.9M pair slopes in a single
       bucket), which the final window would otherwise sort on ONE task;
    4. one filtered histogram over the union of the target regions, under
       a cumulative window partitioned by region.

    Bucketing partitions the sorted domain, it does not approximate:
    values whose proxies tie share a bucket, and the final window orders
    by the TRUE value, so the result is identical to the naive plan.
    Refinement depends only on a bucket's row count, and the probes are
    memoised per bucket, so two targets' regions are either one region
    or disjoint.  With no proxy (binary, boolean) or a degenerate proxy
    range — one distinct value, distinct values that round to one double
    (bigints past 2^53, wide decimals, strings identical through the
    proxy's bytes), or a non-finite range — the region stays whole: the
    distinct-value histogram under one window.

    Scans: 3 for any number of targets (stats, bucket histogram, final
    pass), plus two probes (range, histogram) per refinement level when
    a target bucket exceeds ``PERCENTILE_REFINE_ROWS``; a string column
    adds the proxy's min/max probe.

    Every "have we reached the percentile" test is the ONE exact integer
    form ``cum * 100 * p_den >= p_num * total`` (``percentage`` =
    p_num/p_den, :func:`_fraction`), solved once on the driver for the
    smallest passing ``cum``: the bucket walk and the final window compare
    against the same integer, so they never disagree at a boundary.
    """
    from ..pipeline._util import materialize_once, spread

    if not percentages:
        raise ValueError("At least one percentage is required.")
    cols, keep = [F.col(column).alias("value")], F.col(column).isNotNull()
    mass = F.lit(1).alias("__m")
    if weight_column is not None:
        keep &= F.col(weight_column).isNotNull()
        cols.append(F.col(weight_column).cast("decimal(38,0)").alias("__m"))
        mass = "__m"
    # Every probe and the final pass read ONE persisted projection instead
    # of re-running the upstream derivation / re-reading the source
    # (callers like mad_outliers and theil_sen pay this pattern twice per
    # call — measured seconds of the build).  The returned plan reads it
    # lazily, so it stays cached (an identical input reuses the entry).
    # spread before persisting: the cache keeps its build partitioning,
    # and a single-file scan would otherwise pin every pass to the scan's
    # 1-3 tasks.  No-op at real corpus scale.
    non_null = materialize_once(spread(df.where(keep).select(*cols)))
    proxy = _order_proxy_expr(non_null, "value")
    proj = non_null.select(
        "value", mass, (F.lit(0.0) if proxy is None else proxy).alias("__pv")
    )
    stats = proj.agg(
        F.min("__pv").alias("lo"),
        F.max("__pv").alias("hi"),
        F.sum("__m").alias("total"),
        F.min("__m").alias("mmin"),
    ).first()
    if not stats["total"]:  # no rows, or zero total weight
        what = "Weighted percentile" if weight_column else "Percentile selection"
        raise ValueError(f"{what} could not be fetched.")
    if stats["mmin"] < 0:
        raise ValueError(
            "Weighted percentile requires non-negative weights; "
            f"min({weight_column}) = {stats['mmin']}."
        )
    total = int(stats["total"])

    # A region is a range of the sorted domain, named by the path of
    # bucket ids that leads to it from the root (the whole domain).
    @functools.cache
    def _bounds(path):
        if not path:
            return stats["lo"], stats["hi"]
        return tuple(
            proj.where(_region(path)).agg(F.min("__pv"), F.max("__pv")).first()
        )

    @functools.cache
    def _bucket(path):
        lo, hi = _bounds(path)
        return F.least(
            F.floor((F.col("__pv") - lo) / (hi - lo) * PERCENTILE_BUCKETS),
            F.lit(PERCENTILE_BUCKETS - 1),
        ).cast("int")

    @functools.cache
    def _region(path):
        if not path:
            return F.lit(True)
        return _region(path[:-1]) & (_bucket(path[:-1]) == path[-1])

    @functools.cache
    def _histogram(path):
        """(bucket id, rows, mass) of a region's sub-buckets, in order."""
        return sorted(
            proj.where(_region(path))
            .groupBy(_bucket(path).alias("b"))
            .agg(F.count(F.lit(1)), F.sum("__m"))
            .collect()
        )

    def _locate(need: int):
        """(region path, mass before the region) of the target whose
        smallest passing cumulative mass is ``need``."""
        path, before = (), 0
        while True:
            lo, hi = _bounds(path)
            if not 0 < hi - lo < math.inf:
                # one proxy value (or a non-finite range): nothing to split
                return path, before
            for b, b_rows, b_mass in _histogram(path):
                if before + b_mass >= need:
                    break
                before += b_mass
            else:  # percentage > 100: the last bucket, which never passes
                before -= b_mass
            path += (b,)
            if b_rows <= PERCENTILE_REFINE_ROWS:
                return path, before

    targets = []
    for p in percentages:
        need = math.ceil(_fraction(p) * total)
        path, before = _locate(need)
        targets.append((p, path, need - before))
    regions = sorted({path for _, path, _ in targets})
    region = F.when(_region(regions[0]), 0)
    for i, path in enumerate(regions[1:], 1):
        region = region.when(_region(path), i)
    hist = (
        proj.select(region.alias("__b"), "value", "__m")
        .where(F.col("__b").isNotNull())
        .groupBy("__b", "value")
        .agg(F.sum("__m").alias("mass"))
    )
    # one region needs no partition key: hashing one key would still sort
    # on one task, one exchange later
    w = (
        (Window.partitionBy("__b") if len(regions) > 1 else Window)
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select("__b", "value", F.sum("mass").over(w).alias("cum"))
    # one aggregate emits every target: a conditional min per target over
    # its own region, against its in-region share of the threshold
    return cum.agg(
        *[
            F.min(
                F.when(
                    (F.col("__b") == regions.index(path))
                    & (F.col("cum") >= F.lit(Decimal(need_in_region))),
                    F.col("value"),
                )
            ).alias(f"p{p:g}".replace(".", "_"))
            for p, path, need_in_region in targets
        ]
    )


def exact_percentile_df(df, column: str, percentage: float):
    """Exact percentile as a 1-row ``value`` DataFrame, computed scale-out
    (see :func:`_exact_percentiles` for semantics and plan)."""
    return _exact_percentiles(df, column, [percentage]).toDF("value")


def exact_percentiles_df(df, column: str, percentages: list[float]):
    """Several exact percentiles from ONE shared histogram pass, one
    ``p{pct:g}`` column each — the monitoring use case, p50/p90/p99 bands
    in one pass, where repeated single calls would pay the probes once
    each (see :func:`_exact_percentiles`)."""
    return _exact_percentiles(df, column, percentages)


def get_percentile(
    spark: SparkSession, ref: DataReference, percentage: float
) -> tuple[int | float, _Plans]:
    """Exact percentile metric (see :func:`exact_percentile_df`)."""
    column = ref.get_column(spark)
    selection = ref.get_selection(spark)
    candidates = exact_percentile_df(selection, column, percentage)
    value = candidates.first()["value"]
    if value is None:
        raise ValueError("Percentile selection could not be fetched.")
    # a Python int is exact; float() would round bigints past 2^53
    return (value if isinstance(value, int) else float(value)), [candidates]


def get_date_span(
    spark: SparkSession, ref: DataReference, date_column_name: str
) -> tuple[float, _Plans]:
    """``datediff(day, min(col), max(col))`` as float — the reference needs six
    dialect variants for this (db_access.py:224-299); Spark needs one."""
    selection = ref.get_selection(spark)
    agg_df = selection.select(
        F.datediff(
            F.max(F.col(date_column_name)).cast("date"),
            F.min(F.col(date_column_name)).cast("date"),
        ).alias("span")
    )
    row = agg_df.first()
    if row is None or row["span"] is None:
        raise ValueError("Date span could not be fetched.")
    span = float(row["span"])
    if span < 0:
        raise ValueError(f"Date span has negative value: {span}. It must be positive.")
    return span, [agg_df]


def get_date_growth_rate(
    spark: SparkSession,
    ref: DataReference,
    ref2: DataReference,
    date_column: str,
    date_column2: str,
) -> tuple[float, _Plans]:
    """date_span(ref)/date_span(ref2) - 1 (reference db_access.py:302-313)."""
    span1, plans1 = get_date_span(spark, ref, date_column)
    span2, plans2 = get_date_span(spark, ref2, date_column2)
    if span2 == 0:
        raise ValueError("Reference date span is not allowed to be zero.")
    return span1 / span2 - 1, [*plans1, *plans2]


def exact_weighted_percentile_df(
    df, column: str, weight_column: str, percentage: float
):
    """Exact WEIGHTED percentile as a 1-row ``value`` DataFrame (extension;
    the reference's percentile is unweighted, db_access.py:812-857): the
    smallest value v such that the cumulative weight of rows with value
    <= v reaches ``percentage`` % of the total weight.  With all weights 1
    this is exactly :func:`exact_percentile_df`.  Weights must be
    non-negative integers; see :func:`_exact_percentiles`."""
    return _exact_percentiles(
        df, column, [percentage], weight_column
    ).toDF("value")


def grouped_exact_percentile(
    df: DataFrame, group_col: str, value_col: str, percentage: float
) -> DataFrame:
    """Exact per-group percentile, one ``(grp, value)`` row per group —
    :func:`grouped_exact_percentiles` with one target."""
    return grouped_exact_percentiles(
        df, group_col, value_col, [percentage]
    ).toDF("grp", "value")


def grouped_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: list,
) -> DataFrame:
    """Several exact per-group percentiles in ONE pass: one row per
    group with a ``p{n}`` column per requested percentage (smallest v
    such that at least n% of the group's non-null values are <= v) —
    the grouped form of :func:`exact_percentiles_df`.

    The cumulative window is PARTITIONED BY GROUP over each group's
    distinct-VALUE histogram — parallel across groups, and within a
    group bounded by |distinct values| (best on bounded domains:
    quantities, ratings, day counts; a near-unique column concentrated
    in ONE group degenerates to that group's sort, at which point the
    range-bucketed single-group engine is the right tool).  Any number
    of percentiles shares that window and ONE aggregate — never a pass
    per quantile.  The acceptance test is the engine's exact integer
    form ``cum * 100 * p_den >= p_num * total``, here per group.
    """
    if not percentages:
        raise ValueError("percentages must be non-empty")
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "grp",
        "v",
        F.sum("cnt").over(w_cum).cast("decimal(38,0)").alias("cum"),
        F.sum("cnt").over(w_all).cast("decimal(38,0)").alias("total"),
    )

    def _reached(p):
        frac = _fraction(p)
        return F.col("cum") * F.lit(Decimal(frac.denominator)) >= (
            F.col("total") * F.lit(Decimal(frac.numerator))
        )

    def _alias(p):
        return f"p{int(p)}" if float(p).is_integer() else f"p{p}".replace(".", "_")
    aggs = [
        F.min(F.when(_reached(p), F.col("v"))).alias(_alias(p))
        for p in percentages
    ]
    return cum.groupBy("grp").agg(*aggs)


def winsorized_stats(
    df, column: str, p_lo: float = 1.0, p_hi: float = 99.0
):
    """Winsorized digest of an INTEGER-valued column: one row
    ``(n, lo_cut, hi_cut, n_clipped_lo, n_clipped_hi, winsorized_mean)``
    where values below the exact ``p_lo`` percentile clip up to it,
    values above the exact ``p_hi`` percentile clip down, and the mean
    is taken over the clipped values — the robust location estimate a
    monitoring gate wants when a fat tail would drag the plain mean
    (the trimming companion to the MAD outlier gates).

    Exactness/scale design:

    - both cut points come from ONE shared range-bucketed histogram
      pass (:func:`exact_percentiles_df` — reference percentile
      semantics, no global sort at any cardinality);
    - the cuts broadcast into a single aggregate over the fact scan —
      two scans total regardless of table size, no window over rows;
    - the clipped mean divides a DECIMAL(38,0)-exact integer sum by the
      exact count, so it is partition-order independent (a double
      running mean is not); input must be integer-valued (cents, ids,
      counts) — the decimal cast truncates fractions.
    """
    if not (0.0 < p_lo < p_hi < 100.0):
        raise ValueError("need 0 < p_lo < p_hi < 100")

    cuts = exact_percentiles_df(df, column, [p_lo, p_hi]).toDF("__lo", "__hi")
    x = F.col(column)
    clipped = F.least(F.greatest(x, F.col("__lo")), F.col("__hi"))
    return (
        df.where(x.isNotNull())
        .crossJoin(F.broadcast(cuts))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("__lo").alias("lo_cut"),
            F.first("__hi").alias("hi_cut"),
            F.sum(F.when(x < F.col("__lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum(F.when(x > F.col("__hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_hi"),
            F.round(
                F.sum(clipped.cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("winsorized_mean"),
        )
    )
