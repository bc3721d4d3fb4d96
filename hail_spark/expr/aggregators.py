"""Aggregator library — ``hl.agg.*`` parity as Spark Column builders.

Parity target: hail/python/hail/expr/aggregators/aggregators.py (2108 LoC)
and the staged Scala implementations in hail/hail/src/is/hail/expr/ir/agg/.
Every aggregator here is a plain Spark aggregate Column, so it executes as
a hash aggregate with map-side partial combine — the same partial/serialize/
tree-combine/finalize shape Hail stages by hand (Extract.scala:484).

Missingness: Hail aggregators skip missing values (strict seqOp); Spark
builtin aggregates also skip NULLs, so semantics match without wrappers.
NaN: Hail min/max propagate NaN; Spark's min/max order NaN largest — use
``min_nan``/``max_nan`` where NaN-propagation parity matters.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "count", "count_where", "sum", "sum_exact", "product", "min", "max",
    "min_nan", "max_nan", "mean", "stats", "collect", "collect_as_set",
    "take", "take_by", "counter", "any", "all", "fraction", "array_sum",
    "approx_quantiles", "approx_median", "approx_cdf", "hist", "corr",
    "call_stats", "linreg_xtx_xty",
]


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def count() -> Column:
    return F.count(F.lit(1)).cast("bigint")


def count_where(pred) -> Column:
    return F.count(F.when(_c(pred), 1)).cast("bigint")


def sum(expr) -> Column:
    return F.sum(_c(expr))


def sum_exact(expr, scale: int = 6) -> Column:
    """Order-independent float sum: accumulate in DECIMAL(38,scale) then
    cast back to double. At 100 TB a double sum's value depends on the
    reduction tree; decimal accumulation is exact and deterministic."""
    return F.sum(_c(expr).cast(f"decimal(38,{scale})")).cast("double")


def product(expr) -> Column:
    """Product of non-missing values (ref aggregators.py:1059). No Spark
    builtin: exp(sum(ln|x|)) with sign/zero bookkeeping."""
    x = _c(expr)
    n_zero = F.count(F.when(x == 0, 1))
    n_neg = F.count(F.when(x < 0, 1))
    log_sum = F.sum(F.when(x != 0, F.log(F.abs(x))))
    mag = F.exp(log_sum)
    signed = F.when(n_neg % 2 == 1, -mag).otherwise(mag)
    return F.when(n_zero > 0, F.lit(0.0)).otherwise(signed)


def min(expr) -> Column:
    return F.min(_c(expr))


def max(expr) -> Column:
    return F.max(_c(expr))


def min_nan(expr) -> Column:
    """Hail min: ignores missing, PROPAGATES NaN (ref §2.4 nanmin note)."""
    x = _c(expr)
    return F.when(F.max(F.isnan(x)), F.lit(float("nan"))).otherwise(F.min(x))


def max_nan(expr) -> Column:
    x = _c(expr)
    return F.when(F.max(F.isnan(x)), F.lit(float("nan"))).otherwise(F.max(x))


def mean(expr) -> Column:
    return F.avg(_c(expr))


def stats(expr) -> Column:
    """struct{mean, stdev, min, max, n, sum} (ref aggregators.py:999)."""
    x = _c(expr)
    return F.struct(
        F.avg(x).alias("mean"),
        F.stddev_pop(x).alias("stdev"),
        F.min(x).alias("min"),
        F.max(x).alias("max"),
        F.count(x).cast("bigint").alias("n"),
        F.sum(x).alias("sum"),
    )


def collect(expr) -> Column:
    return F.collect_list(_c(expr))


def collect_as_set(expr) -> Column:
    """Set = sorted distinct array (deterministic; ref §1.2 tset repr)."""
    return F.sort_array(F.collect_set(_c(expr)))


def take(expr, n: int) -> Column:
    return F.slice(F.collect_list(_c(expr)), 1, n)


def take_by(expr, key, n: int, ascending: bool = True) -> Column:
    """Top-n by key (ref TakeByAggregator.scala). Sorted collect + slice:
    the collect buffers the whole group, so this Column form is for
    modest group sizes; for hot keys at scale use the bounded
    window-rank plan in ``operators.topk.grouped_take_by`` (per-group
    state ≤ n after the rank filter)."""
    pair = F.struct(_c(key).alias("k"), _c(expr).alias("v"))
    arr = F.sort_array(F.collect_list(pair), asc=ascending)
    return F.slice(arr, 1, n).getField("v")


def counter(expr, weight=None, weight_dtype: str = "double") -> Column:
    """value → count map (ref aggregators.py:709), optionally summing
    ``weight`` instead of counting (ref implements that as
    group_by(expr, agg.sum(weight)), which PRESERVES integer weights
    as int64 — its docstring example shows {'F': 130}). Built as HOFs
    over the collected values; for large cardinality prefer a group_by
    rewrite (``Table.group_by(x).aggregate(n=agg.count())``).
    DEVIATIONS: (1) Spark maps cannot hold a null key, so missing
    values are dropped rather than counted under a None key as Hail
    does; (2) weighted sums default to double because the weight
    column's dtype is not statically known at Column-construction time
    — pass ``weight_dtype='bigint'`` for integer weights to get the
    reference's int64 maps."""
    x = _c(expr)
    if weight is None:
        arr = F.collect_list(x)
        keys = F.array_sort(F.array_distinct(arr))
        return F.map_from_arrays(
            keys,
            F.transform(
                keys,
                lambda v: F.size(F.filter(arr, lambda e: e.eqNullSafe(v))).cast("bigint"),
            ),
        )
    w = _c(weight)
    arr = F.collect_list(
        F.when(x.isNotNull() & w.isNotNull(), F.struct(x.alias("v"), w.alias("w")))
    )
    keys = F.array_sort(F.array_distinct(F.transform(arr, lambda s: s["v"])))
    zero = F.lit(0).cast(weight_dtype) if weight_dtype != "double" else F.lit(0.0)
    return F.map_from_arrays(
        keys,
        F.transform(
            keys,
            lambda v: F.aggregate(
                F.filter(arr, lambda s: s["v"].eqNullSafe(v)),
                zero,
                lambda acc, s: acc + s["w"].cast(weight_dtype),
            ),
        ),
    )


def any(pred) -> Column:
    return F.coalesce(F.bool_or(_c(pred)), F.lit(False))


def all(pred) -> Column:
    return F.coalesce(F.bool_and(_c(pred)), F.lit(True))


def fraction(pred) -> Column:
    """Fraction of (non-missing-pred) rows where pred holds
    (ref aggregators.py:1098)."""
    p = _c(pred)
    return F.avg(F.when(p, 1.0).when(~p, 0.0))


def array_sum_fixed(expr, length: int, cast: str | None = None) -> Column:
    """Elementwise sum of an array column of KNOWN length (ref
    aggregators.py:934 `hl.agg.array_sum`): compiles to ``length``
    independent native SUM buffers — bounded per-group state with
    map-side combine, unlike the collect_list fold in ``array_sum``
    (which buffers the whole group). Prefer this whenever the element
    count is known (embeddings, fixed-width signatures). ``cast``: an
    exact accumulation type (e.g. ``decimal(38,6)``) for
    order-independent float sums; result elements come back as double."""
    x = _c(expr)
    out = []
    for i in range(length):
        e = F.element_at(x, i + 1)
        if cast:
            s = F.sum(e.cast(cast)).cast("double")
        else:
            s = F.sum(e)
        out.append(s)
    return F.array(*out)


def array_sum(expr) -> Column:
    """Elementwise sum of array-typed column (ref aggregators.py:934).
    zip_with fold keeps it one pass, JVM-side.

    NOTE: the collect_list buffer is O(group size); for known-length
    arrays use ``array_sum_fixed`` (bounded state, map-side combine)."""
    x = _c(expr)
    # missing ELEMENTS are skipped like the reference's sum (a null
    # contributes 0; a position that is null in every row sums to 0)
    z = F.transform(x, lambda e: F.coalesce(e.cast("double"), F.lit(0.0)))
    return F.aggregate(
        F.collect_list(z),
        F.expr("cast(array() as array<double>)"),
        lambda acc, a: F.when(F.size(acc) == 0, a).otherwise(
            F.zip_with(acc, a, lambda l, r: l + r)
        ),
    )


def ndarray_sum(expr) -> Column:
    """Elementwise sum of ndarray-struct values (ref aggregators.py:972
    `hl.agg.ndarray_sum`): shapes must agree; result keeps the shape and
    sums data arrays. Same zip_with fold shape as array_sum."""
    x = _c(expr)
    datas = F.collect_list(x["data"])
    shape = F.first(x["shape"], ignorenulls=True)
    summed = F.aggregate(
        datas,
        F.expr("cast(array() as array<double>)"),
        lambda acc, a: F.when(F.size(acc) == 0, a.cast("array<double>")).otherwise(
            F.zip_with(acc, a, lambda l, r: l + r)
        ),
    )
    return F.struct(shape.alias("shape"), summed.alias("data"))


def approx_quantiles(expr, qs, accuracy: int = 10000) -> Column:
    """KLL-sketch analogue via Spark's GK percentile_approx
    (ref ApproxCDFAggregator.scala; matches within error bounds)."""
    return F.percentile_approx(_c(expr), qs, accuracy)


def approx_median(expr, accuracy: int = 10000) -> Column:
    return F.percentile_approx(_c(expr), 0.5, accuracy)


def approx_cdf(expr, k: int = 100, *, accuracy: int = 10000) -> Column:
    """hl.agg.approx_cdf result-STRUCT surface (ref
    ApproxCDFAggregator.scala / aggregators.py approx_cdf signature
    ``approx_cdf(expr, k=100)``): the reference's KLL sketch returns
    ``values`` (length m) with ``ranks`` one LONGER (length m+1) —
    ``ranks[i]`` ≈ #elements < values[i], ``ranks[i+1]`` ≈ #elements
    <= values[i], ranks[0] == 0 and ranks[-1] == n, and ``n`` is the
    count of non-null inputs. This reconstructs that contract from
    Spark's GK percentile_approx at k evenly spaced quantiles
    (i/k, i = 0..k-1) plus one count — within GK's error bounds rather
    than KLL's, but the same struct shape and CDF-monotonicity
    invariants, in one aggregation pass (two buffers)."""
    x = _c(expr)
    qs = [i / k for i in range(k)]
    vals = F.percentile_approx(x, qs, accuracy)
    n = F.count(x)
    ranks = F.transform(
        F.sequence(F.lit(0), F.lit(k)),
        lambda i: F.round(i.cast("double") / k * n).cast("bigint"),
    )
    return F.struct(vals.alias("values"), ranks.alias("ranks"), n.alias("n"))


def hist(expr, start: float, end: float, bins: int) -> Column:
    """Histogram (ref aggregators.py:1424): struct{bin_edges, bin_freq,
    n_smaller, n_larger}. One conditional SUM per bin — bins+2 fixed
    aggregation buffers with map-side partials, no per-group collect
    (the previous collect_list variant held the whole group in one
    buffer and re-scanned it per bin)."""
    x = _c(expr).cast("double")
    w = (end - start) / bins
    idx = F.floor((x - F.lit(start)) / F.lit(w)).cast("int")
    idx = F.when(x == F.lit(float(end)), bins - 1).otherwise(idx)
    # Spark orders NaN above every value (NaN > end is TRUE) — Hail's
    # hist drops NaN entirely, so exclude it from every bucket
    in_range = (x >= start) & (x <= end) & ~F.isnan(x)
    counts = F.array(
        *[
            F.coalesce(
                F.sum(F.when(in_range & (idx == i), 1)), F.lit(0)
            ).cast("bigint")
            for i in range(bins)
        ]
    )
    edges = F.array(*[F.lit(float(start + i * w)) for i in range(bins + 1)])
    return F.struct(
        edges.alias("bin_edges"),
        counts.alias("bin_freq"),
        F.count(F.when(x < start, 1)).alias("n_smaller"),
        F.count(F.when((x > end) & ~F.isnan(x), 1)).alias("n_larger"),
    )


def corr(x, y) -> Column:
    return F.corr(_c(x), _c(y))


def call_stats(gt, n_alleles: int = 2) -> Column:
    """Genotype call stats over int-encoded biallelic calls
    (0=ref/ref, 1=ref/alt, 2=alt/alt; ref CallStatsAggregator.scala,
    aggregators.py:1356): struct{AC, AF, AN, homozygote_count}."""
    g = _c(gt)
    an = (F.count(g) * 2).cast("int")
    ac1 = F.sum(g).cast("int")  # alt allele count for biallelic encoding
    ac0 = (an - ac1).cast("int")
    hom0 = F.count(F.when(g == 0, 1)).cast("int")
    hom1 = F.count(F.when(g == 2, 1)).cast("int")
    return F.struct(
        F.array(ac0, ac1).alias("AC"),
        # AN=0 (no calls) → missing AF, not an ANSI divide-by-zero
        F.array(ac0 / F.nullif(an, F.lit(0)), ac1 / F.nullif(an, F.lit(0))).alias("AF"),
        an.alias("AN"),
        F.array(hom0, hom1).alias("homozygote_count"),
    )


def inbreeding(gt, prior_af) -> Column:
    """Inbreeding coefficient F over int-encoded biallelic calls
    (ref hl.agg.inbreeding aggregators.py:1272,
    InbreedingAggregator StagedInbreedingAggregator.scala):
    struct{f_stat, n_called, expected_homs, observed_homs}.

    E[hom] = Σ over called gts of 1 - 2p(1-p); F = (obs - exp)/(n - exp).
    Pure Column expressions — one partial aggregate, no UDF."""
    g = _c(gt)
    p = _c(prior_af)
    called = g.isNotNull() & p.isNotNull()
    n_called = F.count(F.when(called, 1))
    exp_hom = F.sum(F.when(called, 1.0 - 2.0 * p * (1.0 - p)))
    obs_hom = F.count(F.when(called & ((g == 0) | (g == 2)), 1))
    return F.struct(
        (
            (obs_hom - exp_hom)
            / F.nullif(n_called.cast("double") - exp_hom, F.lit(0.0))
        ).alias("f_stat"),
        n_called.alias("n_called"),
        exp_hom.alias("expected_homs"),
        obs_hom.cast("bigint").alias("observed_homs"),
    )


def linreg_xtx_xty(y, xs) -> Column:
    """Accumulate X'X and X'y for a linear fit (ref
    LinearRegressionAggregator.scala); finalize driver-side with numpy."""
    yv = _c(y)
    xv = [_c(x) for x in xs]
    fields = []
    for i, xi in enumerate(xv):
        for j, xj in enumerate(xv):
            if j >= i:
                fields.append(F.sum(xi * xj).alias(f"xtx_{i}_{j}"))
        fields.append(F.sum(xi * yv).alias(f"xty_{i}"))
    fields.append(F.count(F.when(yv.isNotNull(), 1)).alias("n"))
    return F.struct(*fields)


def linreg(y, xs, nested_dim: int = 1) -> Column:
    """Full `hl.agg.linreg` result struct (ref aggregators.py:2103,
    LinearRegressionAggregator.scala): {beta, standard_error, t_stat,
    p_value, multiple_r_squared, adjusted_r_squared, f_stat,
    multiple_p_value, n}.

    Two-stage plan: sufficient statistics (XᵀX upper triangle, Xᵀy,
    yᵀy, Σy, n) accumulate as plain JVM sums with map-side combine;
    the O(k³) finalize runs once per GROUP in an Arrow-batched pandas
    UDF over the aggregated struct — k is the covariate count, so
    per-group work is trivial and nothing scales with rows. Rows with
    missing y or any missing x are excluded (Hail's contract)."""
    from pyspark.sql.functions import pandas_udf

    yv = _c(y)
    xv = [_c(x) for x in xs]
    k = len(xv)
    valid = yv.isNotNull()
    for xi in xv:
        valid = valid & xi.isNotNull()
    g = lambda e: F.sum(F.when(valid, e))  # noqa: E731
    fields = []
    for i in range(k):
        for j in range(i, k):
            fields.append(g(xv[i] * xv[j]).alias(f"xtx_{i}_{j}"))
        fields.append(g(xv[i] * yv).alias(f"xty_{i}"))
    fields.append(g(yv * yv).alias("yty"))
    fields.append(g(yv).alias("sum_y"))
    fields.append(F.count(F.when(valid, 1)).alias("n"))
    sums = F.struct(*fields)

    ret = (
        "struct<beta: array<double>, standard_error: array<double>, "
        "t_stat: array<double>, p_value: array<double>, "
        "multiple_standard_error: double, "
        "multiple_r_squared: double, adjusted_r_squared: double, "
        "f_stat: double, multiple_p_value: double, n: bigint>"
    )
    nd = nested_dim

    @pandas_udf(ret)
    def finalize(pdf):
        import pandas as pd

        from .stats import pF, pT

        null_row = {
            "beta": None, "standard_error": None, "t_stat": None,
            "p_value": None, "multiple_standard_error": None,
            "multiple_r_squared": None,
            "adjusted_r_squared": None, "f_stat": None,
            "multiple_p_value": None, "n": None,
        }
        out = []
        for _, r in pdf.iterrows():
            n = int(r["n"]) if r["n"] is not None else 0
            if n <= k:
                out.append(null_row)
                continue
            XtX = np.zeros((k, k))
            Xty = np.zeros(k)
            for i in range(k):
                for j in range(i, k):
                    XtX[i, j] = XtX[j, i] = r[f"xtx_{i}_{j}"]
                Xty[i] = r[f"xty_{i}"]
            try:
                XtX_inv = np.linalg.inv(XtX)
            except np.linalg.LinAlgError:
                out.append(null_row)
                continue
            beta = XtX_inv @ Xty
            sse = float(r["yty"]) - float(beta @ Xty)
            d = n - k
            sigma2 = sse / d
            se = np.sqrt(np.maximum(np.diag(XtX_inv) * sigma2, 0.0))
            with np.errstate(divide="ignore", invalid="ignore"):
                t = beta / se
            p = [float(2.0 * pT(-abs(float(ti)), d)) if np.isfinite(ti) else None for ti in t]
            ybar = float(r["sum_y"]) / n
            sst = float(r["yty"]) - n * ybar * ybar
            # R² vs the nested model spanned by the FIRST nested_dim
            # covariates (Hail: nested_dim=1 with intercept first ⇒
            # ordinary R² about the mean)
            r2 = 1.0 - sse / sst if sst > 0 else None
            k_extra = k - nd
            adj = (
                1.0 - (1.0 - r2) * (n - nd) / d if r2 is not None and d > 0 else None
            )
            if r2 is not None and k_extra > 0 and sse > 0:
                fstat = float((sst - sse) / k_extra / sigma2)
                fp = float(pF(fstat, k_extra, d, lower_tail=False))
            else:
                fstat, fp = None, None
            out.append(
                {
                    "beta": beta.tolist(),
                    "standard_error": se.tolist(),
                    "t_stat": [float(x) for x in t],
                    "p_value": p,
                    "multiple_standard_error": float(np.sqrt(sigma2)) if sigma2 >= 0 else None,
                    "multiple_r_squared": float(r2) if r2 is not None else None,
                    "adjusted_r_squared": float(adj) if adj is not None else None,
                    "f_stat": fstat,
                    "multiple_p_value": fp,
                    "n": n,
                }
            )
        return pd.DataFrame(out)

    return finalize(sums)


def reservoir_sample(expr, k: int, seed: int = 0) -> Column:
    """Uniform sample of k values per group (ref aggregators.py:1563,
    ReservoirSampleAggregator). Distributed-safe min-k-hash scheme:
    keep the k values whose salted hashes are smallest — equivalent to
    a uniform draw without replacement, deterministic, and combinable
    across partitions (min-k of a union = min-k of min-ks)."""
    v = _c(expr)
    tagged = F.struct(
        F.xxhash64(v.cast("string"), F.lit(seed)).alias("h"), v.alias("v")
    )
    topk = F.slice(F.array_sort(F.collect_list(tagged)), 1, k)
    return F.transform(topk, lambda s: s["v"])


def downsample_table(
    df,
    x,
    y,
    label=None,
    group_cols: tuple = (),
    n_divisions: int = 500,
):
    """Scale path for plot thinning (ref aggregators.py:1533
    DownsampleAggregator): two-level aggregation. Level 1 reduces to one
    representative per (group, grid cell) — a hash aggregate whose
    map-side combine keeps per-task state bounded by the n_divisions²
    grid, unlike a collect_list buffer that is O(group size). Level 2
    gathers the ≤ n_divisions² cell representatives per group into the
    result array. Returns one row per group with a ``points`` array of
    (x, y[, label]) structs."""
    from pyspark.sql import functions as F

    xv, yv = _c(x).cast("double"), _c(y).cast("double")
    df = df.where(xv.isNotNull() & yv.isNotNull())  # missing points are skipped
    gx = F.floor(xv * n_divisions).alias("__cx")
    gy = F.floor(yv * n_divisions).alias("__cy")
    firsts = [F.first(xv).alias("__x"), F.first(yv).alias("__y")]
    pt_fields = [F.col("__x").alias("x"), F.col("__y").alias("y")]
    if label is not None:
        firsts.append(F.first(_c(label)).alias("__l"))
        pt_fields.append(F.col("__l").alias("label"))
    cells = df.groupBy(*group_cols, gx, gy).agg(*firsts)
    return cells.groupBy(*group_cols).agg(
        F.collect_list(F.struct(*pt_fields)).alias("points")
    )


def downsample(x, y, label=None, n_divisions: int = 500) -> Column:
    """Plot-thinning aggregator (ref aggregators.py:1533,
    DownsampleAggregator): bucket points onto an n_divisions² grid and
    keep one representative per occupied cell — result size is bounded
    by the grid, not the data.

    NOTE: as a single aggregate expression this buffers the group's
    points before cell-deduplication (collect_list semantics); for
    grouped use at scale prefer ``downsample_table``, whose first-level
    hash aggregate keeps state bounded by the grid."""
    xv, yv = _c(x).cast("double"), _c(y).cast("double")
    cell = F.struct(
        F.floor(xv * n_divisions).alias("cx"), F.floor(yv * n_divisions).alias("cy")
    )
    pt = F.struct(cell.alias("c"), F.struct(xv.alias("x"), yv.alias("y")).alias("p"))
    per_cell = F.map_from_entries(F.collect_list(pt))  # last point per cell wins
    return F.map_values(per_cell)


def fold(expr, zero, combine) -> Column:
    """hl.agg.fold (aggregators.py:2081 / AggFold V:2741) for
    associative+commutative combiners: collect-free distributed fold =
    aggregate over collect_list is only correct for small groups, so
    this maps the common cases onto native aggregates when possible."""
    return F.aggregate(F.collect_list(_c(expr)), zero, combine)


def agg_filter(pred, expr) -> Column:
    """hl.agg.filter pre-transform (ref aggregators.py agg.filter):
    rows failing ``pred`` contribute missing, which every aggregator
    here skips — compose as ``agg.sum(agg_filter(p, x))``."""
    return F.when(F.coalesce(_c(pred), F.lit(False)), _c(expr))


def explode_sum(arr) -> Column:
    """hl.agg.explode(lambda e: hl.agg.sum(e), arr): sum of all array
    elements across the group — per-row HOF partial + one SUM buffer."""
    a = _c(arr)
    per_row = F.aggregate(
        F.filter(F.coalesce(a, F.array()), lambda v: v.isNotNull()),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )
    return F.sum(per_row)


def explode_count(arr) -> Column:
    """hl.agg.explode(count): total non-missing elements in the group."""
    a = _c(arr)
    return F.coalesce(
        F.sum(F.size(F.filter(F.coalesce(a, F.array()), lambda v: v.isNotNull()))),
        F.lit(0),
    ).cast("bigint")


def explode_collect(arr) -> Column:
    """hl.agg.explode(collect): flattened non-missing elements."""
    a = _c(arr)
    return F.flatten(
        F.collect_list(F.filter(F.coalesce(a, F.array()), lambda v: v.isNotNull()))
    )


def group_by(key, value, agg: str = "collect") -> Column:
    """hl.agg.group_by(key, <agg>(value)) (ref aggregators.py
    agg.group_by): key → aggregated-values map with agg one of
    'collect' | 'count' | 'sum' | 'mean'. Like counter, missing keys
    are dropped (Spark maps cannot hold null keys); missing values are
    skipped but still register their key."""
    k, v = _c(key), _c(value)
    arr = F.collect_list(
        F.when(k.isNotNull(), F.struct(k.alias("k"), v.alias("v")))
    )
    keys = F.array_sort(F.array_distinct(F.transform(arr, lambda s: s["k"])))

    def vals(kk):
        return F.transform(
            F.filter(arr, lambda s: (s["k"] == kk) & s["v"].isNotNull()),
            lambda s: s["v"],
        )

    if agg == "collect":
        body = vals
    elif agg == "count":
        body = lambda kk: F.size(vals(kk)).cast("bigint")  # noqa: E731
    elif agg == "sum":
        body = lambda kk: F.aggregate(  # noqa: E731
            vals(kk), F.lit(0.0), lambda acc, x: acc + x.cast("double")
        )
    elif agg == "mean":
        # a key can register with zero non-missing values (nulls keep the
        # key but are skipped) — mean of an empty group is missing, and
        # the bare division would raise ANSI DIVIDE_BY_ZERO
        body = lambda kk: F.when(  # noqa: E731
            F.size(vals(kk)) > 0,
            F.aggregate(vals(kk), F.lit(0.0), lambda acc, x: acc + x.cast("double"))
            / F.size(vals(kk)),
        )
    else:
        raise ValueError(f"group_by: unknown agg '{agg}'")
    return F.map_from_arrays(keys, F.transform(keys, body))


# ------------------------------------------------------------------ #
# namespace completion (ref aggregators/__init__.py __all__)
# ------------------------------------------------------------------ #
def explode_min(arr) -> Column:
    """min over exploded arrays: per-row array_min partial, global min."""
    return F.min(F.array_min(_c(arr)))


def explode_max(arr) -> Column:
    return F.max(F.array_max(_c(arr)))


def explode_mean(arr) -> Column:
    a = _c(arr)
    total = F.sum(
        F.aggregate(
            F.filter(a, lambda x: x.isNotNull()),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )
    )
    n = F.sum(F.size(F.filter(a, lambda x: x.isNotNull())))
    return F.when(n > 0, total / n)


def explode(f, arr, transform=None) -> Column:
    """``hl.agg.explode`` (ref aggregators.py:390): aggregate over the
    elements of ``arr`` across all rows.  ``f`` is one of this module's
    aggregators (sum / count / collect / collect_as_set / min / max /
    mean); an elementwise ``transform`` Column-function covers the
    reference's ``lambda elt: agg.sum(g(elt))`` idiom as
    ``explode(agg.sum, arr, transform=g)``.  Each form compiles to a
    per-row array partial + a plain hash aggregate — one pass, map-side
    combine, never a Generate."""
    a = _c(arr)
    if transform is not None:
        a = F.transform(a, transform)
    if f is sum:
        return explode_sum(a)
    if f is count:
        return explode_count(a)
    if f is collect:
        return explode_collect(a)
    if f is collect_as_set:
        return F.array_sort(F.array_distinct(explode_collect(a)))
    if f is min:
        return explode_min(a)
    if f is max:
        return explode_max(a)
    if f is mean:
        return explode_mean(a)
    raise NotImplementedError(
        "agg.explode supports f in {sum, count, collect, collect_as_set, "
        "min, max, mean}; compose other aggregators with an explicit "
        "DataFrame-level explode"
    )


def array_agg(f, array) -> Column:
    """Element-wise aggregation across rows (ref aggregators.py:1995
    ``hl.agg.array_agg`` / AggArrayPerElement): position i of the result
    aggregates element i of every row's array.

    ``f`` in {sum, mean} stays a codegen hash-agg via the bounded
    ``array_sum`` shape; {min, max, collect} fold over the collected
    per-group arrays (bounded by group size — for matrix-scale data use
    MatrixTable.group_rows_by/array_agg, the distributed path)."""
    a = _c(array)
    if f is sum:
        return array_sum(a)
    if f is mean:
        s = array_sum(a)
        n = array_sum(F.transform(a, lambda e: e.isNotNull().cast("double")))
        return F.zip_with(s, n, lambda x, c: F.when(c > 0, x / c))
    collected = F.collect_list(a)
    if f is collect:
        # transpose: result[i] = [row0[i], row1[i], ...]
        first = F.element_at(collected, 1)
        return F.transform(
            F.sequence(F.lit(1), F.size(first)),
            lambda i: F.transform(collected, lambda row: F.element_at(row, i)),
        )
    if f is min or f is max:
        pick = F.least if f is min else F.greatest
        return F.aggregate(
            collected,
            F.lit(None).cast("array<double>"),
            lambda acc, row: F.when(acc.isNull(), row.cast("array<double>")).otherwise(
                F.zip_with(acc, row.cast("array<double>"), lambda x, y: pick(x, y))
            ),
        )
    raise NotImplementedError("array_agg supports f in {sum, mean, min, max, collect}")


def _aggregate_local_array(array, f) -> Column:
    """Row-LOCAL array aggregation (ref aggregators.py:305): apply an
    aggregator to one row's array.  ``f`` in {sum, count, mean, min,
    max, collect} — pure per-row HOF folds, no shuffle at all."""
    a = _c(array)
    nn = F.filter(a, lambda x: x.isNotNull())
    if f is sum:
        return F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    if f is count:
        return F.size(nn).cast("bigint")
    if f is mean:
        return F.when(
            F.size(nn) > 0,
            F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
            / F.size(nn),
        )
    if f is min:
        return F.array_min(a)
    if f is max:
        return F.array_max(a)
    if f is collect:
        return nn
    raise NotImplementedError(
        "_aggregate_local_array supports f in {sum, count, mean, min, max, collect}"
    )


def _prev_nonnull(expr) -> Column:
    """Last non-missing value in the aggregation (ref
    aggregators.py:1984 agg._prev_nonnull): Spark's ignorenulls last."""
    return F.last(_c(expr), ignorenulls=True)


def _impute_type(expr) -> Column:
    """Type-imputation summary of a string column (ref
    aggregators.py `_impute_type` / ImputeTypeAggregator): the
    all/any flags import_table's impute pass consumes."""
    s = F.trim(_c(expr))
    defined = s.isNotNull()
    nonempty = defined & (s != "")
    bool_like = s.rlike(r"(?i)^(true|false)$")
    int32_like = s.rlike(r"^-?\d{1,9}$")
    int64_like = s.rlike(r"^-?\d{1,18}$")
    float_like = s.rlike(r"(?i)^[+-]?(\d+\.?\d*|\.\d+)([e][+-]?\d+)?$|^(nan|[+-]?inf(inity)?)$")

    def all_of(pred):
        return F.coalesce(F.min(F.when(defined, pred)), F.lit(True))

    return F.struct(
        F.max(defined).alias("anyNonMissing"),
        F.min(defined).alias("allDefined"),
        all_of(bool_like).alias("supportsBool"),
        all_of(int32_like).alias("supportsInt32"),
        all_of(int64_like).alias("supportsInt64"),
        all_of(float_like).alias("supportsFloat64"),
        all_of(nonempty).alias("allNonEmpty"),
    )


def _densify(length, expr) -> Column:
    """Reference-internal scan used only by its sparse union_cols
    lowering (aggregators.py:539).  This engine lowers union_cols /
    VDS densify natively (matrixtable.py union_cols, vds.py densify) so
    the scan form has no call site; kept as an explicit gate."""
    raise NotImplementedError(
        "_densify is the reference's internal union_cols scan; this engine "
        "densifies natively — see MatrixTable.union_cols and vds.densify"
    )


# reference names resolved via module __getattr__ so in-module uses of
# builtins (filter, ...) are unaffected
def hardy_weinberg_test(gt, one_sided: bool = False) -> Column:
    """hl.agg.hardy_weinberg_test (ref aggregators.py:1128):
    struct(het_freq_hwe, p_value) from the genotype dosage column.
    Genotype counts aggregate natively (map-side combine); the exact
    Wigginton test runs as an Arrow-batched finalizer OVER the three
    aggregate counts — one value per group, fully distributed (no
    driver collect)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    g = _c(gt)

    def _fin(hr: pd.Series, het: pd.Series, hv: pd.Series) -> pd.DataFrame:
        from .stats import hardy_weinberg_test as _exact

        return pd.DataFrame(
            [_exact(int(a), int(b), int(c), one_sided=one_sided) for a, b, c in zip(hr, het, hv)]
        )

    _fin.__annotations__ = {
        "hr": pd.Series, "het": pd.Series, "hv": pd.Series, "return": pd.DataFrame
    }
    udf = pandas_udf(_fin, "struct<het_freq_hwe:double,p_value:double>")
    return udf(
        F.sum(F.when(g == 0, 1).otherwise(0)),
        F.sum(F.when(g == 1, 1).otherwise(0)),
        F.sum(F.when(g == 2, 1).otherwise(0)),
    )


def __getattr__(name: str):
    if name == "filter":
        return agg_filter
    if name == "info_score":
        from .functions import info_score as isc

        return isc
    if name == "_reservoir_sample":
        return reservoir_sample
    raise AttributeError(f"module 'hail_spark.expr.aggregators' has no attribute '{name}'")
