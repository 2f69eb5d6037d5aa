"""Distributed statistics engine — the heart of the reference's analytics.

Covers SURVEY.md §2 family E: single-pass moment aggregations from which
correlation matrices (E1), the wide feature x target screen (E5),
point-biserial (E6) and pair lift (E2-E4) all derive; rank-based ROC AUC
(E7); exact quantiles (E10); whale/outlier uplift contingencies (E12);
Fisher exact test (E13, pure-Python — scipy is not available in this
environment).

Design rule (ref pattern, SURVEY.md §4.2): distribute the *moments*, never
the pair loop. TB-scale inputs reduce to tiny moment matrices (e.g. 519x41
doubles) in one or a few chunked aggregation passes with map-side partial
aggregation; all O(pairs) arithmetic then runs on the driver over numpy
arrays. The driver never holds row data.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _chunks(xs: list, size: int) -> list[list]:
    return [xs[i : i + size] for i in range(0, len(xs), size)]


# ---------------------------------------------------------------------------
# Moments engine (E1/E2/E5/E6 substrate)
# ---------------------------------------------------------------------------


def cross_moments(
    df: DataFrame,
    xs: list[str],
    ys: list[str],
    chunk_size: int = 1500,
) -> dict:
    """Single-pass(ish) sufficient statistics for all (x, y) pairs.

    Returns driver-side dict with n, per-column sum/sumsq (numpy vectors
    over xs and ys) and the cross-product matrix sum_xy (len(xs) x len(ys)).
    Nulls must be handled upstream (see `mean_impute`) — the reference
    mean-imputes X before its screen (ref: public_eda_pipeline.py:496-499).

    Aggregation expressions are chunked (~chunk_size per agg) to stay under
    whole-stage-codegen limits (SURVEY.md §4.4); each chunk is one
    distributed pass sharing the same scan.
    """
    xs = list(xs)
    ys = list(ys)
    all_cols = list(dict.fromkeys(xs + ys))
    pairs = [(x, y) for x in xs for y in ys]

    # one flat list of aggregate expressions — base moments first, then the
    # cross products — chunked globally, so small problems (e.g. a 4x4 corr
    # matrix) run as a SINGLE distributed pass, and wide screens split into
    # ceil(total/chunk_size) passes sharing the same scan.
    exprs: list = [F.count(F.lit(1)).alias("__n")]
    for c in all_cols:
        d = F.col(c).cast("double")
        exprs.append(F.sum(d).alias(f"s_{c}"))
        exprs.append(F.sum(d * d).alias(f"q_{c}"))
    for i, (x, y) in enumerate(pairs):
        exprs.append(
            F.sum(F.col(x).cast("double") * F.col(y).cast("double")).alias(f"xy_{i}")
        )

    row: dict = {}
    for batch in _chunks(exprs, max(chunk_size, 1)):
        row.update(df.agg(*batch).collect()[0].asDict())

    n = row["__n"]
    sum_ = {c: float(row[f"s_{c}"]) for c in all_cols}
    sumsq = {c: float(row[f"q_{c}"]) for c in all_cols}
    sum_xy = np.zeros((len(xs), len(ys)))
    xi = {x: i for i, x in enumerate(xs)}
    yi = {y: j for j, y in enumerate(ys)}
    for i, (x, y) in enumerate(pairs):
        v = row[f"xy_{i}"]
        sum_xy[xi[x], yi[y]] = float(v) if v is not None else float("nan")

    return {
        "n": n,
        "xs": xs,
        "ys": ys,
        "sum_x": np.array([sum_[c] for c in xs]),
        "sumsq_x": np.array([sumsq[c] for c in xs]),
        "sum_y": np.array([sum_[c] for c in ys]),
        "sumsq_y": np.array([sumsq[c] for c in ys]),
        "sum_xy": sum_xy,
    }


def _index_groups(df: DataFrame, hits: list, aggs: list) -> dict:
    """Wide statistics from ONE aggregation: every row is emitted under
    index -1 and under each i whose ``hits[i]`` holds, then grouped by
    index. Returns {index: Row} with ``__n`` (rows in the group) and
    ``__a{j}`` per aggregate of ``aggs``; an index that no row hit has no
    entry. The plan holds 1+len(aggs) aggregates however many hit columns
    there are, instead of one aggregate per (hit, value) pair."""
    idx = F.array(F.lit(-1), *[F.when(h, F.lit(i)) for i, h in enumerate(hits)])
    rows = (
        df.select(F.explode(F.filter(idx, lambda i: i.isNotNull())).alias("__i"), "*")
        .groupBy("__i")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            *[a.alias(f"__a{j}") for j, a in enumerate(aggs)],
        )
        .collect()
    )
    return {r["__i"]: r for r in rows}


def _group_vector(groups: dict, i: int, k: int) -> np.ndarray:
    """Group i's first k aggregates as doubles. An absent group, or a NULL
    sum (no non-null value), is 0."""
    r = groups.get(i)
    if r is None:
        return np.zeros(k)
    return np.array([float(r[f"__a{j}"] or 0.0) for j in range(k)])


def binary_cross_moments(df: DataFrame, cols: list[str]) -> dict:
    """``cross_moments(df, cols, cols)`` for 0/1 columns (NULLs allowed)
    from one ``_index_groups`` pass over the positive-column index: 2+C
    aggregates where cross_moments plans 1+2C+C^2.

    Group -1 holds every row: n and the positive counts (sum_x; for 0/1
    values sumsq_x is the same vector). Group i holds the rows with
    cols[i] == 1, so its positive counts are row i of the co-occurrence
    matrix sum_xy. Every value is an integer count and equals the
    cross_moments value bit for bit; the one difference is a pair never
    jointly non-null, which is NaN there and 0 here.

    Raises ValueError if a column holds anything but 0, 1 or NULL. The
    check is one more aggregate of the same pass, not another job.
    """
    cols = list(cols)
    ds = [F.col(c).cast("double") for c in cols]
    ones = [d == 1.0 for d in ds]
    # per row: the index of its first non-binary column, NULL if none
    first_bad = F.coalesce(*[F.when(~d.isin(0.0, 1.0), F.lit(i)) for i, d in enumerate(ds)])
    c = len(cols)
    groups = _index_groups(
        df, ones, [F.count(F.when(o, True)) for o in ones] + [F.min(first_bad)]
    )
    everyone = groups.get(-1)
    if everyone is not None and everyone[f"__a{c}"] is not None:
        raise ValueError(
            f"binary_cross_moments: column {cols[everyone[f'__a{c}']]!r} "
            "holds a value other than 0, 1 or NULL"
        )
    sum_x = _group_vector(groups, -1, c)
    return {
        "n": everyone["__n"] if everyone is not None else 0,
        "xs": cols,
        "ys": cols,
        "sum_x": sum_x,
        "sumsq_x": sum_x.copy(),
        "sum_y": sum_x.copy(),
        "sumsq_y": sum_x.copy(),
        "sum_xy": np.array([_group_vector(groups, i, c) for i in range(c)]).reshape(c, c),
    }


def null_indicator_sums(df: DataFrame, features: list[str], targets: list[str]) -> dict:
    """Sufficient statistics of the missing-indicator screen from one
    ``_index_groups`` pass over the null-feature index: 1+T aggregates
    where one aggregate per (feature, target) pair plans 1+F+F*T+T.

    Returns n (rows), ind[f] = rows with f NULL, y[t] = sum of t and
    iy[f, t] = sum(isnull(f) * t), as numpy arrays over features/targets.
    Targets are cast to double; a sum with no non-null value is 0, so an
    empty input gives n = 0 and all-zero sums.
    """
    k = len(targets)
    groups = _index_groups(
        df,
        [F.col(f).isNull() for f in features],
        [F.sum(F.col(t).cast("double")) for t in targets],
    )

    def rows(i: int) -> int:
        return groups[i]["__n"] if i in groups else 0

    return {
        "n": rows(-1),
        "ind": np.array([float(rows(i)) for i in range(len(features))]),
        "y": _group_vector(groups, -1, k),
        "iy": np.array([_group_vector(groups, i, k) for i in range(len(features))]).reshape(
            len(features), k
        ),
    }


def corr_from_moments(m: dict, eps: float = 1e-12) -> pd.DataFrame:
    """Pearson correlation matrix (xs rows x ys cols) from cross_moments.

    Uses population normalization internally (ddof cancels in Pearson r, so
    this equals sample corr; matches the reference's explicit population-std
    standardization, ref: public_eda_pipeline.py:501-511). Constant columns
    (std < eps) yield NaN, matching the reference's guard (lines 502-508).
    """
    n = m["n"]
    mean_x = m["sum_x"] / n
    mean_y = m["sum_y"] / n
    var_x = m["sumsq_x"] / n - mean_x**2
    var_y = m["sumsq_y"] / n - mean_y**2
    std_x = np.sqrt(np.maximum(var_x, 0.0))
    std_y = np.sqrt(np.maximum(var_y, 0.0))
    cov = m["sum_xy"] / n - np.outer(mean_x, mean_y)
    denom = np.outer(std_x, std_y)
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = np.where(denom > eps, cov / np.where(denom > eps, denom, 1.0), np.nan)
    return pd.DataFrame(corr, index=m["xs"], columns=m["ys"])


def corr_matrix(df: DataFrame, cols: list[str], chunk_size: int = 1500) -> pd.DataFrame:
    """Full symmetric Pearson corr matrix over ``cols`` (operator E1; ref:
    public_eda_pipeline.py:140-141 `y_df.corr()` over the 41 targets)."""
    m = cross_moments(df, cols, cols, chunk_size=chunk_size)
    return corr_from_moments(m)


def corr_matrix_assembled(
    df: DataFrame, xs: list[str], ys: list[str]
) -> pd.DataFrame:
    """Pearson corr of the xs x ys block via ONE `Correlation.corr` pass
    over an assembled vector (operator E5 route (b), SURVEY.md §2) —
    BLAS-backed co-moment accumulation inside the JVM instead of thousands
    of individual codegen'd sum expressions. For wide screens (hundreds of
    features x dozens of targets) the expression-count cost of the chunked
    moments path dominates its runtime (measured: 519-ish-wide screen
    62s -> seconds); this path is O(d^2) FLOPs per row in tight loops and
    one treeAggregate. Inputs must be null-free (mean_impute first, as the
    reference does; ref: public_eda_pipeline.py:496-511). Constant columns
    yield NaN, matching corr_from_moments' guard. Pearson r is
    ddof-invariant, so this equals the population-std route exactly."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    cols = list(dict.fromkeys(list(xs) + list(ys)))
    assembled = VectorAssembler(inputCols=cols, outputCol="__v").transform(
        df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    )
    mat = Correlation.corr(assembled, "__v", "pearson").head()[0].toArray()
    idx = {c: i for i, c in enumerate(cols)}
    block = mat[np.ix_([idx[x] for x in xs], [idx[y] for y in ys])]
    return pd.DataFrame(block, index=list(xs), columns=list(ys))


def mean_impute(df: DataFrame, cols: list[str], chunk_size: int = 1500) -> DataFrame:
    """NaN/null -> column mean (operator E15; ref lines 496-499). One
    distributed pass for the means, then a coalesce projection (no shuffle).
    """
    means: dict[str, float] = {}
    for batch in _chunks(cols, chunk_size):
        r = df.agg(*[F.avg(F.col(c).cast("double")).alias(c) for c in batch]).collect()[0]
        for c in batch:
            means[c] = float(r[c]) if r[c] is not None else 0.0
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.coalesce(F.col(c).cast("double"), F.lit(means[c])).alias(c) for c in cols],
    )


def pair_stats(df: DataFrame, cols: list[str]) -> pd.DataFrame:
    """All-pairs stats for binary columns: corr, co-occurrence count/rate,
    independence-expected rate, lift (operators E2-E4; ref:
    public_eda_pipeline.py:143-166). For 0/1 columns sum_xy IS the
    co-occurrence count, so everything falls out of one moments pass."""
    m = cross_moments(df, cols, cols)
    corr = corr_from_moments(m).to_numpy()
    n = m["n"]
    prev = m["sum_x"] / n
    rows = []
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if j <= i:
                continue
            co_count = m["sum_xy"][i, j]
            co_rate = co_count / n
            expected = prev[i] * prev[j]
            rows.append(
                {
                    "target_a": a,
                    "target_b": b,
                    "corr": corr[i, j],
                    "co_count": int(co_count),
                    "co_rate": co_rate,
                    "expected_independent_rate": expected,
                    "pair_lift": (co_rate / expected) if expected > 0 else float("nan"),
                }
            )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Rank-based ROC AUC (E7) — distributed, tie-aware, no global row sort
# ---------------------------------------------------------------------------


def auc_by_rank(
    df: DataFrame, label_col: str, score_col: str, num_buckets: int = 256
) -> DataFrame:
    """Exact Mann-Whitney ROC AUC with average-rank tie handling (operator
    E7; ref `_safe_auc`, public_eda_pipeline.py:33-39).

    Scale design — partitioned prefix sum over distinct scores, then a
    constant-size cross-bucket pass:

    1. Reduce to one row per *distinct score* with positive/negative
       counts (a hash aggregation).
    2. Range-bucket the distinct scores into `num_buckets` equal-width
       bins of [min, max] of the finite raw scores (a one-row aggregate
       of the input, broadcast-joined — no driver action, the plan stays
       lazy). Sentinel buckets keep Spark's sort order: null → -2,
       -inf → -1, +inf → `num_buckets`, NaN → `num_buckets + 1`.
    3. Cumulative negatives *within* each bucket: a window PARTITIONED BY
       bucket (each partition holds ~1/num_buckets of the distinct
       scores; a continuous score at 100× data does not collapse onto
       one task).
    4. Reduce to one row per bucket (at most num_buckets+4 rows):
       C_b = sum_s pos_s * (cum_in_bucket_s + 0.5*neg_s), P_b = sum pos,
       N_b = sum neg.
    5. Over that constant-size table, the exclusive prefix
       O_b = sum_{b' < b} N_b' (the only unpartitioned window) and
       AUC = [sum_b (C_b + P_b * O_b)] / (P*N).

    Exactness: pos/neg are integral-valued doubles, so every term above
    is integral or half-integral, and such sums in IEEE doubles are
    associativity-exact below 2^52: the split accumulation equals the
    single-window sum over all distinct scores bit for bit.
    Degenerate single-class input yields NULL (the reference's guard).

    Returns a 1-row DataFrame: auc double.
    """
    scored = df.select(
        F.col(score_col).cast("double").alias("s"),
        F.col(label_col).cast("double").alias("y"),
    )
    g = scored.groupBy("s").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    # Range over FINITE scores only: an infinity in min/max would make
    # `width` infinite and collapse every finite score into bucket 0 —
    # still correct (within-bucket order holds) but single-partition.
    inf, ninf = F.lit(float("inf")), F.lit(float("-inf"))
    rng = scored.where(
        F.col("s").isNotNull()
        & ~F.isnan("s")
        & (F.col("s") != inf)
        & (F.col("s") != ninf)
    ).agg(F.min("s").alias("_lo"), F.max("s").alias("_hi"))
    width = (F.col("_hi") - F.col("_lo")) / num_buckets
    gb = g.join(F.broadcast(rng)).withColumn(
        "bucket",
        F.when(F.col("s").isNull(), F.lit(-2))
        .when(F.isnan("s"), F.lit(num_buckets + 1))
        .when(F.col("s") == ninf, F.lit(-1))
        .when(F.col("s") == inf, F.lit(num_buckets))
        .when(
            (F.col("_hi") == F.col("_lo")) | F.col("_hi").isNull(),
            F.lit(0),
        )
        .otherwise(
            F.least(
                F.lit(num_buckets - 1),
                F.floor((F.col("s") - F.col("_lo")) / width).cast("int"),
            )
        ),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_bucket = (
        gb.withColumn("cum_in_bucket", F.coalesce(F.sum("neg").over(w), F.lit(0.0)))
        .groupBy("bucket")
        .agg(
            F.sum(
                F.col("pos") * (F.col("cum_in_bucket") + 0.5 * F.col("neg"))
            ).alias("_c"),
            F.sum("pos").alias("_p"),
            F.sum("neg").alias("_n"),
        )
    )
    below = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    return per_bucket.withColumn(
        "_offset", F.coalesce(F.sum("_n").over(below), F.lit(0.0))
    ).agg(
        F.when(
            (F.sum("_p") > 0) & (F.sum("_n") > 0),
            F.sum(F.col("_c") + F.col("_p") * F.col("_offset"))
            / (F.sum("_p") * F.sum("_n")),
        ).alias("auc")
    )


def effective_auc_col(auc: F.Column) -> F.Column:
    """max(auc, 1-auc) (operator E8; ref line 354)."""
    return F.greatest(auc, 1 - auc)


# ---------------------------------------------------------------------------
# Quantiles (E10)
# ---------------------------------------------------------------------------


def exact_quantiles(df: DataFrame, col: str, probs: list[float]) -> list[float]:
    """Exact interpolated percentiles (operator E10; ref np.nanquantile at
    line 622 — Spark `percentile` ignores nulls like nanquantile ignores
    NaN). For the 100 TB path use `df.approxQuantile` instead."""
    probs_sql = ", ".join(str(p) for p in probs)
    r = df.agg(
        F.expr(f"percentile({col}, array({probs_sql}))").alias("q")
    ).collect()[0]["q"]
    return [float(v) for v in r]


# ---------------------------------------------------------------------------
# Whale / outlier uplift + Fisher exact (E12-E13)
# ---------------------------------------------------------------------------


def whale_scan(
    df: DataFrame,
    features: list[str],
    targets: list[str],
    quantile: float = 0.99,
    min_top: int = 50,
    min_rest: int = 1000,
    chunk_size: int = 1500,
    exact: bool = True,
) -> pd.DataFrame:
    """Top-tail uplift screen (operator E12; ref: public_eda_pipeline.py:
    617-650): for each (num feature, target), compare the target's positive
    rate in the feature's top-(1-quantile) tail vs the rest.

    Two distributed passes: (1) per-feature quantile cutoffs, (2) one
    chunked conditional-agg pass computing all 2x2 contingencies. Lift and
    Fisher p-values are driver-side arithmetic over the small pairs table.
    Guards (top>=min_top, rest>=min_rest, rest_pos>0) match ref lines
    625-636.
    """
    if exact:
        # ALL cutoffs in one agg pass — a per-feature exact_quantiles loop
        # costs one full-table job per feature (O(features) scans)
        row = df.agg(
            *[
                F.expr(f"percentile({f}, {quantile})").alias(f"q_{i}")
                for i, f in enumerate(features)
            ]
        ).collect()[0]
        cut = {
            f: (float(row[f"q_{i}"]) if row[f"q_{i}"] is not None else float("nan"))
            for i, f in enumerate(features)
        }
    else:
        qs = df.approxQuantile(features, [quantile], 0.0001)
        cut = {f: q[0] for f, q in zip(features, qs)}

    pairs = [(f, t) for f in features for t in targets]
    records: list[dict] = []
    for batch in _chunks(pairs, max(1, chunk_size // 4)):
        aggs = []
        for i, (f, t) in enumerate(batch):
            top = F.col(f) >= F.lit(cut[f])
            y = F.col(t).cast("double")
            aggs += [
                F.sum(top.cast("long")).alias(f"tn_{i}"),
                F.sum(F.when(top, y).otherwise(F.lit(0.0))).alias(f"tp_{i}"),
                F.sum((~top).cast("long")).alias(f"rn_{i}"),
                F.sum(F.when(~top, y).otherwise(F.lit(0.0))).alias(f"rp_{i}"),
            ]
        r = df.agg(*aggs).collect()[0].asDict()
        for i, (f, t) in enumerate(batch):
            tn, tp = int(r[f"tn_{i}"]), int(r[f"tp_{i}"])
            rn, rp = int(r[f"rn_{i}"]), int(r[f"rp_{i}"])
            if tn < min_top or rn < min_rest or rp == 0:
                continue
            top_rate = tp / tn
            rest_rate = rp / rn
            records.append(
                {
                    "feature": f,
                    "target": t,
                    "top_n": tn,
                    "top_pos": tp,
                    "rest_n": rn,
                    "rest_pos": rp,
                    "top1_rate": top_rate,
                    "rest99_rate": rest_rate,
                    "lift": top_rate / rest_rate,
                    "pvalue": fisher_exact_greater(tp, tn - tp, rp, rn - rp),
                }
            )
    return pd.DataFrame(records)


def _log_comb(n: int, k: int) -> float:
    return math.lgamma(n + 1) - math.lgamma(k + 1) - math.lgamma(n - k + 1)


def fisher_exact_greater(a: int, b: int, c: int, d: int) -> float:
    """One-sided (greater) Fisher exact test p-value for the 2x2 table
    [[a, b], [c, d]] (operator E13; ref scipy.stats.fisher_exact at line
    641 — scipy is unavailable here, so this is the exact hypergeometric
    tail computed with log-gamma, numerically stable for large counts).

    P = sum_{k >= a} C(a+b, k) * C(c+d, (a+c)-k) / C(n, a+c).
    """
    row1 = a + b
    col1 = a + c
    n = a + b + c + d
    k_max = min(row1, col1)
    denom = _log_comb(n, col1)
    total = 0.0
    for k in range(a, k_max + 1):
        if col1 - k > c + d:
            continue
        total += math.exp(
            _log_comb(row1, k) + _log_comb(c + d, col1 - k) - denom
        )
    return min(total, 1.0)


# ---------------------------------------------------------------------------
# Point-biserial (E6) with pure-Python p-value
# ---------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta function
    (Lentz's algorithm — standard public formulation)."""
    max_it, eps, fpmin = 200, 3e-14, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < fpmin:
        d = fpmin
    d = 1.0 / d
    h = d
    for m in range(1, max_it + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def _betainc_reg(a: float, b: float, x: float) -> float:
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def t_sf(t: float, dof: float) -> float:
    """Two-sided Student-t survival p-value, P(|T| > t)."""
    x = dof / (dof + t * t)
    return _betainc_reg(dof / 2.0, 0.5, x)


def point_biserial(df: DataFrame, binary_col: str, value_col: str) -> tuple[float, float]:
    """Point-biserial correlation + two-sided p (operator E6; ref
    pointbiserialr at line 303 — identical to Pearson with a binary
    variable; p via the exact t transform). One distributed agg pass."""
    r_row = df.agg(
        F.corr(F.col(binary_col).cast("double"), F.col(value_col).cast("double")).alias("r"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    r, n = r_row["r"], r_row["n"]
    if r is None or n < 3 or abs(r) >= 1.0:
        return (float("nan") if r is None else float(r), float("nan"))
    t = r * math.sqrt((n - 2) / (1 - r * r))
    return float(r), t_sf(abs(t), n - 2)
