"""P4 — distribution-drift tests: histograms + KS + PSI (SURVEY.md B16/B19/B20).

BASELINE.json:6: "KS/PSI distribution-drift tests on w, h, fmt and
caption-length histograms".

Scale design:
- ALL drift columns are histogrammed in ONE scan: per row we build an
  array<struct<col,bucket>> (one entry per drift column), explode it, and do
  a single ``groupBy(part_id, col, bucket).count()``. Map-side partial
  aggregation collapses the explode multiplier before the shuffle; the
  shuffle payload is bounded by partitions × columns × buckets, independent
  of row count.
- KS and PSI are then computed on that tiny histogram table with window
  functions — never touching fact data again.
- The KS p-value uses the asymptotic Kolmogorov series, expressed as a
  literal sum of exp terms so it stays a JVM Column expression (no scipy —
  SURVEY.md §0).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..compile_spark import column_pointer
from ..spec import DriftColumn  # re-exported; spec.parse resolves the columns

EPS = 1e-6  # PSI smoothing for empty buckets


def bucket_col(c: DriftColumn) -> Column:
    """The histogram bucket of drift column ``c`` for one row."""
    v = F.expr(c.expr)
    if c.kind == "categorical":
        return v.cast("string")
    return F.width_bucket(
        v.cast("double"), F.lit(float(c.lo)), F.lit(float(c.hi)), F.lit(c.buckets)
    ).cast("string")


def observed_histograms(
    df: DataFrame, cols: list[DriftColumn], part_col: str = "part_id"
) -> DataFrame:
    """(part_id, col, bucket, n) for every drift column — one scan."""
    entries = [
        F.struct(F.lit(c.name).alias("col"), bucket_col(c).alias("bucket")) for c in cols
    ]
    return (
        df.select(F.col(part_col).alias("part_id"), F.explode(F.array(*entries)).alias("e"))
        .groupBy("part_id", "e.col", "e.bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def baseline_profile(df: DataFrame, cols: list[DriftColumn]) -> DataFrame:
    """(col, bucket, p_expected) from a clean reference table (global)."""
    entries = [
        F.struct(F.lit(c.name).alias("col"), bucket_col(c).alias("bucket")) for c in cols
    ]
    hist = (
        df.select(F.explode(F.array(*entries)).alias("e"))
        .groupBy("e.col", "e.bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("col")
    return hist.select(
        "col", "bucket", (F.col("n") / F.sum("n").over(tot)).alias("p_expected")
    )


def baseline_from_observed(obs: DataFrame) -> DataFrame:
    """(col, bucket, p_expected) derived from an observed-histogram table —
    for self-drift checks where the baseline IS the table-wide distribution
    (each partition tested against the whole table). Algebraically identical
    to ``baseline_profile`` on the same fact table + drift columns: the
    global histogram is the per-partition histogram summed over partitions —
    but costs one aggregation over the TINY histogram table instead of a
    second full fact scan."""
    hist = obs.groupBy("col", "bucket").agg(F.sum("n").alias("n"))
    tot = Window.partitionBy("col")
    return hist.select(
        "col", "bucket", (F.col("n") / F.sum("n").over(tot)).alias("p_expected")
    )


def _kolmogorov_pvalue(lam: Column, terms: int = 40) -> Column:
    """Asymptotic two-sided KS p-value: 2·Σ_{k≥1} (−1)^{k−1} e^{−2k²λ²}."""
    s = reduce(
        lambda a, b: a + b,
        [
            F.lit(2.0 * (1.0 if k % 2 == 1 else -1.0)) * F.exp(F.lit(-2.0 * k * k) * lam * lam)
            for k in range(1, terms + 1)
        ],
    )
    return F.greatest(F.least(s, F.lit(1.0)), F.lit(0.0))


def _histogram_grid(obs: DataFrame, baseline: DataFrame) -> DataFrame:
    """Dense (part_id, col, bucket) grid with per-cell n, p_expected, n_tot,
    p_obs, cdf_obs, cdf_exp — the shared prep for every histogram-distance
    metric. Bucket order for the CDFs: numeric bucket index (cast) else
    lexical. All joins are broadcast: the grid is bounded by
    partitions × columns × buckets, independent of fact row count."""
    parts = obs.select("part_id").distinct()
    buckets = (
        obs.select("col", "bucket").union(baseline.select("col", "bucket")).distinct()
    )
    grid = parts.crossJoin(F.broadcast(buckets))

    j = (
        grid.join(obs, ["part_id", "col", "bucket"], "left")
        .join(F.broadcast(baseline), ["col", "bucket"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .withColumn("p_expected", F.coalesce("p_expected", F.lit(0.0)))
    )
    wn = Window.partitionBy("part_id", "col")
    j = j.withColumn("n_tot", F.sum("n").over(wn)).withColumn(
        "p_obs", F.col("n") / F.greatest(F.col("n_tot"), F.lit(1))
    )

    order = F.coalesce(F.col("bucket").try_cast("double"), F.lit(float("inf")))
    wcdf = (
        Window.partitionBy("part_id", "col")
        .orderBy(order, F.col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.withColumn("cdf_obs", F.sum("p_obs").over(wcdf)).withColumn(
        "cdf_exp",
        F.sum(F.col("p_expected") / F.greatest(F.sum("p_expected").over(wn), F.lit(EPS))).over(wcdf),
    )


def drift_metrics(obs: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per (part_id, col): PSI, KS D-statistic, asymptotic KS p-value, n.

    ``obs``: (part_id, col, bucket, n); ``baseline``: (col, bucket, p_expected).
    Bucket order for the KS CDF: numeric bucket index (cast) else lexical.
    """
    j = _histogram_grid(obs, baseline)
    p = F.greatest(F.col("p_obs"), F.lit(EPS))
    q = F.greatest(F.col("p_expected"), F.lit(EPS))
    agg = j.groupBy("part_id", "col").agg(
        F.max(F.abs(F.col("cdf_obs") - F.col("cdf_exp"))).alias("ks_d"),
        F.sum((p - q) * F.log(p / q)).alias("psi"),
        F.max("n_tot").alias("n"),
    )
    sqrt_n = F.sqrt(F.col("n").cast("double"))
    lam = (sqrt_n + F.lit(0.12) + F.lit(0.11) / sqrt_n) * F.col("ks_d")
    return agg.withColumn("ks_p", _kolmogorov_pvalue(lam))


def _std_normal_sf(z: Column) -> Column:
    """Upper-tail standard normal survival 1−Φ(z), via the Abramowitz &
    Stegun 7.1.26 erf polynomial (|err| < 1.5e-7 — well under the 1e-6
    reporting precision). Pure Column arithmetic; the DuckDB oracle twin
    (``__spark_entry__._SQL_NORMAL_SF``) spells the identical formula so
    both engines agree to reporting precision."""
    x = F.abs(z) / F.lit(1.4142135623730951)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    erf_abs = F.lit(1.0) - poly * F.exp(-x * x)
    erf = F.when(z < 0, -erf_abs).otherwise(erf_abs)
    return F.lit(0.5) * (F.lit(1.0) - erf)


def chi2_pvalue(chi2: Column, dof: Column) -> Column:
    """Upper-tail chi-squared p-value via the Wilson–Hilferty cube-root
    normal approximation: (X²/k)^(1/3) is ≈ N(1−2/(9k), 2/(9k)). Accurate
    to ~1e-3 for k ≥ 3 (pinned vs the exact even-dof closed form in
    tests/test_round3.py); no scipy per SURVEY §0."""
    k = F.greatest(dof.cast("double"), F.lit(1.0))
    mu = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k)
    sd = F.sqrt(F.lit(2.0) / (F.lit(9.0) * k))
    z = (F.pow(chi2 / k, F.lit(1.0 / 3.0)) - mu) / sd
    return _std_normal_sf(z)


def divergence_metrics(obs: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per (part_id, col): the wider histogram-distance family beyond KS/PSI —
    chi-squared statistic + dof + Wilson–Hilferty p-value, Jensen–Shannon
    divergence (nats), total-variation distance, Hellinger distance, and
    1-Wasserstein (earth-mover, unit bucket width). Same single-scan
    histogram inputs as ``drift_metrics``; everything below runs on the tiny
    (partitions × columns × buckets) grid, never re-touching fact data.

    Conventions (mirrored exactly by the DuckDB oracle):
    - expected counts use the EPS-smoothed normalized baseline, so chi2 is
      finite when an observed bucket is absent from the baseline;
    - dof = (#buckets with p_expected > 0) − 1, clamped to ≥1;
    - JSD/TVD/Hellinger compare p_obs against the normalized baseline;
    - EMD sums |cdf_obs − cdf_exp| over buckets (unit spacing), which for
      equal-width numeric buckets is Wasserstein-1 in bucket units.
    """
    j = _histogram_grid(obs, baseline)
    wn = Window.partitionBy("part_id", "col")
    q_n = F.col("p_expected") / F.greatest(F.sum("p_expected").over(wn), F.lit(EPS))
    j = j.withColumn("q_n", q_n)

    p = F.col("p_obs")
    q = F.col("q_n")
    qs = F.greatest(q, F.lit(EPS))          # smoothed expected prob
    e_cnt = F.col("n_tot") * qs             # smoothed expected count
    m = F.lit(0.5) * (p + q)                # JSD mixture
    jsd_term = (
        F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
    )

    agg = j.groupBy("part_id", "col").agg(
        F.sum((F.col("n") - e_cnt) * (F.col("n") - e_cnt) / e_cnt).alias("chi2"),
        F.greatest(
            F.sum(F.when(F.col("p_expected") > 0, 1).otherwise(0)) - F.lit(1), F.lit(1)
        ).cast("long").alias("dof"),
        F.sum(jsd_term).alias("jsd"),
        (F.lit(0.5) * F.sum(F.abs(p - q))).alias("tvd"),
        F.sqrt(
            F.lit(0.5) * F.sum((F.sqrt(p) - F.sqrt(q)) * (F.sqrt(p) - F.sqrt(q)))
        ).alias("hellinger"),
        F.sum(F.abs(F.col("cdf_obs") - F.col("cdf_exp"))).alias("emd"),
        F.max("n_tot").alias("n"),
    )
    return agg.withColumn("chi2_p", chi2_pvalue(F.col("chi2"), F.col("dof")))


def quantile_metrics(
    obs: DataFrame, baseline: DataFrame, qs: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Per (part_id, col, q): histogram-quantile drift — the bucket index at
    which the observed CDF first reaches q, the same for the baseline CDF,
    and their difference in bucket units (``shift``).

    Quantiles are read off the SAME dense histogram grid the KS/PSI pass
    builds — no fact-table sort, no approx_percentile: at 10^12 rows an
    exact percentile is a global sort and approx_percentile is
    non-deterministic across runs, while the bucket-CDF quantile is exact at
    bucket resolution, deterministic, and costs one window pass over the
    partitions × columns × buckets grid. Numeric drift columns only (bucket
    labels must cast to double; categorical buckets sort to +inf and would
    make ``shift`` meaningless).

    The q threshold is compared as ``cdf >= q − 1e−9`` (mirrored in the
    DuckDB oracle) so last-ulp float-sum differences at an exact boundary
    cannot flip the selected bucket between engines.
    """
    j = _histogram_grid(obs, baseline)
    order = F.coalesce(F.col("bucket").try_cast("double"), F.lit(float("inf")))
    j = j.withColumn("b_ord", order)
    aggs = []
    for q in qs:
        thr = F.lit(q - 1e-9)
        aggs.append(
            F.min(F.when(F.col("cdf_obs") >= thr, F.col("b_ord"))).alias(f"qo_{int(q * 100)}")
        )
        aggs.append(
            F.min(F.when(F.col("cdf_exp") >= thr, F.col("b_ord"))).alias(f"qe_{int(q * 100)}")
        )
    agg = j.groupBy("part_id", "col").agg(*aggs, F.max("n_tot").alias("n"))
    per_q = [
        F.struct(
            F.lit(q).alias("q"),
            F.col(f"qo_{int(q * 100)}").alias("b_obs"),
            F.col(f"qe_{int(q * 100)}").alias("b_exp"),
            (F.col(f"qo_{int(q * 100)}") - F.col(f"qe_{int(q * 100)}")).alias("shift"),
        )
        for q in qs
    ]
    return agg.select(
        "part_id", "col", F.explode(F.array(*per_q)).alias("e"), "n"
    ).select("part_id", "col", "e.q", "e.b_obs", "e.b_exp", "e.shift", "n")


def drift_verdicts(
    metrics: DataFrame, ks_alpha: float = 0.01, psi_max: float = 0.2
) -> DataFrame:
    """Per-(partition, column) drift verdicts in the engine verdict schema."""
    path = column_pointer(F.col("col"))
    return metrics.select(
        "part_id",
        F.concat(F.lit("drift@"), path).alias("check_id"),
        F.lit("drift").alias("keyword"),
        path.alias("path"),
        ((F.col("ks_p") >= F.lit(ks_alpha)) & (F.col("psi") <= F.lit(psi_max))).alias("passed"),
        F.when(
            (F.col("ks_p") < F.lit(ks_alpha)) | (F.col("psi") > F.lit(psi_max)), F.lit(1)
        ).otherwise(F.lit(0)).cast("long").alias("n_violations"),
    )
