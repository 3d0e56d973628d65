"""Summary-statistics P–Z consistency regression.

Reference parity: ``method/sumstat_quality_controls.py`` (PZ check —
the reference regresses the log-p-value implied by beta/se against
the reported one to catch mis-harmonised studies; see
`src/gentropy/method/sumstat_quality_controls.py:92-180`).

Spark-first design: the whole regression is a single groupBy with
``covar_pop``/``var_pop``/``corr`` — one shuffle keyed by studyId,
map-side partial aggregation, no UDF, no driver collect. At 100 TB
this is the textbook scalable shape: per-study sufficient statistics
combine associatively across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.functions.pvalue import zscore_from_pvalue


def pz_regression(sumstats: DataFrame) -> DataFrame:
    """Per-study OLS of z_from_beta (= beta/se) on z_from_p.

    A well-harmonised study has slope ≈ 1 and intercept ≈ 0.

    Input columns: studyId, beta, standardError, pValueMantissa,
    pValueExponent. Output: one row per study with slope, intercept,
    pzCorr, nVariants.
    """
    withz = sumstats.select(
        "studyId",
        zscore_from_pvalue(
            F.col("pValueMantissa"), F.col("pValueExponent"), F.col("beta")
        ).alias("zFromP"),
        (F.col("beta") / F.col("standardError")).alias("zFromBeta"),
    ).filter(F.col("standardError") > 0)
    agg = withz.groupBy("studyId").agg(
        F.covar_pop("zFromP", "zFromBeta").alias("cov"),
        F.var_pop("zFromP").alias("varx"),
        F.avg("zFromP").alias("meanx"),
        F.avg("zFromBeta").alias("meany"),
        F.corr("zFromP", "zFromBeta").alias("pzCorr"),
        F.count(F.lit(1)).alias("nVariants"),
    )
    slope = F.col("cov") / F.col("varx")
    return agg.select(
        "studyId",
        slope.alias("pzSlope"),
        (F.col("meany") - slope * F.col("meanx")).alias("pzIntercept"),
        "pzCorr",
        "nVariants",
    )


def sumstat_qc_metrics(
    sumstats: DataFrame, pval_threshold: float = 5e-8, exact_median: bool = False
) -> DataFrame:
    """The reference's composed per-study QC panel
    (method/sumstat_quality_controls.py get_quality_control_metrics):
    one row per study with

    - ``n_variants`` / ``n_variants_sig`` (count below threshold on
      log10-decomposed p-values),
    - ``gc_lambda`` = median(Z²)/χ²₁⁻¹(0.5),
    - ``mean_beta``,
    - ``mean_diff_pz`` / ``se_diff_pz``: mean and sd of
      −log10(p_reported) − (−log10(χ²-tail(Z²))) over Z² ≤ 100 —
      the reference computes the tail in a scipy row UDF
      (:53-66); here it is the tail-accurate closed-form erfc, and
      the Z² ≤ 100 filter is a CASE inside the aggregate (NULL when
      no row qualifies, sd NULL on one row), so the whole panel is
      one aggregation — one shuffle — on studyId.
    """
    import math

    from genetics_spark_coloc_spark.functions.stats import neg_log10_chi2_sf_1df

    chi2_median_1df = 0.45493642311957174  # χ²₁ quantile at 0.5
    z2 = (F.col("beta") / F.col("standardError")) ** 2
    base = sumstats.withColumn("_z2", z2)
    # percentile_approx mirrors the reference; its ~1/10000 rank error
    # can move gc_lambda in the 2nd-3rd decimal on multi-million-row
    # studies — pass exact_median=True when gc_lambda feeds a hard
    # QC threshold
    median_z2 = (
        F.percentile("_z2", F.lit(0.5))
        if exact_median
        else F.percentile_approx("_z2", 0.5)
    )
    pz_diff = F.when(
        F.col("_z2") <= 100,
        -F.log10("pValueMantissa")
        - F.col("pValueExponent")
        - neg_log10_chi2_sf_1df(F.col("_z2")),
    )
    return base.groupBy("studyId").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.sum(
            (
                F.log10(F.col("pValueMantissa")) + F.col("pValueExponent")
                <= math.log10(pval_threshold)
            ).cast("int")
        ).alias("n_variants_sig"),
        (median_z2 / F.lit(chi2_median_1df)).alias("gc_lambda"),
        F.mean("beta").alias("mean_beta"),
        F.mean(pz_diff).alias("mean_diff_pz"),
        F.stddev(pz_diff).alias("se_diff_pz"),
    )


def sumstat_n_eff_check(
    sumstats: DataFrame,
    n_total: int = 100_000,
    limit: int = 10_000_000,
    min_count: int = 100,
) -> DataFrame:
    """Effective-sample-size consistency check (reference
    sumstat_quality_controls.py:107-184): per variant,
    N̂/N = (median(phenoVar) − β²·varAF) / (SE²·varAF·N) with
    varAF = 2·EAF·(1−EAF) and phenoVar = SE²·N·varAF + β²·varAF;
    the per-study sd of that ratio (``se_N``) flags studies whose
    reported N is inconsistent with their SE/EAF. Needs
    ``effectAlleleFrequencyFromSource``; studies with fewer than
    ``min_count`` such variants are dropped, and at most ``limit``
    variants per study are used.
    """
    from pyspark.sql.window import Window

    df = sumstats.dropna(subset=["effectAlleleFrequencyFromSource"])
    counts = df.groupBy("studyId").agg(F.count(F.lit(1)).alias("_n"))
    df = df.join(counts, on="studyId").filter(F.col("_n") >= min_count).drop("_n")
    # the reference orders this sampling window by the partition key
    # itself (sumstat_quality_controls.py:140), which makes the kept
    # subset shuffle-order dependent; order by variantId (or position)
    # so the limit is replayable
    order_col = (
        "variantId"
        if "variantId" in df.columns
        else ("position" if "position" in df.columns else "studyId")
    )
    w = Window.partitionBy("studyId").orderBy(order_col)
    df = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .drop("_rn")
    )
    var_af = 2 * (
        F.col("effectAlleleFrequencyFromSource")
        * (1 - F.col("effectAlleleFrequencyFromSource"))
    )
    df = df.withColumn("_varAf", var_af).withColumn(
        "_phenoVar",
        (F.col("standardError") ** 2) * n_total * F.col("_varAf")
        + (F.col("beta") ** 2) * F.col("_varAf"),
    )
    df = df.withColumn(
        "_phenoMedian",
        F.expr("percentile_approx(_phenoVar, 0.5)").over(
            Window.partitionBy("studyId")
        ),
    ).withColumn(
        "_nHatRatio",
        (F.col("_phenoMedian") - (F.col("beta") ** 2) * F.col("_varAf"))
        / ((F.col("standardError") ** 2) * F.col("_varAf") * n_total),
    )
    return df.groupBy("studyId").agg(F.stddev("_nHatRatio").alias("se_N"))
