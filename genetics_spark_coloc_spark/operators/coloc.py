"""Bayesian colocalisation: eCAVIAR (CLPP) and COLOC (h0-h4).

Re-expresses reference src/gentropy/method/colocalisation.py:99-448
with zero Python UDFs: the reference's ``logsum`` and softmax
``posteriors`` UDFs become stable higher-order array expressions
(max-shifted logsumexp / softmax), keeping the whole aggregation in
whole-stage codegen. The log-space order of operations mirrors the
reference exactly (H3 via max-shifted log-difference with the same
PSEUDOCOUNT short-circuit) so posterior values match to ~1e-12.

Input is the study_locus_overlap shape: one row per
(leftStudyLocusId, rightStudyLocusId, tagVariantId) with a
``statistics`` struct of left_*/right_* tag stats.

Scale notes: one aggregation per method — groupBy the locus pair
(fine-grained key), with the beta-ratio sign average as one more
aggregate of the same groupBy. ``find_overlaps`` output is already
hash-partitioned on the pair key, so on it that groupBy plans no
exchange at all.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.functions.arrays import logsumexp, softmax
from genetics_spark_coloc_spark.functions.reshape import (
    get_record_with_maximum_value,
)

from genetics_spark_coloc_spark.operators.overlaps import PAIR_KEYS

# column order of both methods' results (the colocalisation table's
# layout, which readers of written results rely on)
RESULT_KEYS = ["leftStudyLocusId", "rightStudyLocusId", "chromosome", "rightStudyType"]

# COLOC constants (reference: colocalisation.py:210-219)
PSEUDOCOUNT = 1e-10
OVERLAP_SIZE_CUTOFF = 5
POSTERIOR_CUTOFF = 0.5


def tag_variant_source(statistics: Column) -> Column:
    """'both' | 'left' | 'right' depending on which side has a
    posterior for the tag (reference: colocalisation.py:26-70)."""
    return (
        F.when(
            statistics["left_posteriorProbability"].isNotNull()
            & statistics["right_posteriorProbability"].isNotNull(),
            F.lit("both"),
        )
        .when(statistics["left_posteriorProbability"].isNotNull(), F.lit("left"))
        .otherwise(F.lit("right"))
    )


def beta_ratio_sign_average(statistics: Column) -> Column:
    """Aggregate: average sign of the left/right beta ratio over the
    tags where both betas are non-null and non-zero; NULL when no tag
    qualifies (reference: dataset/study_locus_overlap.py:55-83)."""
    lb, rb = statistics["left_beta"], statistics["right_beta"]
    qualifies = lb.isNotNull() & rb.isNotNull() & (lb != 0) & (rb != 0)
    return F.avg(F.when(qualifies, F.signum(lb / rb))).alias("betaRatioSignAverage")


def ecaviar(overlaps: DataFrame) -> DataFrame:
    """eCAVIAR CLPP per locus pair (reference: colocalisation.py:99-189).

    clpp = Σ_tags left_pp * right_pp; pure groupBy-sum.
    """
    return (
        overlaps.withColumn(
            "clpp",
            F.col("statistics.left_posteriorProbability")
            * F.col("statistics.right_posteriorProbability"),
        )
        .withColumn("tagVariantSource", tag_variant_source(F.col("statistics")))
        .groupBy(*PAIR_KEYS)
        .agg(
            # tag-sorted struct: deterministic summation order so the
            # CLPP is bit-reproducible across partitionings
            F.sort_array(
                F.collect_list(
                    F.struct("tagVariantId", "tagVariantSource", "clpp")
                )
            ).alias("tags"),
            beta_ratio_sign_average(F.col("statistics")),
        )
        .withColumn(
            "numberColocalisingVariants",
            F.size(
                F.filter(F.col("tags.tagVariantSource"), lambda x: x == "both")
            ).cast("long"),
        )
        .withColumn("_clpps", F.filter(F.col("tags.clpp"), lambda x: x.isNotNull()))
        .withColumn(
            # SUM-with-null-skip semantics: fold non-null values in tag
            # order; all-null group -> NULL (matches F.sum / SQL SUM)
            "clpp",
            F.when(
                F.size("_clpps") > 0,
                F.aggregate(F.col("_clpps"), F.lit(0.0), lambda acc, x: acc + x),
            ),
        )
        .select(
            *RESULT_KEYS,
            "numberColocalisingVariants",
            "clpp",
            F.lit("eCAVIAR").alias("colocalisationMethod"),
            "betaRatioSignAverage",
        )
    )


def coloc(
    overlaps: DataFrame,
    priorc1: float = 1e-4,
    priorc2: float = 1e-4,
    priorc12: float = 1e-5,
) -> DataFrame:
    """COLOC h0-h4 posteriors per locus pair
    (reference: colocalisation.py:192-448).

    Single-causal-variant assumption; needs per-tag ``logBF`` on both
    sides. Hypothesis Bayes factors in log space:

        lH0 = 0
        lH1 = log(p1) + logsumexp(left_logBF)
        lH2 = log(p2) + logsumexp(right_logBF)
        lH3 = log(p1) + log(p2) + log(exp(ls1+ls2) - exp(ls12))  [max-shifted]
        lH4 = log(p12) + logsumexp(left_logBF + right_logBF)

    posteriors = softmax([lH0..lH4]).
    """
    # collect ONE tag-sorted struct array: (a) every derived array is
    # pairwise-aligned by construction, (b) summation order is
    # deterministic (sorted by tagVariantId), so posteriors are
    # bit-reproducible across partitionings and re-runs
    grouped = (
        overlaps.withColumn("tagVariantSource", tag_variant_source(F.col("statistics")))
        .select(
            *PAIR_KEYS,
            "tagVariantId",
            "tagVariantSource",
            F.coalesce(F.col("statistics.left_logBF"), F.lit(0.0)).alias("left_logBF"),
            F.coalesce(F.col("statistics.right_logBF"), F.lit(0.0)).alias("right_logBF"),
            F.coalesce(F.col("statistics.left_posteriorProbability"), F.lit(0.0)).alias(
                "left_pp"
            ),
            F.coalesce(F.col("statistics.right_posteriorProbability"), F.lit(0.0)).alias(
                "right_pp"
            ),
            "statistics",
        )
        .withColumn("sum_log_bf", F.col("left_logBF") + F.col("right_logBF"))
        .groupBy(*PAIR_KEYS)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "tagVariantId",
                        "tagVariantSource",
                        "left_logBF",
                        "right_logBF",
                        "sum_log_bf",
                        "left_pp",
                        "right_pp",
                    )
                )
            ).alias("tags"),
            beta_ratio_sign_average(F.col("statistics")),
        )
        .withColumn(
            "numberColocalisingVariants",
            F.size(
                F.filter(F.col("tags.tagVariantSource"), lambda x: x == "both")
            ).cast("long"),
        )
        .withColumn("left_pps", F.col("tags.left_pp"))
        .withColumn("right_pps", F.col("tags.right_pp"))
        .withColumn("sources", F.col("tags.tagVariantSource"))
        .withColumn("logsum1", logsumexp(F.col("tags.left_logBF")))
        .withColumn("logsum2", logsumexp(F.col("tags.right_logBF")))
        .withColumn("logsum12", logsumexp(F.col("tags.sum_log_bf")))
        .drop("tags")
    )

    # "any tag has high posterior on both sides" rescue for small overlaps
    any_snp_both_sides_high = (
        F.aggregate(
            F.zip_with(
                F.arrays_zip(F.col("left_pps"), F.col("right_pps")),
                F.col("sources"),
                lambda pp, src: F.when(
                    (src == "both")
                    & (pp["left_pps"] > POSTERIOR_CUTOFF)
                    & (pp["right_pps"] > POSTERIOR_CUTOFF),
                    1.0,
                ).otherwise(0.0),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        > 0
    )

    sumlogsum = F.col("logsum1") + F.col("logsum2")
    mx = F.greatest(sumlogsum, F.col("logsum12"))
    logdiff = F.when(sumlogsum == F.col("logsum12"), F.lit(PSEUDOCOUNT)).otherwise(
        mx + F.log(F.exp(sumlogsum - mx) - F.exp(F.col("logsum12") - mx))
    )

    lh0 = F.lit(0.0)
    lh1 = F.lit(math.log(priorc1)) + F.col("logsum1")
    lh2 = F.lit(math.log(priorc2)) + F.col("logsum2")
    lh3 = F.lit(math.log(priorc1)) + F.lit(math.log(priorc2)) + logdiff
    lh4 = F.lit(math.log(priorc12)) + F.col("logsum12")

    return (
        grouped.withColumn("anySnpBothSidesHigh", any_snp_both_sides_high)
        .filter(
            (F.col("numberColocalisingVariants") > OVERLAP_SIZE_CUTOFF)
            | F.col("anySnpBothSidesHigh")
        )
        .withColumn("posteriors", softmax(F.array(lh0, lh1, lh2, lh3, lh4)))
        .select(
            *RESULT_KEYS,
            "numberColocalisingVariants",
            *[F.col("posteriors")[i].alias(f"h{i}") for i in range(5)],
            F.lit("COLOC").alias("colocalisationMethod"),
            "betaRatioSignAverage",
        )
    )


def append_study_metadata(
    colocalisation: DataFrame,
    study_locus: DataFrame,
    study_index: DataFrame,
    metadata_cols: list[str],
    colocalisation_side: str = "right",
) -> DataFrame:
    """Bring study metadata columns onto one side of a coloc result
    (reference append_study_metadata, dataset/colocalisation.py:126-160):
    locus→study LUT join, then a broadcast join on the study index;
    metadata columns come out prefixed with the side."""
    locus_lut = study_locus.select(
        F.col("studyLocusId").alias(f"{colocalisation_side}StudyLocusId"),
        F.col("studyId").alias("_sideStudyId"),
    )
    meta = study_index.select(
        F.col("studyId").alias("_sideStudyId"),
        *[
            F.col(c).alias(
                f"{colocalisation_side}{c[0].upper()}{c[1:]}"
            )
            for c in metadata_cols
        ],
    )
    return (
        colocalisation.join(
            F.broadcast(locus_lut), on=f"{colocalisation_side}StudyLocusId"
        )
        .join(F.broadcast(meta), on="_sideStudyId", how="left")
        .drop("_sideStudyId")
    )


def max_coloc_probability_per_region_and_gene(
    colocalisation: DataFrame,
    study_locus: DataFrame,
    study_index: DataFrame,
    *,
    filter_by_colocalisation_method: str,
    filter_by_qtls: list[str] | None = None,
) -> DataFrame:
    """Strongest colocalisation per (GWAS studyLocus, gene)
    (reference extract_maximum_coloc_probability_per_region_and_gene,
    dataset/colocalisation.py:39-124): annotate the right side with
    (geneId, studyType), filter to the requested method / QTL types,
    restrict to the provided loci, then rank-1 per (locus, gene) on
    the method's metric (clpp for eCAVIAR, h4 for COLOC)."""
    method = filter_by_colocalisation_method.lower()
    metric = {"ecaviar": "clpp", "coloc": "h4"}[method]
    annotated = append_study_metadata(
        colocalisation,
        study_locus,
        study_index,
        metadata_cols=["geneId", "studyType"],
        colocalisation_side="right",
    )
    cond = F.col("rightGeneId").isNotNull() & (
        F.lower(F.col("colocalisationMethod")) == method
    )
    if filter_by_qtls:
        cond &= F.lower(F.col("rightStudyType")).isin(
            [q.lower() for q in filter_by_qtls]
        )
    filtered = annotated.filter(cond).join(
        study_locus.select(F.col("studyLocusId").alias("leftStudyLocusId")).distinct(),
        on="leftStudyLocusId",
    )
    return get_record_with_maximum_value(
        filtered.withColumnRenamed("leftStudyLocusId", "studyLocusId")
        .withColumnRenamed("rightGeneId", "geneId"),
        ["studyLocusId", "geneId"],
        metric,
    )
