"""Locus-overlap detection: which credible-set pairs share tag variants.

Re-expresses the reference's ``find_overlaps`` pipeline
(reference: src/gentropy/dataset/study_locus.py:487-607,821-858):

1. explode each locus' credible set into (studyLocusId, tagVariantId)
   tag rows,
2. self-join on (chromosome, tagVariantId) with the asymmetry
   predicates (left is GWAS; right is molecular trait OR the
   id-ordered half of GWAS-GWAS pairs) → distinct peak pairs,
3. join each pair back to both loci's credible-set rows and align the
   two ``locus`` arrays on variantId inside the row into a
   left_*/right_* ``statistics`` struct, one row per aligned tag.

Scale notes: the self-join shuffles on (chromosome, tagVariantId) —
fine-grained keys, so it spreads well; high-frequency tag variants
are the skew risk → AQE skew-join handles it. The reference aligns
with two tag-level joins plus a full-outer join on five keys; here
the pair table joins the credible-set rows (one row per locus, not per
tag) and the alignment is a per-row map merge, so no tag-level
exchange follows the pair derivation. The joined pair rows are hash-
partitioned on ``PAIR_KEYS``, which is the grouping key of COLOC and
eCAVIAR, so their aggregation plans no further exchange. One task
aligns one pair, so a pair of very large loci (10⁴ tags each) is one
task's work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TAG_STATS_COLS = ["logBF", "posteriorProbability", "beta", "pValueMantissa", "pValueExponent"]
PAIR_KEYS = ["leftStudyLocusId", "rightStudyLocusId", "rightStudyType", "chromosome"]


def explode_locus_tags(study_locus: DataFrame) -> DataFrame:
    """Flatten the ``locus`` credible-set array into one row per tag
    (reference: study_locus.py:835-852)."""
    return (
        study_locus.filter(F.col("studyType").isNotNull())
        .select(
            "studyLocusId",
            "studyId",
            "studyType",
            "chromosome",
            "region",
            F.explode("locus").alias("tag"),
        )
        .select(
            "studyLocusId",
            "studyId",
            "studyType",
            "chromosome",
            "region",
            F.col("tag.variantId").alias("tagVariantId"),
            *[F.col(f"tag.{c}").alias(c) for c in TAG_STATS_COLS],
        )
    )


def overlapping_peaks(tags: DataFrame, intra_study_overlap: bool = False) -> DataFrame:
    """Distinct overlapping (left, right) locus pairs
    (reference: study_locus.py:487-545)."""
    left = tags.alias("left")
    right = tags.alias("right")
    if intra_study_overlap:
        condition = [
            F.col("left.studyId") == F.col("right.studyId"),
            F.col("left.chromosome") == F.col("right.chromosome"),
            F.col("left.tagVariantId") == F.col("right.tagVariantId"),
            F.col("left.studyLocusId") > F.col("right.studyLocusId"),
            F.col("left.region") != F.col("right.region"),
        ]
    else:
        condition = [
            F.col("left.chromosome") == F.col("right.chromosome"),
            F.col("left.tagVariantId") == F.col("right.tagVariantId"),
            (F.col("right.studyType") != "gwas")
            | (F.col("left.studyLocusId") > F.col("right.studyLocusId")),
            F.col("left.studyType") == F.lit("gwas"),
        ]
    return (
        left.join(right, on=condition, how="inner")
        .select(
            F.col("left.studyLocusId").alias("leftStudyLocusId"),
            F.col("right.studyLocusId").alias("rightStudyLocusId"),
            F.col("right.studyType").alias("rightStudyType"),
            F.col("left.chromosome").alias("chromosome"),
        )
        .distinct()
    )


def _aligned_tag_sql(variant_id: str, left: str, right: str) -> str:
    """One output tag: the id plus both sides' stats (a NULL side
    struct gives NULL stats)."""
    stats = [f"'left_{c}', {left}.{c}" for c in TAG_STATS_COLS] + [
        f"'right_{c}', {right}.{c}" for c in TAG_STATS_COLS
    ]
    return (
        f"named_struct('tagVariantId', {variant_id}, "
        f"'statistics', named_struct({', '.join(stats)}))"
    )


def _align_locus_arrays(left: str, right: str, tag_type: str) -> Column:
    """Full-outer alignment of two credible-set array columns on
    variantId, as an array of ``_aligned_tag_sql`` structs: matched
    ids once, ids on one side only with NULL stats on the other, and
    NULL ids always unmatched on their own side.

    When neither side repeats a variantId, the arrays become maps and
    ``map_zip_with`` merges them in one hash pass — O(n) per pair.
    ``map_from_arrays`` refuses repeated keys, so rows where a side
    repeats an id take a filter spelling instead, which keeps the
    join's cross product of the repeated tags (quadratic, but only on
    those rows). Written as one SQL expression: building it from
    Column calls costs ~0.3 s of driver round trips per query."""
    none = f"(CAST(NULL AS {tag_type}))"

    def keyed(tags: str) -> str:
        return f"filter({tags}, t -> t.variantId IS NOT NULL)"

    def unique_ids(tags: str) -> str:
        ids = f"transform({keyed(tags)}, t -> t.variantId)"
        return f"size(array_distinct({ids})) = size({ids})"

    def as_map(tags: str) -> str:
        return f"map_from_arrays(transform({keyed(tags)}, t -> t.variantId), {keyed(tags)})"

    unmatched_ids = (
        f"transform(filter({left}, t -> t.variantId IS NULL), "
        f"t -> {_aligned_tag_sql('t.variantId', 't', none)}), "
        f"transform(filter({right}, t -> t.variantId IS NULL), "
        f"t -> {_aligned_tag_sql('t.variantId', none, 't')})"
    )
    by_map = (
        f"concat(map_values(map_zip_with({as_map(left)}, {as_map(right)}, "
        f"(k, l, r) -> {_aligned_tag_sql('k', 'l', 'r')})), {unmatched_ids})"
    )
    hits = f"filter({right}, r -> r.variantId = l.variantId)"
    by_filter = (
        f"concat(flatten(transform({keyed(left)}, l -> IF(size({hits}) > 0, "
        f"transform({hits}, r -> {_aligned_tag_sql('l.variantId', 'l', 'r')}), "
        f"array({_aligned_tag_sql('l.variantId', 'l', none)})))), "
        f"transform(filter({right}, r -> r.variantId IS NOT NULL "
        f"AND NOT exists({left}, l -> l.variantId <=> r.variantId)), "
        f"r -> {_aligned_tag_sql('r.variantId', none, 'r')}), {unmatched_ids})"
    )
    return F.expr(
        f"CASE WHEN {unique_ids(left)} AND {unique_ids(right)} THEN {by_map} ELSE {by_filter} END"
    )


def find_overlaps(study_locus: DataFrame, intra_study_overlap: bool = False) -> DataFrame:
    """Full overlap pipeline: study_locus -> study_locus_overlap rows
    (reference: study_locus.py:821-858). ``studyLocusId`` keys the
    credible-set rows, as in the reference."""
    peaks = overlapping_peaks(explode_locus_tags(study_locus), intra_study_overlap)
    loci = study_locus.filter(F.col("studyType").isNotNull())

    def side(name: str) -> DataFrame:
        return loci.select(
            F.col("studyLocusId").alias(f"{name}StudyLocusId"),
            "chromosome",
            F.col("locus").alias(f"_{name}"),
        )

    tag_type = study_locus.schema["locus"].dataType.elementType.simpleString()
    return (
        peaks.join(side("left"), on=["leftStudyLocusId", "chromosome"])
        .join(side("right"), on=["rightStudyLocusId", "chromosome"])
        .repartition(*PAIR_KEYS)
        .select(
            *PAIR_KEYS,
            F.explode(_align_locus_arrays("_left", "_right", tag_type)).alias("_tag"),
        )
        .select(*PAIR_KEYS, "_tag.tagVariantId", "_tag.statistics")
    )
