"""Tests for find_overlaps / credible-set annotation / dataset core."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.core.dataset import Dataset, SchemaValidationError, validate_schema
from genetics_spark_coloc_spark.core.schema_registry import get_schema
from genetics_spark_coloc_spark.operators.credible_sets import annotate_credible_sets, qc_abnormal_pips
from genetics_spark_coloc_spark.operators.overlaps import find_overlaps

LOCUS_SCHEMA = (
    "studyLocusId: string, studyId: string, studyType: string, chromosome: string, "
    "region: string, locus: array<struct<variantId: string, posteriorProbability: double, "
    "logBF: double, beta: double, pValueMantissa: float, pValueExponent: int>>"
)


def _locus(slid, study, stype, chrom, tags):
    return {
        "studyLocusId": slid,
        "studyId": study,
        "studyType": stype,
        "chromosome": chrom,
        "region": f"{chrom}:1-1000",
        "locus": [
            {
                "variantId": t,
                "posteriorProbability": pp,
                "logBF": 1.0,
                "beta": 0.1,
                "pValueMantissa": 1.0,
                "pValueExponent": -8,
            }
            for t, pp in tags
        ],
    }


def test_find_overlaps_gwas_vs_eqtl(spark):
    df = spark.createDataFrame(
        [
            _locus("L1", "S1", "gwas", "1", [("v1", 0.5), ("v2", 0.5)]),
            _locus("L2", "S2", "eqtl", "1", [("v2", 0.8), ("v3", 0.2)]),
            _locus("L3", "S3", "gwas", "2", [("v9", 1.0)]),  # no overlap
        ],
        schema=LOCUS_SCHEMA,
    )
    overlaps = find_overlaps(df)
    rows = overlaps.collect()
    # pair (L1, L2) overlap on v2; aligned tags = union {v1, v2, v3}
    assert {(r["leftStudyLocusId"], r["rightStudyLocusId"]) for r in rows} == {("L1", "L2")}
    assert {r["tagVariantId"] for r in rows} == {"v1", "v2", "v3"}
    by_tag = {r["tagVariantId"]: r["statistics"] for r in rows}
    assert by_tag["v1"]["right_posteriorProbability"] is None  # left-only tag
    assert by_tag["v3"]["left_posteriorProbability"] is None  # right-only tag
    assert by_tag["v2"]["left_posteriorProbability"] == 0.5
    assert by_tag["v2"]["right_posteriorProbability"] == 0.8


def test_find_overlaps_gwas_gwas_dedup(spark):
    df = spark.createDataFrame(
        [
            _locus("A", "S1", "gwas", "1", [("v1", 1.0)]),
            _locus("B", "S2", "gwas", "1", [("v1", 1.0)]),
        ],
        schema=LOCUS_SCHEMA,
    )
    pairs = {
        (r["leftStudyLocusId"], r["rightStudyLocusId"])
        for r in find_overlaps(df).select("leftStudyLocusId", "rightStudyLocusId").collect()
    }
    # only the id-ordered half is kept: left id > right id
    assert pairs == {("B", "A")}


def test_find_overlaps_eqtl_never_left(spark):
    df = spark.createDataFrame(
        [
            _locus("A", "S1", "eqtl", "1", [("v1", 1.0)]),
            _locus("B", "S2", "eqtl", "1", [("v1", 1.0)]),
        ],
        schema=LOCUS_SCHEMA,
    )
    assert find_overlaps(df).count() == 0


def _tag(variant_id, pp, beta):
    return {
        "variantId": variant_id,
        "posteriorProbability": pp,
        "logBF": 1.0,
        "beta": beta,
        "pValueMantissa": 1.0,
        "pValueExponent": -8,
    }


def _edge_loci(region_l3="1:1-1000"):
    """L1/gwas repeats v2 and carries a NULL id; L2/eqtl carries a NULL
    id; L3/gwas shares v2 (beta 0) with both and v3 with L2; L4 and L5
    have an empty and a NULL credible set."""
    l1 = [_tag("v1", 0.1, 0.1), _tag("v2", 0.2, -0.2), _tag("v2", 0.6, 0.3), _tag(None, 0.1, 0.5)]
    l2 = [_tag("v2", 0.9, 0.4), _tag("v3", 0.05, 0.2), _tag(None, 0.05, 0.1)]
    l3 = [_tag("v2", 0.7, 0.0), _tag("v3", 0.2, -0.1), _tag("v4", 0.1, 0.3)]
    return [
        ("L1", "S1", "gwas", "1", "1:1-1000", l1),
        ("L2", "S2", "eqtl", "1", "1:1-1000", l2),
        ("L3", "S1", "gwas", "1", region_l3, l3),
        ("L4", "S3", "gwas", "1", "1:1-1000", []),
        ("L5", "S4", "gwas", "1", "1:1-1000", None),
    ]


def _overlap_rows(df):
    return Counter(
        (
            r["leftStudyLocusId"],
            r["rightStudyLocusId"],
            r["tagVariantId"] or "",
            r["statistics"]["left_posteriorProbability"],
            r["statistics"]["right_posteriorProbability"],
        )
        for r in df.collect()
    )


def test_find_overlaps_aligns_repeated_and_null_tag_ids(spark):
    """A repeated id pairs as a cross product (two v2 rows); NULL ids
    never match and come out once on their own side."""
    df = spark.createDataFrame(_edge_loci()[:2], schema=LOCUS_SCHEMA)
    assert _overlap_rows(find_overlaps(df)) == Counter([
        ("L1", "L2", "", None, 0.05),
        ("L1", "L2", "", 0.1, None),
        ("L1", "L2", "v1", 0.1, None),
        ("L1", "L2", "v2", 0.2, 0.9),
        ("L1", "L2", "v2", 0.6, 0.9),
        ("L1", "L2", "v3", None, 0.05),
    ])


def test_find_overlaps_and_beta_ratio_match_the_duckdb_oracle(spark):
    """find_overlaps rows and the beta-ratio sign average of eCAVIAR and
    COLOC equal the registry's DuckDB spellings (``SQL_FIND_OVERLAPS``,
    the ``beta_ratio`` CTE of ``SQL_ECAVIAR``) on the edge-case loci."""
    import duckdb
    import pandas as pd

    from genetics_spark_coloc_spark import queries
    from genetics_spark_coloc_spark.operators.coloc import coloc, ecaviar

    loci = _edge_loci()
    tags = pd.DataFrame(
        [
            {
                "studyLocusId": slid,
                "studyType": stype,
                "chromosome": chrom,
                "tagVariantId": t["variantId"],
                "posteriorProbability": t["posteriorProbability"],
                "logBF": t["logBF"],
                "beta": t["beta"],
            }
            for slid, _, stype, chrom, _, locus in loci
            for t in locus or []
        ]
    )
    con = duckdb.connect()
    con.register("fixture_tags", tags)

    def oracle(sql):
        bound = sql.replace(queries.TAGS_SQL.strip(), "tags AS (SELECT * FROM fixture_tags)")
        return con.execute(bound).fetchdf()

    overlaps = find_overlaps(spark.createDataFrame(loci, schema=LOCUS_SCHEMA))
    want = oracle(queries.SQL_FIND_OVERLAPS)
    assert _overlap_rows(overlaps) == Counter(
        (r.leftStudyLocusId, r.rightStudyLocusId, r.tagVariantId or "",
         None if pd.isna(r.left_pp) else r.left_pp,
         None if pd.isna(r.right_pp) else r.right_pp)
        for r in want.itertuples()
    )
    assert {(r.leftStudyLocusId, r.rightStudyLocusId) for r in want.itertuples()} == {
        ("L1", "L2"), ("L3", "L1"), ("L3", "L2")
    }

    want_ratio = {
        (r.leftStudyLocusId, r.rightStudyLocusId): (
            None if pd.isna(r.betaRatioSignAverage) else r.betaRatioSignAverage
        )
        for r in oracle(queries.SQL_ECAVIAR).itertuples()
    }
    # L3's shared v2 has beta 0, so (L3, L1) has no qualifying tag
    assert want_ratio == {("L1", "L2"): 0.0, ("L3", "L1"): None, ("L3", "L2"): -1.0}
    for method in (ecaviar, coloc):
        got = {
            (r["leftStudyLocusId"], r["rightStudyLocusId"]): r["betaRatioSignAverage"]
            for r in method(overlaps).collect()
        }
        # COLOC keeps every pair here: each shares a tag with pp > 0.5 on both sides
        assert got == want_ratio, method.__name__


def test_find_overlaps_intra_study(spark):
    """Intra-study pairs: same study, different region, id-ordered;
    L1/L3 share v2 (repeated in L1) and L3 sits in another region."""
    df = spark.createDataFrame(_edge_loci(region_l3="1:2000-3000"), schema=LOCUS_SCHEMA)
    assert _overlap_rows(find_overlaps(df, intra_study_overlap=True)) == Counter([
        ("L3", "L1", "", None, 0.1),
        ("L3", "L1", "v1", None, 0.1),
        ("L3", "L1", "v2", 0.7, 0.2),
        ("L3", "L1", "v2", 0.7, 0.6),
        ("L3", "L1", "v3", 0.2, None),
        ("L3", "L1", "v4", 0.1, None),
    ])
    same_region = spark.createDataFrame(_edge_loci(), schema=LOCUS_SCHEMA)
    assert find_overlaps(same_region, intra_study_overlap=True).count() == 0


def test_annotate_credible_sets(spark):
    df = spark.createDataFrame(
        [_locus("L1", "S1", "gwas", "1", [("v1", 0.05), ("v2", 0.6), ("v3", 0.3), ("v4", 0.05)])],
        schema=LOCUS_SCHEMA,
    )
    out = annotate_credible_sets(df).collect()[0]["locus"]
    # sorted desc by pp: v2 .6, v3 .3, v1/.05, v4/.05
    assert [t["variantId"] for t in out][:2] == ["v2", "v3"]
    flags95 = {t["variantId"]: t["is95CredibleSet"] for t in out}
    # exclusive prefix: v2:0, v3:0.6, then 0.9, then 0.95
    assert flags95["v2"] and flags95["v3"]
    assert sum(1 for t in out if t["is95CredibleSet"]) == 3
    assert all(t["is99CredibleSet"] for t in out[:3])


def test_qc_abnormal_pips(spark):
    good = _locus("L1", "S1", "gwas", "1", [("v1", 0.5), ("v2", 0.5)])
    bad = _locus("L2", "S1", "gwas", "1", [("v1", 0.2), ("v2", 0.2)])
    df = spark.createDataFrame([good, bad], schema=LOCUS_SCHEMA).withColumn(
        "qualityControls", F.array().cast("array<string>")
    )
    rows = {r["studyLocusId"]: r["qualityControls"] for r in qc_abnormal_pips(df).collect()}
    assert rows["L1"] == []
    assert len(rows["L2"]) == 1


def test_dataset_schema_validation(spark):
    good = spark.createDataFrame(
        [("S1", "GCST", "gwas")], "studyId: string, projectId: string, studyType: string"
    )
    # missing mandatory columns is fine for nullable ones only
    ds = Dataset(good, "study_index")
    assert ds.df.count() == 1

    extra = good.withColumn("rogue", F.lit(1))
    with pytest.raises(SchemaValidationError, match="unexpected columns"):
        Dataset(extra, "study_index")

    wrong_type = good.withColumn("nSamples", F.lit("not-an-int"))
    with pytest.raises(SchemaValidationError, match="type mismatch"):
        Dataset(wrong_type, "study_index")


def test_validate_schema_missing_mandatory(spark):
    df = spark.createDataFrame([("GCST", "gwas")], "projectId: string, studyType: string")
    with pytest.raises(SchemaValidationError, match="missing mandatory"):
        validate_schema(df.schema, get_schema("study_index"))
