"""Edge cases of the per-study QC panel (``operators.qc.sumstat_qc_metrics``):
the P–Z difference statistics only count rows with Z² ≤ 100."""

from __future__ import annotations

import pytest

from genetics_spark_coloc_spark.operators.qc import sumstat_qc_metrics

SCHEMA = (
    "studyId string, beta double, standardError double, "
    "pValueMantissa float, pValueExponent int"
)


def test_pz_difference_nulls_without_qualifying_rows(spark):
    rows = [
        # every row Z² = 400 > 100: no P–Z difference at all
        ("all_high", 1.0, 0.05, 1.0, -80),
        ("all_high", -1.0, 0.05, 1.0, -80),
        # one qualifying row (Z² = 4): a mean, but no sample sd
        ("one_row", 0.2, 0.1, 4.55, -2),
        ("one_row", 1.0, 0.05, 1.0, -80),
        # two qualifying rows (Z² = 4, 1): both statistics defined
        ("two_rows", 0.2, 0.1, 4.55, -2),
        ("two_rows", 0.1, 0.1, 3.17, -1),
    ]
    got = {
        r["studyId"]: r
        for r in sumstat_qc_metrics(spark.createDataFrame(rows, SCHEMA)).collect()
    }
    assert got["all_high"]["n_variants"] == 2
    assert got["all_high"]["mean_diff_pz"] is None
    assert got["all_high"]["se_diff_pz"] is None

    assert got["one_row"]["n_variants"] == 2
    assert got["one_row"]["mean_diff_pz"] is not None
    assert got["one_row"]["se_diff_pz"] is None

    # the statistics see only the qualifying rows: the one-row study's
    # mean is its single qualifying row's difference, which the
    # two-row study shares
    two = got["two_rows"]
    assert two["se_diff_pz"] is not None and two["se_diff_pz"] > 0
    only_first = sumstat_qc_metrics(spark.createDataFrame([rows[2]], SCHEMA)).first()
    assert got["one_row"]["mean_diff_pz"] == pytest.approx(only_first["mean_diff_pz"])
    assert got["one_row"]["mean_diff_pz"] == pytest.approx(0.0, abs=1e-2)
