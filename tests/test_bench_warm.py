"""bench.py warm-up report: ``_warm`` says whether the sf0.001
extract→chunk→embed chain ran, so a suite record can show that its
first timed Python query paid the workers' cold imports."""

import bench


def test_warm_reports_false_without_sibling_sf0001(spark, tmp_path):
    sf = tmp_path / "sf0.01"
    sf.mkdir()
    assert bench._warm(spark, str(sf)) is False
    assert bench._warm(spark) is False


def test_warm_reports_true_when_chain_runs(spark):
    # the suite's default dataset has the sf0.001 sibling next to it
    assert bench._warm(spark, bench.SF_DIR_DEFAULT) is True
