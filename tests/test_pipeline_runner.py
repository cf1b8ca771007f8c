"""run_full_pipeline: persist-once execution of the complete batch flow
(the fix for the reference's recompute-per-action anti-pattern,
SURVEY §3.1 step 8 / §4 'reuse of common subplan')."""

from __future__ import annotations

from salesdata_engineering_spark.pipeline import run_full_pipeline


def test_full_pipeline_writes_both_marts(spark, sf_dir, tmp_path):
    res = run_full_pipeline(spark, sf_dir, str(tmp_path / "marts"))
    assert res.customer_mart_rows > 0 and res.sales_mart_rows > 0
    # partitioned layouts exist
    c_parts = list((tmp_path / "marts" / "customers_data_mart").glob("sales_month_p=*"))
    s_parts = list((tmp_path / "marts" / "sales_team_data_mart").glob("sales_month_p=*/store_id=*"))
    assert c_parts and s_parts
    # marts readable and keyed as specified (one row per mart key)
    cm = spark.read.parquet(str(tmp_path / "marts" / "customers_data_mart"))
    assert cm.count() == cm.select("customer_id", "sales_month").distinct().count()


def test_pipeline_row_counts_equal_the_written_marts(spark, sf_dir, tmp_path):
    """The counts observed on the writes are the rows a reader finds, on
    the concurrent (persisted) and on the sequential path."""
    for persist in (True, False):
        out = tmp_path / f"counted_{persist}"
        res = run_full_pipeline(spark, sf_dir, str(out), persist=persist)
        assert res.customer_mart_rows == spark.read.parquet(str(out / "customers_data_mart")).count()
        assert res.sales_mart_rows == spark.read.parquet(str(out / "sales_team_data_mart")).count()


def test_pipeline_unpersists_cached_frame(spark, sf_dir, tmp_path):
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    run_full_pipeline(spark, sf_dir, str(tmp_path / "m2"))
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before  # no cache leak
