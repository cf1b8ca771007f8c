"""The full batch pipeline, composed — and the reference's biggest
performance bug fixed.

The reference re-executes the whole scan→join plan for EVERY action:
three .show() calls and four writes each recompute the joins
(main.py:215-274 in /root/reference — no .cache() anywhere, ≥6 full
executions per run; SURVEY §3.1 step 8). Here the enriched fact is
persisted once (MEMORY_AND_DISK: at 100 TB the working set spills,
never recomputes) and every downstream mart/write reads the persisted
copy; the alternative staged-write variant (write the enriched fact,
read it back) trades memory for a rerun-friendly materialization and
is what a multi-job deployment should do.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .datasets import canonical_sales, load_tables
from .io import write_parquet_partitioned
from .marts import customer_monthly_spend, sales_team_mart


@dataclass
class PipelineResult:
    customer_mart_rows: int
    sales_mart_rows: int
    out_dir: str


def run_full_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    persist: bool = True,
) -> PipelineResult:
    """scan → enrich (star joins) → persist ONCE → both marts →
    partitioned parquet marts. One execution of the join pipeline total
    (the reference runs it ≥6 times)."""
    tables = load_tables(spark, sf_dir)
    sales = canonical_sales(tables)
    if persist:
        sales = sales.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cust_dim = tables["customer"].select(
            F.col("c_custkey").cast("int").alias("customer_id"),
            F.col("c_name").alias("full_name"),
        )
        cmart = customer_monthly_spend(sales, cust_dim).withColumn(
            "sales_month_p", F.col("sales_month")
        )
        smart = sales_team_mart(sales).withColumn(
            "sales_month_p", F.col("sales_month")
        )

        def _write_mart(mart: DataFrame, name: str, partition_by: list[str]) -> int:
            """Write one mart; its row count is observed on the write
            itself (no read-back, no extra job)."""
            spark.sparkContext.setJobDescription(f"pipeline: {name}")
            obs = Observation(name)
            write_parquet_partitioned(
                mart.observe(obs, F.count(F.lit(1)).alias("rows")),
                f"{out_dir}/{name}",
                partition_by,
            )
            return obs.get["rows"]

        cust_args = (cmart, "customers_data_mart", ["sales_month_p"])
        sales_args = (smart, "sales_team_data_mart", ["sales_month_p", "store_id"])
        if persist:
            # Materialize the shared fact ONCE, then run the two
            # independent mart writes CONCURRENTLY: the scheduler
            # back-fills each partitioned write's straggler
            # tail with the other chain's tasks instead of leaving the
            # cluster idle between sequential actions. The up-front count
            # exists because two concurrently-launched cold jobs would
            # each compute the join pipeline before the cache fills; on
            # the persisted frame it is one pass that the first mart
            # aggregate previously paid anyway. (persist=False keeps the
            # sequential shape: without the shared cache, concurrent
            # chains would recompute the fact twice.)
            sales.count()
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                c_fut = pool.submit(_write_mart, *cust_args)
                s_fut = pool.submit(_write_mart, *sales_args)
                c_rows, s_rows = c_fut.result(), s_fut.result()
        else:
            c_rows, s_rows = _write_mart(*cust_args), _write_mart(*sales_args)
        return PipelineResult(c_rows, s_rows, out_dir)
    finally:
        spark.sparkContext.setJobDescription(None)
        if persist:
            sales.unpersist()
