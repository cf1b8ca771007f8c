"""A warm pass reuses its compiled classes instead of compiling them again.

Spark caches the classes whole-stage codegen compiles, keyed by their
source, in an LRU bounded by ``spark.sql.codegen.cache.maxEntries``. One
batch cycle needs ~160-190 distinct classes, so a cache smaller than the
working set evicts each class before its next use and every warm pass
re-runs Janino (and the JIT) on all of it. ``session.get_spark`` sizes the
cache to the engine's working set; these tests pin the effect with Spark's
own compile counter.
"""

from __future__ import annotations

import itertools
import random

import pytest

from salesdata_engineering_spark import io, marts, pipeline
from salesdata_engineering_spark.ingest import STATUS_DONE, FileLedger, ingest_batch
from salesdata_engineering_spark.registry import QUERIES
from salesdata_engineering_spark.session import codegen_compiles

HEADER = "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost"
MONTHS = {
    "2024-01": f"{HEADER}\n1,121,oats,2024-01-05,1,100,2,200\n2,122,milk,2024-01-07,4,60,1,60\n",
    "2024-02": f"{HEADER},payment_mode\n1,121,ghee,2024-02-11,2,500,1,500,cash\n"
    "3,122,milk,2024-02-12,4,60,5,300,UPI\n",
    "2024-03": f"{HEADER}\n2,121,sugar,2024-03-02,1,50,4,200\n",
}
QUERY_PAIR = ("sales_team_mart", "text_pii_scrub")


@pytest.fixture()
def batch_cycle(spark, sf_dir, tmp_path):
    """One cycle of the reference's batch job in a fresh directory: load
    two landed months (ingest → both marts → partitioned sinks), land a
    third and reload incrementally (dynamic partition overwrite), then
    rebuild both marts from the sf tables."""
    runs = itertools.count()

    def run() -> None:
        root = tmp_path / f"cycle{next(runs)}"
        landing = root / "landing"
        landing.mkdir(parents=True)
        ledger = FileLedger(spark, str(root / "ledger"))
        cust = spark.createDataFrame(
            [(1, "Ada L"), (2, "Grace H"), (3, "Edsger D")], "customer_id int, full_name string"
        )
        for months, write in (
            (("2024-01", "2024-02"), io.write_parquet_partitioned),
            (("2024-03",), io.write_partition_overwrite_dynamic),
        ):
            for m in months:
                (landing / f"sales_data_{m}-28.csv").write_text(MONTHS[m])
            df, report = ingest_batch(spark, str(landing), str(root / "errors"), ledger)
            write(marts.customer_monthly_spend(df, cust), str(root / "customers"), ["sales_month"])
            write(marts.sales_team_mart(df), str(root / "sales"), ["sales_month", "store_id"])
            ledger.record(report.accepted, STATUS_DONE)
        pipeline.run_full_pipeline(spark, sf_dir, str(root / "rebuild"))

    return run


def _run_queries(spark, sf_dir) -> None:
    for name in QUERY_PAIR:
        df = QUERIES[name].fn(spark, sf_dir)
        df._jdf.queryExecution().executedPlan()
        df.write.format("noop").mode("overwrite").save()


def test_codegen_compiles_counts_new_classes_only(spark):
    # a literal no other query uses: its generated code is new to the cache
    query = f"id * {random.randrange(10**12)} AS x"
    before = codegen_compiles(spark)
    spark.range(50).selectExpr(query).agg({"x": "sum"}).collect()
    mid = codegen_compiles(spark)
    spark.range(50).selectExpr(query).agg({"x": "sum"}).collect()
    assert mid > before
    assert codegen_compiles(spark) == mid


def test_warm_pass_compiles_nothing(spark, sf_dir, batch_cycle):
    """A long-lived session serving registry queries between batch cycles:
    once both have run, rerunning the queries (after a cycle's worth of
    other classes went through the cache) and rerunning the cycle compile
    no class again."""
    _run_queries(spark, sf_dir)
    batch_cycle()
    before = codegen_compiles(spark)
    _run_queries(spark, sf_dir)
    queries = codegen_compiles(spark) - before
    batch_cycle()
    cycle = codegen_compiles(spark) - before - queries
    assert (queries, cycle) == (0, 0), f"recompiled: {queries} by {QUERY_PAIR}, {cycle} by the cycle"
