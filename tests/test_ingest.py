"""Ingestion-lifecycle tests on the three FIXTURES.md input shapes:
valid / extra-column (folded) / missing-column (rejected), plus ledger
A/I semantics and rerun (recovery) behavior — the reference's
main.py:33-204 pipeline as observable behavior."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from salesdata_engineering_spark.ingest import (
    ADDITIONAL_COLUMN,
    STATUS_DONE,
    FileLedger,
    ingest_batch,
    read_with_fold,
    union_files,
    validate_files,
)

VALID_CSV = """customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost
6,121,quaker oats,2024-01-01,1,212,4,848
18,123,sugar,2024-01-01,8,50,5,250
"""

EXTRA_CSV = """customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,payment_mode,channel
3,122,refined oil,2024-01-02,5,110,2,220,cash,web
9,121,clean wipes,2024-01-02,2,200,1,200,UPI,store
"""

MISSING_CSV = """customer_id,product_name,sales_date,sales_person_id,price,quantity,total_cost
11,milk,2019-08-19,"[1, 2, 3]",40,3,120
"""


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "sales_data_2024-01-01.csv").write_text(VALID_CSV)
    (d / "sales_data_2024-01-02.csv").write_text(EXTRA_CSV)
    (d / "sales_data_2019-08-19.csv").write_text(MISSING_CSV)
    return d


def test_validate_rejects_missing_columns(spark, landing):
    res = validate_files(spark, sorted(str(p) for p in landing.glob("*.csv")))
    assert len(res.ok) == 2
    [(bad, missing)] = res.rejected.items()
    assert bad.endswith("2019-08-19.csv") and missing == ["store_id"]


def test_extra_columns_folded_with_exact_name(spark, landing):
    df = read_with_fold(spark, str(landing / "sales_data_2024-01-02.csv"))
    assert df.columns[-1] == ADDITIONAL_COLUMN  # space preserved
    vals = {r[ADDITIONAL_COLUMN] for r in df.collect()}
    # values comma-joined in column order (main.py:195 concat_ws ", ")
    assert vals == {"cash, web", "UPI, store"}


def test_valid_file_gets_null_additional_column(spark, landing):
    df = read_with_fold(spark, str(landing / "sales_data_2024-01-01.csv"))
    assert [r[ADDITIONAL_COLUMN] for r in df.collect()] == [None, None]


def test_union_by_name_mixes_shapes(spark, landing):
    df = union_files(
        spark,
        [str(landing / "sales_data_2024-01-01.csv"), str(landing / "sales_data_2024-01-02.csv")],
    )
    assert df.count() == 4
    assert df.filter(F.col(ADDITIONAL_COLUMN).isNull()).count() == 2


def test_ingest_batch_end_to_end_with_ledger_and_rerun(spark, tmp_path, landing):
    error_dir = tmp_path / "errors"
    ledger = FileLedger(spark, str(tmp_path / "ledger"))

    df, report = ingest_batch(spark, str(landing), str(error_dir), ledger)
    assert report.rows == 4 and len(report.accepted) == 2
    # rejected file physically moved (parity: move-to-error lifecycle)
    assert [p.name for p in error_dir.iterdir()] == ["sales_data_2019-08-19.csv"]
    assert not (landing / "sales_data_2019-08-19.csv").exists()
    # accepted files are in-flight (A) until the caller finishes
    assert ledger.in_flight().count() == 2
    ledger.record(report.accepted, STATUS_DONE)
    assert ledger.in_flight().count() == 0

    # rerun: nothing new → no frame, no reprocessing (recovery semantics
    # of main.py:39-49 — completed files are skipped)
    df2, report2 = ingest_batch(spark, str(landing), str(error_dir), ledger)
    assert df2 is None and report2.accepted == []

    # a new file lands → only it is processed
    (landing / "sales_data_2024-01-03.csv").write_text(VALID_CSV)
    df3, report3 = ingest_batch(spark, str(landing), str(error_dir), ledger)
    assert len(report3.accepted) == 1 and report3.rows == 2


def test_ingest_reads_the_declared_contract_types(spark, landing, tmp_path):
    """Columns come out as schemas.RAW_SALES_SCHEMA types (money exact
    DECIMAL(18,2), never an inferred double); extras fold as strings."""
    from salesdata_engineering_spark.schemas import MONEY, RAW_SALES_SCHEMA

    ledger = FileLedger(spark, str(tmp_path / "ledger"))
    df, _ = ingest_batch(spark, str(landing), str(tmp_path / "err"), ledger)
    types = dict(df.dtypes)
    assert types["price"] == types["total_cost"] == MONEY.simpleString() == "decimal(18,2)"
    assert [(f.name, f.dataType) for f in df.schema.fields[:8]] == [
        (f.name, f.dataType) for f in RAW_SALES_SCHEMA.fields
    ]
    assert types[ADDITIONAL_COLUMN] == "string"


def test_malformed_row_fails_the_load(spark, tmp_path):
    """A value that does not parse as its declared type raises when the
    frame is read (FAILFAST), instead of loosening the column's type."""
    p = tmp_path / "sales_data_2024-01-05.csv"
    p.write_text(VALID_CSV + "7,121,rice,2024-01-05,3,fifty,2,100\n")
    df = read_with_fold(spark, str(p))
    with pytest.raises(Exception, match="MALFORMED|FAILFAST|malformed"):
        df.collect()


def test_union_reads_each_header_shape_once(spark, landing, tmp_path):
    """Files sharing a header are one multi-path scan: three files of
    two header shapes plan exactly two CSV scans."""
    import shutil

    valid = landing / "sales_data_2024-01-01.csv"
    twin = tmp_path / "sales_data_2024-01-04.csv"
    shutil.copy(valid, twin)
    df = union_files(spark, [str(valid), str(twin), str(landing / "sales_data_2024-01-02.csv")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan csv") == 2, plan
    assert df.count() == 6


def test_ledger_schema_is_what_the_ledger_writes(spark, tmp_path):
    """The declared LEDGER_SCHEMA is the on-disk log's schema, the empty
    snapshot's schema, and the one it is read with — and the ledger runs
    on the driver: opening, pending, record and snapshot's frame build
    start no Spark job."""
    from salesdata_engineering_spark.schemas import LEDGER_SCHEMA

    path = str(tmp_path / "ledger_schema")
    ledger = FileLedger(spark, path)
    assert ledger.snapshot().schema == LEDGER_SCHEMA
    ledger.record(["a.csv"], "A")
    on_disk = spark.read.parquet(path).schema
    assert [(f.name, f.dataType) for f in on_disk] == [
        (f.name, f.dataType) for f in LEDGER_SCHEMA
    ]

    sc = spark.sparkContext
    sc.setJobGroup("ledger-open-test", "job-count pin")
    try:
        reopened = FileLedger(spark, path)
        assert reopened.pending(["/landing/a.csv", "/landing/b.csv"]) == [
            "/landing/a.csv", "/landing/b.csv"
        ]
        reopened.record(["a.csv"], STATUS_DONE)
        assert reopened.pending(["/landing/a.csv", "/landing/b.csv"]) == ["/landing/b.csv"]
        snap = reopened.snapshot()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ledger-open-test")) == 0
    assert reopened._seq == 2
    assert snap.schema == LEDGER_SCHEMA
    assert [tuple(r) for r in snap.collect()] == [("a.csv", STATUS_DONE, 2)]


def test_ledger_append_survives_a_crash_before_the_rename(spark, tmp_path, monkeypatch):
    """A crash between writing an append and renaming it into place
    leaves the ledger unchanged: the leftover temp file is skipped by
    the ledger itself, by Spark and by DuckDB's ``*.parquet`` glob."""
    import duckdb
    import pyarrow.fs as pafs

    class CrashOnRename(pafs.LocalFileSystem):
        def move(self, src, dest):
            raise OSError("injected crash before the rename")

    path = str(tmp_path / "ledger_crash")
    ledger = FileLedger(spark, path)
    ledger.record(["a.csv", "b.csv"], "A")
    monkeypatch.setattr(ledger, "_fs", CrashOnRename())
    with pytest.raises(OSError, match="injected crash"):
        ledger.record(["a.csv"], STATUS_DONE)
    monkeypatch.undo()

    # the append's bytes are on disk, under a name no reader picks up
    assert [p for p in (tmp_path / "ledger_crash").iterdir() if p.suffix != ".parquet"]
    want = [("a.csv", "A", 1), ("b.csv", "A", 1)]
    reopened = FileLedger(spark, path)
    assert sorted((n, st, seq) for n, (st, seq) in reopened._read().items()) == want
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == want
    duck = duckdb.sql(f"SELECT file_name, status, seq FROM read_parquet('{path}/*.parquet')")
    assert sorted(duck.fetchall()) == want
    assert reopened._seq == ledger._seq == 1
    assert reopened.pending(["a.csv"]) == ["a.csv"]


@pytest.mark.parametrize(
    "columns",
    [
        {"file_name": ["b.csv"], "status": ["I"]},  # seq missing
        {"file_name": ["b.csv"], "status": ["I"], "seq": pa.array([2], pa.int32())},  # int, not bigint
        {"file": ["b.csv"], "status": ["I"], "seq": [2]},  # file_name renamed
    ],
)
def test_ledger_rejects_a_log_file_not_of_the_ledger_schema(spark, tmp_path, columns):
    path = tmp_path / "ledger_bad"
    FileLedger(spark, str(path)).record(["a.csv"], "A")
    pq.write_table(pa.table(columns), str(path / "part-foreign.parquet"))
    with pytest.raises(ValueError, match="part-foreign.parquet has columns"):
        FileLedger(spark, str(path))


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from salesdata_engineering_spark.io import compact_parquet

    out = str(tmp_path / "frag")
    spark.range(0, 10_000).repartition(64).write.parquet(out)
    before = len(list((tmp_path / "frag").glob("*.parquet")))
    assert before >= 32  # fragmented
    n = compact_parquet(spark, out, target_file_mb=128)
    after = len(list((tmp_path / "frag").glob("*.parquet")))
    assert n == 1 and after == 1
    assert spark.read.parquet(out).count() == 10_000  # lossless


def test_compact_parquet_crash_never_loses_data(spark, tmp_path, monkeypatch):
    """Inject a crash in the worst window — after the source moved aside,
    before the compacted copy lands — and require the rollback to restore
    the canonical path with every row intact."""
    from pathlib import Path as _P

    from salesdata_engineering_spark.io import compact_parquet

    out = str(tmp_path / "frag2")
    spark.range(0, 1000).repartition(8).write.parquet(out)

    orig_rename = _P.rename
    calls = {"n": 0}

    def rename_crash_on_second(self, target):
        # call 1: src -> old-aside; call 2: tmp -> canonical (CRASH HERE);
        # call 3: rollback old-aside -> canonical (must pass through)
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash between the two swap renames")
        return orig_rename(self, target)

    monkeypatch.setattr(_P, "rename", rename_crash_on_second, raising=True)
    try:
        with pytest.raises(OSError, match="injected crash"):
            compact_parquet(spark, out, target_file_mb=128)
    finally:
        monkeypatch.setattr(_P, "rename", orig_rename, raising=True)

    # rollback restored the canonical path — full data, readable
    assert (tmp_path / "frag2").exists()
    assert spark.read.parquet(out).count() == 1000

    # and a clean compact still round-trips afterwards
    n = compact_parquet(spark, out, target_file_mb=128)
    assert n == 1 and spark.read.parquet(out).count() == 1000


def test_ledger_seq_survives_restart(spark, tmp_path):
    """A fresh FileLedger on an existing log must continue seq from the
    persisted max — its new rows win latest-per-file resolution."""
    path = str(tmp_path / "ledger_restart")
    first = FileLedger(spark, path)
    first.record(["a.csv", "b.csv"], "A")
    first.record(["a.csv"], "I")
    assert first._seq == 2

    second = FileLedger(spark, path)  # simulated new process
    assert second._seq == 2
    second.record(["b.csv"], "I")  # must append seq=3, not seq=1
    snap = {r.file_name: (r.status, r.seq) for r in second.snapshot().collect()}
    assert snap["b.csv"] == ("I", 3), snap
    assert snap["a.csv"] == ("I", 2), snap


def test_read_jdbc_wiring_reaches_jdbc_layer(spark):
    """No JDBC driver jar ships in this sandbox, so a real round-trip is
    impossible; assert the adapter wires through to Spark's JDBC layer
    (driver-resolution error, not a Python-side failure) and validates
    its partitioned-read arguments."""
    from salesdata_engineering_spark.io import read_jdbc

    with pytest.raises(ValueError, match="partition_column requires"):
        read_jdbc(spark, "jdbc:h2:mem:x", "t", {}, partition_column="id")

    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError) as err:
        read_jdbc(spark, "jdbc:nosuchdb://nowhere/db", "t", {"driver": "com.example.Missing"})
    assert "ClassNotFoundException" in str(err.value) or "No suitable driver" in str(err.value)


def test_read_rows_validated_splits_good_and_bad(spark, tmp_path):
    """Row-level PERMISSIVE validation: typed rows pass, malformed rows
    land in the corrupt side table with their raw line preserved —
    the finer-grained alternative to whole-file rejection."""
    from salesdata_engineering_spark.ingest import read_rows_validated

    p = tmp_path / "mixed.csv"
    p.write_text(
        "customer_id,store_id,price\n"
        "1,121,212.5\n"
        "oops,not-a-store,free\n"
        "2,122,99.0\n"
    )
    good, bad = read_rows_validated(
        spark, str(p), "customer_id INT, store_id INT, price DOUBLE"
    )
    assert good.count() == 2
    assert set(good.columns) == {"customer_id", "store_id", "price"}
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert bad_rows[0].raw_line == "oops,not-a-store,free"
    assert bad_rows[0].src_file.endswith("mixed.csv")


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_format_roundtrip_preserves_rows(spark, tmp_path, fmt, sf_dir):
    """S4-family breadth: documents survive a write/read round trip in
    each native format with schema pinned (json/csv carry no types)."""
    from salesdata_engineering_spark.datasets import load_tables
    from salesdata_engineering_spark.io import read_table, write_table

    src = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "n_chars")
    path = str(tmp_path / f"docs_{fmt}")
    write_table(src, path, fmt=fmt)
    back = read_table(
        spark, path, fmt=fmt, schema="doc_id BIGINT, lang STRING, n_chars BIGINT"
    )
    assert back.schema == src.schema
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """S-family depth: a landing zone whose writers EVOLVE the schema
    (v2 adds a column) must stay readable as one table — mergeSchema
    unions the file schemas and backfills missing columns with NULL,
    the parquet twin of the CSV extra-column fold (ingest.py)."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a", 10.0)], "k int, name string, v double"
    ).write.parquet(f"{base}/batch=1")
    spark.createDataFrame(
        [(2, "b", 20.0, "US")], "k int, name string, v double, region string"
    ).write.parquet(f"{base}/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(df.columns) == {"k", "name", "v", "region", "batch"}
    rows = {r.k: (r.v, r.region) for r in df.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, "US")}
