"""Canonical schemas and the schema contract.

The reference validates incoming daily sales CSVs against a fixed
mandatory-column contract (`resources/dev/config.py:40`) and tolerates
extra columns by folding them into a single string column literally named
``"additional column"`` (`src/main/transformations/jobs/main.py:189-202`).
This module pins those contracts as explicit StructTypes — the engine never
relies on ``inferSchema`` for production reads.

Money travels as DECIMAL(18,2): the reference mixes CSV-inferred doubles
with MySQL DECIMAL(10,2) DDL (`resources/sql_scripts/table_scripts.sql:72-73`);
we standardize on decimal at the boundary so aggregation is exact and
order-independent — which is also what makes the DuckDB differential oracle
hash-stable (float sums are order-dependent; decimal sums are not).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Name of the catch-all column extra CSV columns are folded into.
#: The reference uses a literal space in the name (`main.py:195`): we keep
#: that exact observable name in the compat path.
ADDITIONAL_COLUMN = "additional column"

MONEY = T.DecimalType(18, 2)

#: CSV read schema for a *valid* raw file (before the fold): the
#: mandatory columns every incoming sales file must carry (parity:
#: resources/dev/config.py:40), typed; extra columns are discovered from
#: the header probe and read as strings.
RAW_SALES_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType()),
        T.StructField("store_id", T.IntegerType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("sales_date", T.StringType()),  # yyyy-MM-dd, string in CSV
        T.StructField("sales_person_id", T.IntegerType()),
        T.StructField("price", MONEY),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("total_cost", MONEY),
    ]
)

#: The mandatory-column contract, in file order.
MANDATORY_SALES_COLUMNS: tuple[str, ...] = tuple(RAW_SALES_SCHEMA.names)

#: Canonical 9-column fact schema after ingestion
#: (8 mandatory + the additional-column fold).
SALES_SCHEMA = T.StructType(
    RAW_SALES_SCHEMA.fields + [T.StructField(ADDITIONAL_COLUMN, T.StringType())]
)

#: File-processing ledger (parity: product_staging_table,
#: resources/sql_scripts/table_scripts.sql:1-8) as ``ingest.FileLedger``
#: writes it: an append-only log of (file, status, seq) rows, where
#: status 'A' = in-flight, 'I' = done and the highest seq per file is its
#: current status. Used for its writes, its reads and its empty snapshot.
LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)

#: Driver testdata table names (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
