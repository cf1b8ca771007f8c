"""File-ingestion lifecycle (SURVEY §2.1 S1-S8, §3.1 steps 1-5, 9).

The reference's pipeline (in /root/reference): list S3 keys
(src/main/read/aws_read.py:7-22), download locally
(download/aws_file_download.py:12-25), probe each CSV header
(main.py:110-121), route schema-violating files to error dirs
(main.py:127-140, move/move_files.py:26-62), track per-file status
A(ctive)/I(nactive) in a MySQL staging table (main.py:39-49,157-174,
318-334), fold surplus columns into a catch-all string column literally
named "additional column" (main.py:189-202), and positional-union
everything onto an empty seed frame (main.py:183-204).

Engine re-expression, Spark-first:

- No download step: Spark reads object-store paths directly.
- The ledger is a parquet log the driver reads and appends with Arrow,
  as the reference's driver runs cursor SQL: no Spark job per call.
- Union is ``unionByName(allowMissingColumns=True)`` over per-file
  frames; the "additional column" fold is kept as an explicit compat
  op (exact name with the space, main.py:195-197).
- File moves go through the local/Hadoop filesystem module and work on
  any FS the JVM can mount.

Scale: validation reads only each CSV's header line, on the driver (no
Spark job); the data scan is one multi-path ``spark.read.csv`` per
distinct header, typed by the contract in ``schemas.RAW_SALES_SCHEMA``
(extra columns as strings) with ``FAILFAST``, so Catalyst sees one
source per header shape — partition count follows file splits, not file
count — and a row that breaks the contract fails the load instead of
being inferred into a looser type.
"""

from __future__ import annotations

import csv
import shutil
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .functions import fold_extra_columns
from .schemas import ADDITIONAL_COLUMN, LEDGER_SCHEMA, MANDATORY_SALES_COLUMNS, RAW_SALES_SCHEMA

STATUS_ACTIVE = "A"
STATUS_DONE = "I"

_LEDGER_ARROW_SCHEMA = to_arrow_schema(LEDGER_SCHEMA)


@dataclass
class ValidationResult:
    #: accepted path -> its header's column names
    ok: dict[str, list[str]] = field(default_factory=dict)
    rejected: dict[str, list[str]] = field(default_factory=dict)  # path -> missing cols


def probe_columns(path: str) -> list[str]:
    """S1 — header-only schema probe (parity: main.py:113): the file's
    first line, read on the driver from the landing dir."""
    with open(path, newline="") as fh:
        return next(csv.reader(fh), [])


def validate_files(
    spark: SparkSession,
    paths: list[str],
    mandatory: tuple[str, ...] = MANDATORY_SALES_COLUMNS,
) -> ValidationResult:
    """Set-difference each file's header against the contract
    (parity: main.py:110-121). Missing columns ⇒ whole-file reject."""
    res = ValidationResult()
    for p in paths:
        header = probe_columns(p)
        missing = sorted(set(mandatory) - set(header))
        if missing:
            res.rejected[p] = missing
        else:
            res.ok[p] = header
    return res


def route_rejected(rejected: dict[str, list[str]], error_dir: str) -> list[str]:
    """Move rejected files to the error directory
    (parity: main.py:127-140 + move_files.py:26-62). Local/NFS paths via
    shutil; object stores route through their own rename API."""
    Path(error_dir).mkdir(parents=True, exist_ok=True)
    moved = []
    for p in rejected:
        dest = str(Path(error_dir) / Path(p).name)
        shutil.move(p, dest)
        moved.append(dest)
    return moved


def _contract_schema(header: list[str]) -> T.StructType:
    """Read schema for a file with ``header``: the contract's type for
    each column it declares (``schemas.RAW_SALES_SCHEMA``), string for
    any extra column."""
    return T.StructType(
        [
            RAW_SALES_SCHEMA[c] if c in RAW_SALES_SCHEMA.names else T.StructField(c, T.StringType())
            for c in header
        ]
    )


def read_with_fold(
    spark: SparkSession,
    path: str | list[str],
    mandatory: tuple[str, ...] = MANDATORY_SALES_COLUMNS,
    header: list[str] | None = None,
) -> DataFrame:
    """S2 + the extra-column fold (parity: main.py:189-202) over one file,
    or several files sharing ``header`` (probed from the first when not
    given).

    Each column is read as the contract types it, with the header
    checked against the schema and ``FAILFAST``: a value that does not
    parse as its declared type (a non-numeric id or price) fails the
    action that parses that column, instead of loosening its type.
    Surplus columns' VALUES are comma-joined per row into the catch-all
    column (schema evolution by stringification — observable reference
    behavior, preserved exactly, space in the name included); missing
    catch-all when no extras ⇒ NULL literal (main.py:200)."""
    paths = [path] if isinstance(path, str) else path
    header = header if header is not None else probe_columns(paths[0])
    df = spark.read.csv(
        paths,
        header=True,
        schema=_contract_schema(header),
        enforceSchema=False,
        mode="FAILFAST",
    )
    extra = [c for c in header if c not in mandatory]
    if extra:
        df = df.withColumn(ADDITIONAL_COLUMN, fold_extra_columns(extra))
    else:
        df = df.withColumn(ADDITIONAL_COLUMN, F.lit(None).cast("string"))
    return df.select(*mandatory, ADDITIONAL_COLUMN)


def read_rows_validated(
    spark: SparkSession,
    path: str,
    schema: str,
) -> tuple[DataFrame, DataFrame]:
    """Row-level validation: (good_rows, bad_rows) from one PERMISSIVE scan.

    The reference rejects whole FILES on a bad header (main.py:115-118,
    a committed example at error_files/sales_data_2019-08-19.csv); this
    is the finer-grained alternative SURVEY §1.3 maps it to — rows that
    fail the typed schema land in Spark's corrupt-record column and are
    routed instead of the file. One scan serves both outputs (the split
    is two filters over the same cached-by-scan frame); at 100 TB the
    good path streams on while a tiny bad-rows side table preserves the
    raw line for forensics, replacing an all-or-nothing reject of a
    multi-GB file.

    ``schema`` is the typed DDL for the expected columns; the corrupt
    column is appended automatically. The parsed frame is PERSISTED
    before the split: Spark disallows queries whose referenced columns
    reduce to only the corrupt-record column on a raw CSV scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the
    documented remedy is cache-or-save), and the persist also means the
    file parses once, not once per side. Callers splitting a very large
    landing zone should ``unpersist()`` after both sides are consumed,
    or write the parsed frame to a staging table instead."""
    from pyspark.storagelevel import StorageLevel

    corrupt = "_corrupt_record"
    df = (
        spark.read.csv(
            path,
            header=True,
            schema=f"{schema}, {corrupt} STRING",
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=corrupt,
        )
        # capture provenance BELOW the persist: input_file_name() reads
        # scan-task state and returns '' once the rows come from the
        # in-memory relation instead of the file scan
        .withColumn("src_file", F.input_file_name())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt, "src_file")
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        "src_file", F.col(corrupt).alias("raw_line")
    )
    return good, bad


def union_files(
    spark: SparkSession,
    paths: list[str] | dict[str, list[str]],
    mandatory: tuple[str, ...] = MANDATORY_SALES_COLUMNS,
) -> DataFrame:
    """U1 — union the canonical frames by NAME (replaces the reference's
    positional union onto an empty JDBC seed frame, main.py:183-204).
    Files sharing a header are read together in one multi-path scan.
    ``paths`` may carry the already-probed headers (path -> columns, as
    :func:`validate_files` returns them)."""
    headers = paths if isinstance(paths, dict) else {p: probe_columns(p) for p in paths}
    groups: dict[tuple[str, ...], list[str]] = {}
    for p, header in headers.items():
        groups.setdefault(tuple(header), []).append(p)
    frames = [read_with_fold(spark, ps, mandatory, list(h)) for h, ps in groups.items()]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _ledger_table(rows: list[tuple[str, str, int]]) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(zip(LEDGER_SCHEMA.names, r)) for r in rows], schema=_LEDGER_ARROW_SCHEMA
    )


class FileLedger:
    """Parquet-backed processing ledger (parity: product_staging_table,
    resources/sql_scripts/table_scripts.sql:1-8 + main.py:39-49,157-174,
    318-334). Status A = in-flight, I = done.

    Append-only log; current status = the highest-seq row per file. The
    log is a few rows per landed file, so it is read and appended on the
    driver with Arrow (``path``: an absolute path or any URI
    ``pyarrow.fs`` resolves) and no call starts a Spark job. One small
    file lands per ``record``; ``io.compact_parquet(ledger.path)`` is the
    remedy for a long log."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._fs, self._dir = pafs.FileSystem.from_uri(path)
        # Resume from the persisted high-water mark: a fresh process
        # appending to an existing ledger must not restart seq at 1, or
        # its new status rows would be shadowed by older higher-seq rows.
        self._seq = max((seq for _, seq in self._read().values()), default=0)

    def _read(self) -> dict[str, tuple[str, int]]:
        """file name -> (status, seq) of its highest-seq row, over the
        log's ``*.parquet`` files, skipping hidden (``_``/``.``) names as
        Spark and Arrow do. A file not of LEDGER_SCHEMA's columns raises."""
        want = [(f.name, f.type) for f in _LEDGER_ARROW_SCHEMA]
        rows: list[tuple[str, str, int]] = []
        for info in self._fs.get_file_info(pafs.FileSelector(self._dir, allow_not_found=True)):
            if not info.base_name.endswith(".parquet") or info.base_name[0] in "_.":
                continue
            table = pq.read_table(info.path, filesystem=self._fs)
            if (got := [(f.name, f.type) for f in table.schema]) != want:
                raise ValueError(f"ledger file {info.path} has columns {got}, expected {want}")
            rows += zip(*table.to_pydict().values())
        return {name: (status, seq) for name, status, seq in sorted(rows, key=lambda r: r[2])}

    def snapshot(self) -> DataFrame:
        """Latest status per file (empty frame if no ledger yet)."""
        rows = [(name, status, seq) for name, (status, seq) in self._read().items()]
        return self.spark.createDataFrame(_ledger_table(rows), LEDGER_SCHEMA)

    def record(self, files: list[str], status: str) -> None:
        """INSERT/UPDATE equivalent: append (file, status, seq) rows, one
        parquet file per CALL — pass the whole cycle's file list at once.
        The file is written under a hidden temp name and renamed into
        place, so a crash mid-append leaves the log as it was."""
        seq = self._seq + 1
        rows = [(Path(f).name, status, seq) for f in files]
        name = f"part-{seq:05d}-{uuid.uuid4().hex}.parquet"
        self._fs.create_dir(self._dir, recursive=True)
        pq.write_table(_ledger_table(rows), f"{self._dir}/.{name}.tmp", filesystem=self._fs)
        self._fs.move(f"{self._dir}/.{name}.tmp", f"{self._dir}/{name}")
        self._seq = seq

    def in_flight(self) -> DataFrame:
        return self.snapshot().filter(F.col("status") == STATUS_ACTIVE).select("file_name")

    def pending(self, files: list[str]) -> list[str]:
        """Files never completed (the cursor check of main.py:39-49)."""
        state = self._read()
        return [f for f in files if state.get(Path(f).name, ("",))[0] != STATUS_DONE]


@dataclass
class IngestReport:
    accepted: list[str]
    rejected: list[str]
    rows: int


def ingest_batch(
    spark: SparkSession,
    landing_dir: str,
    error_dir: str,
    ledger: FileLedger,
    mandatory: tuple[str, ...] = MANDATORY_SALES_COLUMNS,
) -> tuple[DataFrame | None, IngestReport]:
    """The reference's main.py pipeline, steps 1-5: discover → skip
    already-done → validate → route rejects → mark A → union. Caller
    transforms/writes the frame, then calls ``ledger.record(accepted,
    STATUS_DONE)`` (step 9)."""
    files = sorted(str(p) for p in Path(landing_dir).glob("*.csv"))
    files = ledger.pending(files)
    result = validate_files(spark, files, mandatory)
    moved = route_rejected(result.rejected, error_dir)
    if not result.ok:
        return None, IngestReport([], moved, 0)
    accepted = list(result.ok)
    ledger.record(accepted, STATUS_ACTIVE)
    df = union_files(spark, result.ok, mandatory)
    return df, IngestReport(accepted, moved, df.count())
