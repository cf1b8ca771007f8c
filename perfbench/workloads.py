"""The two workloads: a closed-loop registry query mix and a batch ETL cycle.

One client thread issues one op at a time (closed loop). Set-up runs
before the measured window: session start, seeded inputs, the DuckDB
answers, the persisted ANN index, and one pass (one ETL cycle) that both
warms the JVM and checks every op's result. The window then runs a fixed
number of whole passes; a traced run interleaves traced and untraced
passes, so it measures its own tracing overhead.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

from . import measure
from .spans import Span, Tracer, public_functions, self_jobs, self_times, since
from .sparkstats import SparkProbe, StageTotals, plan_counts

#: The ``queries`` workload: registry queries from the reference's read
#: surface (marts, star joins, windows, as-of joins) and from the
#: training-data extensions (text, dedup, packing, the persisted ANN
#: index). The family names the per-family figures in the record.
QUERY_MIX = {
    "sales_team_mart": "sales",
    "join_star_enrich": "sales",
    "asof_click_purchase": "sales",
    "text_pii_scrub": "llm",
    "corpus_curation_pipeline": "llm",
    "pack_training_sequences": "llm",
    "sim_ivf_pq_index_serve": "llm",
}
#: A query pass and an ETL cycle take about this long on 2 of 4 vCPUs;
#: ``--seconds`` buys that many whole passes (see ``run_window``): three
#: query passes and two ETL cycles at ``--seconds 24``.
NOMINAL_PASS_S = 8.0
NOMINAL_CYCLE_S = 12.0
#: the query whose build step ensures the persisted ANN index
INDEX_QUERY = "sim_ivf_pq_index_serve"

QUERY_SF = 0.01
ETL_SF = 0.01
#: the ETL fact spans four months (one landing file each) of three
#: stores; the last month is the incremental batch, and of the three the
#: full load lands, one misses a mandatory column and one has an extra
ETL_ORDER_DAYS = 120
ETL_STORES = 3
ETL_HELD_BACK, ETL_MISSING, ETL_EXTRA = 1, 1, 1
#: input generation is repeated this many times and its median reported
DATAGEN_REPEATS = 3

ENGINE = "salesdata_engineering_spark"


@dataclass
class Context:
    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    session_start_s: float
    cores: int
    probe: SparkProbe = field(init=False)
    meter: measure.ProcessMeter = field(init=False)

    def __post_init__(self) -> None:
        self.probe = SparkProbe(self.spark)
        self.meter = measure.ProcessMeter(self.spark.sparkContext._gateway.proc.pid)


class Outcomes:
    """Every op attempted, every failure with its op and pass index, and
    the latency of every op that succeeded. A failed op is never dropped
    silently: it counts in ``failed`` and is listed in ``errors``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.errors: list[dict] = []
        self.latency: dict[str, list[float]] = defaultdict(list)

    @property
    def failed(self) -> int:
        return len(self.errors)

    def run(self, op: str, pass_no: int | str, fn: Callable[[], object],
            check: Callable[[object], str | None] | None = None) -> object | None:
        """Run one op; returns its value, or None when it raised or its
        result failed ``check`` (which returns a problem or None)."""
        self.attempted += 1
        try:
            out = fn()
            problem = check(out) if check else None
        except Exception as exc:  # a failing op is recorded and the loop goes on
            self.errors.append({
                "op": op, "pass": pass_no, "kind": "exception",
                "detail": "".join(traceback.format_exception_only(exc)).strip()[-500:],
            })
            return None
        if problem:
            self.errors.append({"op": op, "pass": pass_no, "kind": "mismatch", "detail": problem})
            return None
        return out


def digest_rows(cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def frame_digest(pdf) -> str:
    """Hash of a pandas frame's order-insensitive canonical form."""
    from tests.oracle_utils import canon_frame

    return digest_rows(*canon_frame(pdf))


def generate(make: Callable[[str], object], work: str) -> tuple[float, object]:
    """Run ``make(dir)`` DATAGEN_REPEATS times into fresh dirs under
    ``work``; returns the median time and the last result."""
    times, out = [], None
    for i in range(DATAGEN_REPEATS):
        t, out = measure.timed(lambda: make(os.path.join(work, f"gen{i}")))
        times.append(t)
    return statistics.median(times), out


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


def end_to_end(pass_walls: list[float], outcomes: Outcomes, pass_cpu: list[float],
               setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    medians = [statistics.median(v) for v in outcomes.latency.values() if v]
    pooled = [x for v in outcomes.latency.values() for x in v]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(pass_walls),
        "op_geomean_s": measure.geomean(medians),
        "op_p90_s": measure.percentile(pooled, 90),
        "cpu_s": statistics.median(pass_cpu),
        "peak_rss_mb": peak_rss_mb,
    }


def run_window(ctx: Context, run_pass: Callable[[int, bool], float],
               nominal_s: float) -> dict:
    """Run the measured passes: ``--seconds / nominal_s`` untraced ones, or
    in a traced run four in ABBA order (untraced, traced, traced,
    untraced), so neither side gains from the JIT warming over the run.
    The count, not a clock, ends the window, so two runs with the same
    ``--seconds`` measure the same passes at the same warmth."""
    n = max(1, round(ctx.seconds / nominal_s))
    schedule = [False, True, True, False] if ctx.trace else [False] * n
    walls: dict[bool, list[float]] = {False: [], True: []}
    cpu: list[float] = []
    for pass_no, traced in enumerate(schedule):
        c0 = ctx.meter.cpu_s()
        wall = run_pass(pass_no, traced)
        if not traced:
            cpu.append(ctx.meter.cpu_s() - c0)
        walls[traced].append(wall)
    return {
        "untraced_walls": walls[False],
        "traced_walls": walls[True],
        "pass_cpu": cpu,
        "overhead_frac": statistics.median(walls[True]) / statistics.median(walls[False]) - 1
        if ctx.trace else None,
    }


# ---------------------------------------------------------------- tracing

def install_tracing(tracer: Tracer) -> None:
    """Wrap the engine's public layer entry points with span recorders."""
    import importlib
    import pkgutil
    import sys

    from pyspark.sql.readwriter import DataFrameReader

    ext = importlib.import_module(f"{ENGINE}.ext")
    for info in pkgutil.iter_modules(ext.__path__):
        importlib.import_module(f"{ENGINE}.ext.{info.name}")
    from salesdata_engineering_spark import ingest, io, marts, pipeline

    mods = [m for n, m in list(sys.modules.items()) if n.startswith(ENGINE)]
    tracer.patch_attr(DataFrameReader, "parquet", "datasets.open")
    tracer.patch_attr(DataFrameReader, "csv", "datasets.open")
    for m in mods:
        if m.__name__.startswith(f"{ENGINE}.ext."):
            short = m.__name__.rsplit(".", 1)[1]
            for name, fn in public_functions(m):
                tracer.patch_function(fn, f"ext.{short}.{name}", mods)
    for fn, name in [
        (ingest.ingest_batch, "ingest"),
        (ingest.validate_files, "ingest.validate"),
        (ingest.route_rejected, "ingest.route"),
        (ingest.union_files, "ingest.union"),
        (marts.customer_monthly_spend, "marts"),
        (marts.sales_team_mart, "marts"),
        (io.write_parquet_partitioned, "io.write"),
        (io.write_partition_overwrite_dynamic, "io.write"),
        (pipeline.run_full_pipeline, "pipeline"),
    ]:
        tracer.patch_function(fn, name, mods)
    for meth in ("__init__", "pending", "record", "snapshot"):
        tracer.patch_attr(ingest.FileLedger, meth, "ingest.ledger")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def span_sums(spans: list[Span]) -> dict[str, float]:
    """Per span name and per layer: self time, count, self jobs, and the
    inclusive time and jobs of the layer's outermost spans."""
    st, sj = self_times(spans), self_jobs(spans)
    out: dict[str, float] = defaultdict(float)
    for i, sp in enumerate(spans):
        out[f"{sp.name}:self_s"] += st[i]
        out[f"{sp.name}:n"] += 1
        out[f"{sp.name}:self_jobs"] += sj[i]
        layer = layer_of(sp.name)
        out[f"{layer}:self_s"] += st[i]
        out[f"{layer}:self_jobs"] += sj[i]
        parent = spans[sp.parent] if sp.parent is not None else None
        if parent is None or layer_of(parent.name) != layer:
            out[f"{layer}:incl_s"] += sp.end - sp.start
            out[f"{layer}:incl_jobs"] += sp.jobs_end - sp.jobs_start
    return out


def exec_layer(totals: StageTotals, exec_s: float, cores: int) -> dict[str, float]:
    return {
        "exec.s": exec_s,
        "exec.jobs": totals.jobs,
        "exec.stages": totals.stages,
        "exec.tasks": totals.tasks,
        "exec.task_run_s": totals.task_run_s,
        "exec.task_cpu_s": totals.task_cpu_s,
        "exec.gc_s": totals.gc_s,
        "exec.shuffle_read_mb": totals.shuffle_read_mb,
        "exec.shuffle_write_mb": totals.shuffle_write_mb,
        "exec.spill_mb": totals.spill_mb,
        "exec.idle_core_frac": 1 - totals.task_run_s / (exec_s * cores) if exec_s else 0.0,
    }


def median_dicts(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in sorted(keys)}


# ------------------------------------------------------- query workloads

def run_queries(ctx: Context) -> dict:
    from salesdata_engineering_spark.registry import QUERIES
    from tests.oracle_utils import canon_frame, duckdb_con

    from .datagen import write_tables

    names = list(QUERY_MIX)
    setup: dict[str, float] = {"session.start_s": ctx.session_start_s}

    def make(out: str) -> str:
        write_tables(out, ctx.seed, QUERY_SF)
        return out

    setup["setup.datagen_s"], sf_dir = generate(make, ctx.work)

    t0 = time.perf_counter()
    con = duckdb_con(sf_dir)
    try:
        expected = {n: digest_rows(*canon_frame(con.execute(QUERIES[n].oracle).df())) for n in names}
    finally:
        con.close()
    setup["setup.oracle_s"] = time.perf_counter() - t0

    ann_root = os.path.join(ctx.root, ".data", "ann_index")
    before = set(os.listdir(ann_root)) if os.path.isdir(ann_root) else set()
    outcomes = Outcomes()
    try:
        t0 = time.perf_counter()
        outcomes.run(INDEX_QUERY, "setup", lambda: QUERIES[INDEX_QUERY].fn(ctx.spark, sf_dir))
        setup["setup.index_s"] = time.perf_counter() - t0
        index_state = "cold" if os.path.isdir(ann_root) and set(os.listdir(ann_root)) - before else "warm"
        return {**_query_passes(ctx, QUERIES, sf_dir, expected, outcomes, setup),
                "ann_index": index_state}
    finally:
        if os.path.isdir(ann_root):  # drop the index this run built
            for d in set(os.listdir(ann_root)) - before:
                shutil.rmtree(os.path.join(ann_root, d), ignore_errors=True)


def _query_passes(ctx: Context, queries: dict, sf_dir: str, expected: dict[str, str],
                  outcomes: Outcomes, setup: dict[str, float]) -> dict:
    """The checked warm-up pass, then the measured passes."""
    names = list(QUERY_MIX)

    def check(name: str) -> Callable[[object], str | None]:
        def _check(df) -> str | None:
            got = frame_digest(df.toPandas())
            return None if got == expected[name] else f"result hash {got[:12]} != oracle {expected[name][:12]}"
        return _check

    cold: dict[str, float] = {}
    for name in pass_order(names, ctx.seed, -1):
        t0 = time.perf_counter()
        outcomes.run(name, "check", lambda: queries[name].fn(ctx.spark, sf_dir), check(name))
        cold[name] = time.perf_counter() - t0
    setup["setup.warmup_s"] = sum(cold.values())

    tracer = Tracer(ctx.probe.next_job_id)
    traced_layers: list[dict[str, float]] = []

    def run_pass(pass_no: int, traced: bool) -> float:
        tracer.enabled = traced
        if traced:
            install_tracing(tracer)
        first_span = len(tracer.spans)
        plans: list[object] = []
        wall = 0.0
        try:
            for name in pass_order(names, ctx.seed, pass_no):
                def op() -> float:
                    tracer.op = f"{pass_no}:{name}"
                    t0 = time.perf_counter()
                    with tracer.span("op"):
                        with tracer.span("build"):
                            df = queries[name].fn(ctx.spark, sf_dir)
                        with tracer.span("plan"):
                            plan = df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                    if traced:
                        plans.append(plan)
                    return time.perf_counter() - t0

                lat = outcomes.run(name, pass_no, op)
                if lat is not None:
                    wall += lat
                    if not traced:
                        outcomes.latency[name].append(lat)
        finally:
            tracer.unpatch()
        if traced:
            traced_layers.append(query_layers(ctx, since(tracer.spans, first_span), plans))
        return wall

    window = run_window(ctx, run_pass, NOMINAL_PASS_S)
    families = {fam: [statistics.median(outcomes.latency[n]) for n in names
                      if QUERY_MIX[n] == fam and outcomes.latency[n]]
                for fam in set(QUERY_MIX.values())}
    return {
        **window,
        "setup": setup,
        "outcomes": outcomes,
        "layers": median_dicts(traced_layers) if traced_layers else {},
        "spans": tracer.dump(),
        "check_pass_s": cold,
        "family_op_geomean_s": {f: measure.geomean(v) for f, v in families.items() if v},
    }


def query_layers(ctx: Context, spans: list[Span], plans: list) -> dict[str, float]:
    sums = span_sums(spans)
    exec_windows = [range(s.jobs_start, s.jobs_end) for s in spans if s.name == "exec"]
    ctx.probe.drain()
    totals = ctx.probe.stage_totals([j for w in exec_windows for j in w])
    exchanges = scans = 0
    for plan in plans:
        e, s = plan_counts(plan.toString())
        exchanges += e
        scans += s
    out = {
        "datasets.open_s": sums["datasets.open:self_s"],
        "datasets.opens": sums["datasets.open:n"],
        "registry.build_s": sums["build:self_s"],
        "registry.build_jobs": sums["build:self_jobs"],
        "ext.build_s": sums["ext:self_s"],
        "ext.build_jobs": sums["ext:self_jobs"],
        "plan.s": sum(s.end - s.start for s in spans if s.name == "plan"),
        "plan.exchanges": exchanges,
        "plan.scans": scans,
    }
    out.update(exec_layer(totals, sum(s.end - s.start for s in spans if s.name == "exec"), ctx.cores))
    return out


# ----------------------------------------------------------- batch ETL

def _tree_stats(path: str) -> tuple[int, int, int]:
    """(files, bytes, directories holding parquet files) under ``path``."""
    files = size = dirs = 0
    for dirpath, _, names in os.walk(path):
        parquet = [n for n in names if n.endswith(".parquet")]
        dirs += bool(parquet)
        files += len(names)
        size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return files, size, dirs


MART_KEYS = {"customers": "customer_id, sales_month",
             "sales": "store_id, sales_person_id, sales_month"}


def expect_marts(con, stage: str, fact: str) -> None:
    """Tables ``<stage>_<mart>`` in DuckDB holding the marts' answers over a
    sales fact relation: exact decimal sums rounded to cents, as ``marts``
    computes them."""
    typed = (f"SELECT CAST(customer_id AS INTEGER) AS customer_id, "
             f"CAST(store_id AS INTEGER) AS store_id, "
             f"CAST(sales_person_id AS INTEGER) AS sales_person_id, "
             f"substr(CAST(sales_date AS VARCHAR), 1, 7) AS sales_month, "
             f"CAST(total_cost AS DECIMAL(38,4)) AS total_cost FROM {fact}")
    for mart, keys in MART_KEYS.items():
        con.execute(
            f"CREATE TABLE {stage}_{mart} AS SELECT {keys}, "
            f"CAST(round(sum(total_cost), 2) AS DECIMAL(18,2)) AS total_sales "
            f"FROM ({typed}) GROUP BY ALL"
        )


def mart_mismatches(con, stage: str, paths: dict[str, str]) -> tuple[int, int]:
    """(rows that differ, rows written) between the marts as written, read
    back by DuckDB, and the ``stage`` answers."""
    diff = rows = 0
    for mart, path in paths.items():
        cols = MART_KEYS[mart].replace("store_id", "CAST(store_id AS INTEGER) AS store_id")
        got = (f"SELECT {cols}, CAST(total_sales AS DECIMAL(18,2)) AS total_sales "
               f"FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
               f"hive_types_autocast = false)")
        want = f"SELECT * FROM {stage}_{mart}"
        diff += sum(n for (n,) in con.execute(
            f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want})) "
            f"UNION ALL SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))"
        ).fetchall())
        rows += con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
    return diff, rows


def run_etl(ctx: Context) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from salesdata_engineering_spark import datasets, ingest, io, marts, pipeline

    from .datagen import write_landing, write_tables

    setup: dict[str, float] = {"session.start_s": ctx.session_start_s}
    def make(out: str) -> tuple[str, object]:
        write_tables(f"{out}/tables", ctx.seed, ETL_SF, ETL_ORDER_DAYS, ETL_STORES)
        return f"{out}/tables", write_landing(f"{out}/tables", f"{out}/landing", ctx.seed,
                                              ETL_HELD_BACK, ETL_MISSING, ETL_EXTRA)

    setup["setup.datagen_s"], (sf_dir, landing) = generate(make, ctx.work)
    bad = set(landing.missing_column)
    good_load = [p for p in landing.load if p not in bad]

    def csv_fact(paths: list[str]) -> str:
        files = ", ".join(f"'{p}'" for p in paths)
        return f"read_csv([{files}], union_by_name = true, all_varchar = true)"

    t0 = time.perf_counter()
    con = duckdb.connect()
    expect_marts(con, "load", csv_fact(good_load))
    expect_marts(con, "incremental", csv_fact(good_load + landing.incremental))
    for t in ("lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expect_marts(con, "rebuild", f"({datasets.CANONICAL_SALES_SQL})")
    setup["setup.oracle_s"] = time.perf_counter() - t0

    outcomes = Outcomes()
    tracer = Tracer(ctx.probe.next_job_id)
    traced_layers: list[dict[str, float]] = []
    last_counts: dict[str, float] = {}

    def cycle(cycle_no: int | str, traced: bool) -> float:
        cdir = os.path.join(ctx.work, f"cycle{cycle_no}")
        land, err, ledger_dir, out = (f"{cdir}/{x}" for x in ("landing", "error", "ledger", "out"))
        marts_out = {"customers": f"{out}/customers", "sales": f"{out}/sales"}
        mart_dirs = {
            "load": marts_out,
            "incremental": marts_out,
            "rebuild": {"customers": f"{out}/rebuild/customers_data_mart",
                        "sales": f"{out}/rebuild/sales_team_data_mart"},
        }
        os.makedirs(land)
        for p in landing.load:
            shutil.copy(p, land)
        tracer.enabled = traced
        if traced:
            install_tracing(tracer)
        first_span = len(tracer.spans)
        counts: dict[str, float] = defaultdict(float)
        wall = 0.0

        def timed_op(name: str, body: Callable[[], object]) -> Callable[[], float]:
            def op() -> float:
                tracer.op = f"{cycle_no}:{name}"
                t0 = time.perf_counter()
                with tracer.span(f"op.{name}"):
                    body()
                return time.perf_counter() - t0
            return op

        def marts_of(df):
            cust = datasets.load_tables(ctx.spark, sf_dir)["customer"].select(
                F.col("c_custkey").cast("int").alias("customer_id"),
                F.col("c_name").alias("full_name"),
            )
            return marts.customer_monthly_spend(df, cust), marts.sales_team_mart(df)

        def ingest_step():
            counts["ingest.files_listed"] += len(os.listdir(land))
            ledger = ingest.FileLedger(ctx.spark, ledger_dir)
            df, report = ingest.ingest_batch(ctx.spark, land, err, ledger)
            counts["ingest.files_accepted"] += len(report.accepted)
            counts["ingest.files_rejected"] += len(report.rejected)
            counts["ingest.rows_in"] += report.rows
            return ledger, df, report

        def load():
            ledger, df, report = ingest_step()
            cm, sm = marts_of(df)
            io.write_parquet_partitioned(cm, f"{out}/customers", ["sales_month"])
            io.write_parquet_partitioned(sm, f"{out}/sales", ["sales_month", "store_id"])
            ledger.record(report.accepted, ingest.STATUS_DONE)

        def incremental():
            ledger, df, report = ingest_step()
            cm, sm = marts_of(df)
            io.write_partition_overwrite_dynamic(cm, f"{out}/customers", ["sales_month"])
            io.write_partition_overwrite_dynamic(sm, f"{out}/sales", ["sales_month", "store_id"])
            ledger.record(report.accepted, ingest.STATUS_DONE)

        def rebuild():
            return pipeline.run_full_pipeline(ctx.spark, sf_dir, f"{out}/rebuild")

        def check_marts(stage: str, landed: list[str]) -> str | None:
            diff, rows = mart_mismatches(con, stage, mart_dirs[stage])
            if stage != "load":
                counts["marts.rows_out"] += rows
            if diff:
                return f"{stage}: {diff} mart rows differ from DuckDB over the same input"
            if stage == "rebuild":
                return None
            done = con.execute(
                f"SELECT file_name FROM (SELECT file_name, status, row_number() OVER "
                f"(PARTITION BY file_name ORDER BY seq DESC) AS rn "
                f"FROM read_parquet('{ledger_dir}/*.parquet')) WHERE rn = 1 AND status = 'I'"
            ).fetchall()
            want = {os.path.basename(p) for p in landed if p not in bad}
            if {r[0] for r in done} != want:
                return f"{stage}: ledger done-set differs from the accepted files"
            routed = set(os.listdir(err)) if os.path.isdir(err) else set()
            if routed != {os.path.basename(p) for p in bad}:
                return f"{stage}: error dir holds {sorted(routed)}"
            return None

        try:
            steps = [
                ("load", load, lambda: check_marts("load", landing.load)),
                ("incremental", incremental,
                 lambda: check_marts("incremental", landing.load + landing.incremental)),
                ("rebuild", rebuild, lambda: check_marts("rebuild", [])),
            ]
            for name, body, check in steps:
                if name == "incremental":
                    for p in landing.incremental:
                        shutil.copy(p, land)
                lat = outcomes.run(name, cycle_no, timed_op(name, body), lambda _r, c=check: c())
                if lat is not None:
                    wall += lat
                    if cycle_no != "check" and not traced:
                        outcomes.latency[name].append(lat)
        finally:
            tracer.unpatch()
        files, size, dirs = _tree_stats(out)
        counts["io.files_written"] = files
        counts["io.bytes_written"] = size
        counts["io.partition_dirs"] = dirs
        counts["pipeline.files_written"] = _tree_stats(f"{out}/rebuild")[0]
        mart_bytes = sum(_tree_stats(p)[1] for p in marts_out.values())
        counts["io.bytes_per_input_byte"] = mart_bytes / landing.input_bytes
        last_counts.update(counts)
        if traced:
            traced_layers.append(etl_layers(ctx, since(tracer.spans, first_span), counts))
        shutil.rmtree(cdir, ignore_errors=True)
        return wall

    try:
        t0 = time.perf_counter()
        cycle("check", False)
        setup["setup.warmup_s"] = time.perf_counter() - t0
        window = run_window(ctx, cycle, NOMINAL_CYCLE_S)
    finally:
        con.close()
    return {
        **window,
        "setup": setup,
        "ann_index": None,
        "outcomes": outcomes,
        "layers": median_dicts(traced_layers) if traced_layers else {},
        "io": last_counts,
        "input_bytes": landing.input_bytes,
        "spans": tracer.dump(),
    }


def etl_layers(ctx: Context, spans: list[Span], counts: dict[str, float]) -> dict[str, float]:
    sums = span_sums(spans)
    ops = [s for s in spans if s.name.startswith("op.")]
    ctx.probe.drain()
    totals = ctx.probe.stage_totals([j for s in ops for j in range(s.jobs_start, s.jobs_end)])
    out = dict(counts)
    listed = counts["ingest.files_listed"]
    out.update({
        "datasets.open_s": sums["datasets.open:self_s"],
        "datasets.opens": sums["datasets.open:n"],
        "ingest.s": sums["ingest:incl_s"],
        "ingest.validate_s": sums["ingest.validate:self_s"],
        "ingest.route_s": sums["ingest.route:self_s"],
        "ingest.union_s": sums["ingest.union:self_s"],
        "ingest.ledger_s": sums["ingest.ledger:self_s"],
        "ingest.jobs": sums["ingest:incl_jobs"],
        "ingest.jobs_per_file": sums["ingest:incl_jobs"] / listed if listed else 0.0,
        "ingest.files_skipped": listed - counts["ingest.files_accepted"] - counts["ingest.files_rejected"],
        "io.write_s": sums["io:incl_s"],
        "io.jobs": sums["io:incl_jobs"],
        "pipeline.s": sums["pipeline:incl_s"],
        "pipeline.jobs": sums["pipeline:incl_jobs"],
    })
    out.update(exec_layer(totals, sum(s.end - s.start for s in ops), ctx.cores))
    return out
