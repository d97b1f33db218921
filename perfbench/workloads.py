"""The benchmark's workloads. Each one generates its inputs from the seed,
runs one pass as a closed loop with a single client (the next call starts
only after the previous one returned), and checks every output it produced
against DuckDB after the timed region.

Each call into the program is wrapped in a span named after the module it
calls, and its Spark jobs are tagged ``<workload>.<step>`` with
``setJobGroup``, so the status store can attribute them.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.inputs import N_DOCUMENTS, write_documents, write_etl_inputs
from perfbench.spans import Tracer

_path = list(sys.path)
from tools.check_oracle import norm_rows  # noqa: E402

sys.path[:] = _path  # the oracle harness prepends a fixed checkout path


@dataclass
class Op:
    """One operation of a pass: a pipeline step or a query execution."""

    name: str
    seconds: float = 0.0
    build_s: float = 0.0
    #: seconds of each inner call a traced pass timed, by function name
    parts: dict[str, float] = field(default_factory=dict)
    error: str | None = None
    output: object = None


@dataclass
class PassResult:
    start: float
    end: float
    traced: bool
    ops: list[Op] = field(default_factory=list)
    # span id of the pass and of each step, for attaching Spark jobs
    span: int | None = None
    steps: list[int] = field(default_factory=list)


def same_rows(
    cols_a: list[str], rows_a: list, cols_b: list[str], rows_b: list
) -> bool:
    """Order-insensitive equality of two results under sorted column names,
    with the oracle harness's value normalisation."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    order_a = [cols_a.index(c) for c in sorted(cols_a)]
    order_b = [cols_b.index(c) for c in sorted(cols_b)]
    return norm_rows(rows_a, order_a) == norm_rows(rows_b, order_b)


class Workload:
    """One named workload. Subclasses set ``name`` and implement the hooks."""

    name = ""
    #: input rows one pass consumes, for ``rows_per_s``
    input_rows = 0
    #: the op that executes the workload's query (build plus action)
    query_op = ""

    def __init__(self, data_dir: str, out_dir: str) -> None:
        self.data_dir = data_dir
        self.out_dir = out_dir

    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def run_pass(self, spark: SparkSession, k: int, tracer: Tracer) -> PassResult:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[bool]:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.data_dir, f))
            for f in os.listdir(self.data_dir)
        )

    @contextmanager
    def _step(
        self, spark: SparkSession, tracer: Tracer, res: PassResult, step: str, layer: str
    ):
        """Tag the step's Spark jobs and, in a traced pass, open its span."""
        spark.sparkContext.setJobGroup(f"{self.name}.{step}", step)
        with tracer.span(f"{layer}:{step}", layer) as sid:
            if sid is not None:
                res.steps.append(sid)
            yield


# --------------------------------------------------------------- ETL


ETL_ROWS = 1_000_000
#: The calls ``run_pipeline`` makes, by name in its module, and the layer of
#: each. A traced pass wraps them there to time each one.
PIPELINE_CALLS = {
    "read_inputs": "plans.reference_pipeline",
    "transform": "plans.reference_pipeline",
    "write_partitioned_parquet": "sources.writers",
}


class EtlFlagship(Workload):
    """The reference's own shape: transactions CSV (+ rates and categories
    CSVs) through ``plans.reference_pipeline`` to partitioned parquet, then
    ``sources.catalog.register_external_table``, then a trend step that reads
    the catalog table, sums monthly revenue per category and smooths it with
    ``operators.trends.holt_smooth``."""

    name = "etl_flagship"
    input_rows = ETL_ROWS
    query_op = "trend"
    table = "transactions"

    def generate(self, seed: int) -> None:
        write_etl_inputs(seed, ETL_ROWS, self.data_dir)

    def _config(self, k: int):
        from bigdata_pipelines_aws_glue_spark.plans.reference_pipeline import (
            PipelineConfig,
        )

        d = self.data_dir
        return PipelineConfig(
            input_path=f"{d}/transactions.csv",
            output_path=f"{self.out_dir}/pass-{k}",
            currency_rates_path=f"{d}/currency_rates.csv",
            product_categories_path=f"{d}/product_categories.csv",
        )

    @contextmanager
    def _timed_calls(self, spark, tracer: Tracer, res: PassResult, op: Op):
        """In a traced pass, make the functions ``run_pipeline`` calls open a
        span and a job group each and record their seconds in ``op.parts``.
        Untraced passes run the same ``run_pipeline`` unwrapped."""
        from bigdata_pipelines_aws_glue_spark.plans import reference_pipeline as rp

        if not tracer.enabled:
            yield
            return

        def timed(name, layer, fn):
            def call(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    with self._step(spark, tracer, res, name, layer):
                        return fn(*args, **kwargs)
                finally:
                    op.parts[name] = time.perf_counter() - t0

            return call

        saved = {name: getattr(rp, name) for name in PIPELINE_CALLS}
        for name, layer in PIPELINE_CALLS.items():
            setattr(rp, name, timed(name, layer, saved[name]))
        try:
            yield
        finally:
            for name, fn in saved.items():
                setattr(rp, name, fn)

    def run_pass(self, spark: SparkSession, k: int, tracer: Tracer) -> PassResult:
        from bigdata_pipelines_aws_glue_spark.operators.trends import holt_smooth
        from bigdata_pipelines_aws_glue_spark.plans import reference_pipeline as rp
        from bigdata_pipelines_aws_glue_spark.sources.catalog import (
            register_external_table,
        )

        cfg = self._config(k)
        res = PassResult(time.time(), 0.0, tracer.enabled)
        with tracer.span(f"pass-{k}", "pass") as pass_span:
            res.span = pass_span

            # 1. the pipeline, through its public entry point
            op = Op("pipeline")
            t0 = time.perf_counter()
            try:
                with self._step(spark, tracer, res, "pipeline", "plans.reference_pipeline"):
                    with self._timed_calls(spark, tracer, res, op):
                        rp.run_pipeline(spark, cfg)
                op.output = cfg.output_path
            except Exception:  # counted as a failed operation
                op.error = traceback.format_exc()
            op.seconds = time.perf_counter() - t0
            res.ops.append(op)

            # 2. catalog registration over the written directory
            op = Op("catalog")
            t0 = time.perf_counter()
            try:
                with self._step(spark, tracer, res, "catalog", "sources.catalog"):
                    register_external_table(spark, self.table, cfg.output_path)
            except Exception:
                op.error = traceback.format_exc()
            op.seconds = time.perf_counter() - t0
            res.ops.append(op)

            # 3. trend step over the catalog table
            op = Op("trend")
            t0 = time.perf_counter()
            try:
                with self._step(spark, tracer, res, "trend_build", "operators.trends"):
                    trend = holt_smooth(monthly_revenue(spark.table(f"ecommerce_db.{self.table}")))
                op.build_s = time.perf_counter() - t0
                with self._step(spark, tracer, res, "trend", "action"):
                    op.output = (trend.columns, [tuple(r) for r in trend.collect()])
            except Exception:
                op.error = traceback.format_exc()
            op.seconds = time.perf_counter() - t0
            res.ops.append(op)
        res.end = time.time()
        return res

    def check(self, ops: list[Op]) -> list[bool]:
        con = duckdb.connect()
        con.execute(f"CREATE TEMP TABLE expected AS {_etl_expected_sql(self.data_dir)}")
        expected = con.sql(_ETL_SUMMARY.format(rows="SELECT * FROM expected")).fetchall()
        holt = _expected_holt(con)
        ok = []
        for op in ops:
            if op.error is not None:
                ok.append(False)
            elif op.name == "pipeline":
                ok.append(_etl_output_ok(con, op.output, expected))
            elif op.name == "trend":
                ok.append(same_rows(*op.output, *holt))
            else:
                ok.append(True)
        return ok


def monthly_revenue(table: DataFrame) -> DataFrame:
    """(nation, x, rev) series for ``holt_smooth``: integer cents per
    category (NULL category as '(none)') and month index of 2025."""
    return table.groupBy(
        F.coalesce("category", F.lit("(none)")).alias("nation"),
        ((F.col("transaction_year") - 2025) * 12 + F.col("transaction_month") - 1)
        .cast("long")
        .alias("x"),
    ).agg(
        F.sum(F.floor(F.col("amount_usd") * 100.0 + 0.5))
        .cast("long")
        .cast("double")
        .alias("rev")
    )


def _etl_expected_sql(data_dir: str) -> str:
    """The pipeline's 13-column result recomputed by DuckDB from the CSVs,
    with the reference's semantics: latest rate per currency wins, USD passes
    through, a missing (INR) or zero rate converts at 1.0, and an unmatched
    product gets a NULL category."""
    return f"""
WITH tx AS (
    SELECT * FROM read_csv('{data_dir}/transactions.csv', header = true, all_varchar = true)
),
rates AS (
    SELECT currency,
           arg_max(CAST(CAST(rate_to_usd AS FLOAT) AS DOUBLE),
                   strptime(rate_date, '%Y-%m-%dT%H:%M:%SZ')) AS rate
    FROM read_csv('{data_dir}/currency_rates.csv', header = true, all_varchar = true)
    GROUP BY currency
),
cats AS (
    SELECT * FROM read_csv('{data_dir}/product_categories.csv', header = true, all_varchar = true)
),
conv AS (
    SELECT tx.transaction_id, tx.user_id, tx.product_id, cats.category,
           CAST(tx.amount AS FLOAT) AS amount, tx.currency,
           CASE WHEN tx.currency = 'USD' THEN CAST(CAST(tx.amount AS FLOAT) AS DOUBLE)
                ELSE CAST(CAST(tx.amount AS FLOAT) AS DOUBLE)
                     * coalesce(CASE WHEN rates.rate <> 0.0 THEN rates.rate END, 1.0::DOUBLE)
           END AS amount_usd,
           strptime(tx."timestamp", '%Y-%m-%dT%H:%M:%SZ') AS ts
    FROM tx
    LEFT JOIN rates ON tx.currency = rates.currency
    LEFT JOIN cats ON tx.product_id = cats.product_id
)
SELECT transaction_id, user_id, product_id, category, amount, currency, amount_usd,
       ts AS "timestamp", CAST(ts AS DATE) AS transaction_date,
       CAST(year(ts) AS INT) AS transaction_year, CAST(month(ts) AS INT) AS transaction_month,
       CAST(weekofyear(ts) AS INT) AS transaction_week, CAST(dayofmonth(ts) AS INT) AS transaction_day
FROM conv"""


#: Order-insensitive value hash of the 13 output columns, per (currency,
#: month) group, so a mismatch is small to compare and to print.
_ETL_SUMMARY = """
SELECT currency, transaction_month, count(*) AS n,
       sum(hash(transaction_id, user_id, product_id, category, amount, currency,
                amount_usd, epoch_us("timestamp"), transaction_date, transaction_year,
                transaction_month, transaction_week, transaction_day)::HUGEINT) AS h
FROM ({rows})
GROUP BY ALL"""


def _etl_output_ok(con, out_dir: str, expected: list) -> bool:
    parquet = f"read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true)"
    n_dates = con.sql(f"SELECT count(DISTINCT load_date) FROM {parquet}").fetchone()[0]
    got = con.sql(_ETL_SUMMARY.format(rows=f"SELECT * FROM {parquet}")).fetchall()
    cols = ["currency", "transaction_month", "n", "h"]
    return n_dates == 1 and same_rows(cols, got, cols, expected)


def _expected_holt(con) -> tuple[list[str], list[tuple]]:
    """The trend step's rows: DuckDB's monthly cents per category, folded
    with Holt's recurrence (alpha and beta from ``operators.trends``)."""
    from bigdata_pipelines_aws_glue_spark.operators.trends import HOLT_ALPHA, HOLT_BETA

    series: dict[str, list[float]] = {}
    for nation, _, rev in con.sql(
        f"""SELECT coalesce(category, '(none)'),
                   (transaction_year - 2025) * 12 + transaction_month - 1 AS x,
                   CAST(sum(CAST(floor(amount_usd * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
            FROM expected GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall():
        series.setdefault(nation, []).append(rev)
    rows = []
    for nation, ys in series.items():
        level, trend = ys[0], 0.0
        for y in ys[1:]:
            new = HOLT_ALPHA * y + (1.0 - HOLT_ALPHA) * (level + trend)
            trend = HOLT_BETA * (new - level) + (1.0 - HOLT_BETA) * trend
            level = new
        rows.append(
            (nation, len(ys), level / 100.0, trend / 100.0,
             (level + trend) / 100.0, (level + 3.0 * trend) / 100.0)
        )
    cols = ["nation", "n_months", "level", "trend", "forecast_1m", "forecast_3m"]
    return cols, rows


# ------------------------------------------------------- corpus funnel


class CorpusFunnel(Workload):
    """``corpus_funnel_stats`` from the query registry (WARC bytes -> gz
    inflate -> parse -> URL dedup -> host cap -> quality -> BPE -> pack) over
    a seeded ``documents`` table shaped like the sf0.1 test set's. It writes
    no files."""

    name = "corpus_funnel"
    input_rows = N_DOCUMENTS
    query_op = "corpus_funnel_stats"

    def generate(self, seed: int) -> None:
        write_documents(seed, self.data_dir)

    def run_pass(self, spark: SparkSession, k: int, tracer: Tracer) -> PassResult:
        from bigdata_pipelines_aws_glue_spark import registry

        fn = registry.queries()[self.query_op]
        res = PassResult(time.time(), 0.0, tracer.enabled)
        with tracer.span(f"pass-{k}", "pass") as pass_span:
            res.span = pass_span
            op = Op(self.query_op)
            t0 = time.perf_counter()
            try:
                with self._step(spark, tracer, res, "build", "registry"):
                    df = fn(spark, self.data_dir)
                op.build_s = time.perf_counter() - t0
                with self._step(spark, tracer, res, "collect", "action"):
                    op.output = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                op.error = traceback.format_exc()
            op.seconds = time.perf_counter() - t0
            res.ops.append(op)
        res.end = time.time()
        return res

    def check(self, ops: list[Op]) -> list[bool]:
        from bigdata_pipelines_aws_glue_spark import registry

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{self.data_dir}/documents.parquet'"
        )
        rel = con.sql(registry.oracle_sql()[self.query_op])
        expected = (list(rel.columns), rel.fetchall())
        return [
            op.error is None and same_rows(*op.output, *expected) for op in ops
        ]


WORKLOADS = {w.name: w for w in (EtlFlagship, CorpusFunnel)}
