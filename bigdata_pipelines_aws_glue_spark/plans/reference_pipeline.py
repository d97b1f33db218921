"""The reference pipeline in its ORIGINAL shape: CSV inputs with the
reference's declared schemas -> transform -> partitioned Parquet
(``glue_job.py`` end to end, SURVEY.md §3.1-3.2).

``plans.flagship`` re-expresses the same query over the driver's
TPC-H corpus for the oracle harness; this module is the
drop-in-replacement surface for a user of the reference: same three
inputs (transactions / currency_rates / product_categories CSVs,
FIXTURES.md §A), same 13-column + load_date output contract.

What is deliberately NOT ported (SURVEY.md §4):
- the driver-side ``collect()`` + broadcast of the rates table
  (glue_job.py:99) and the per-row conversion UDF (glue_job.py:63-71)
  — replaced by ``max_by`` + broadcast-hash join + expressions;
- the 7+ debug ``count()``/``show()`` actions re-executing the DAG
  (glue_job.py:91-136) — diagnostics are opt-in here;
- Glue job bookmarks (glue_job.py:181) — idempotency comes from
  dynamic partition overwrite (see sources.writers).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ``transform`` is a module-level name that ``run_pipeline`` looks up
# at call time, so a caller can wrap it on this module (the traced
# benchmark pass does).
from bigdata_pipelines_aws_glue_spark.plans.flagship import (
    enrich as transform,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import read_csv
from bigdata_pipelines_aws_glue_spark.sources.writers import (
    write_partitioned_parquet,
)

# Reference-declared schemas (glue_job.py:35-53).
CURRENCY_RATES_SCHEMA = StructType(
    [
        StructField("currency", StringType(), True),
        StructField("rate_to_usd", FloatType(), True),
        StructField("rate_date", TimestampType(), True),
    ]
)
PRODUCT_CATEGORIES_SCHEMA = StructType(
    [
        StructField("product_id", StringType(), True),
        StructField("category", StringType(), True),
    ]
)


@dataclass
class PipelineConfig:
    """C1: the five job parameters (glue_job.py:19-24) minus JOB_NAME."""

    input_path: str
    output_path: str
    currency_rates_path: str
    product_categories_path: str
    target_currency: str = "USD"


def read_inputs(
    spark: SparkSession, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S1-S3: raw transactions are schema-on-read + repair casts
    (glue_job.py:78-89 — the declared transaction_schema was never
    actually passed to the reader); the two dims use declared schemas
    (glue_job.py:97,104)."""
    transactions = read_csv(
        spark,
        cfg.input_path,
        timestamp_columns=("timestamp",),
        float_columns=("amount",),
    )
    rates = read_csv(spark, cfg.currency_rates_path, schema=CURRENCY_RATES_SCHEMA)
    rates = rates.withColumn("rate_to_usd", F.col("rate_to_usd").cast("double"))
    categories = read_csv(
        spark, cfg.product_categories_path, schema=PRODUCT_CATEGORIES_SCHEMA
    )
    return transactions, rates, categories


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """C5: the whole state machine (step_functions_definition.json:5-33)
    as plain control flow — run transform, write, propagate errors."""
    transactions, rates, categories = read_inputs(spark, cfg)
    result = transform(transactions, rates, categories, cfg.target_currency)
    write_partitioned_parquet(result, cfg.output_path)
    return result
