"""Shows that the benchmark's output checks catch one corrupted row.

    python3 perfbench/corruption_check.py

Runs one small ``etl_flagship`` pass and checks it (must pass), then changes
one value in one row of the written parquet and one value of the trend
result and checks again (each must fail). For ``corpus_funnel`` it checks the
DuckDB oracle's own rows (must pass) and the same rows with one value
changed (must fail). Exits 0 only if every check behaves that way.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work", "corruption")


def _bump_first_row(path: str, column: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    values = table.column(column).to_pylist()
    values[0] += 1.0
    idx = table.schema.get_field_index(column)
    table = table.set_column(idx, column, pa.array(values, table.schema.field(idx).type))
    pq.write_table(table, path)


def main() -> int:
    sys.path[0] = ROOT
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import duckdb

    from bigdata_pipelines_aws_glue_spark import registry
    from bigdata_pipelines_aws_glue_spark.session import get_spark
    from perfbench.inputs import write_documents, write_etl_inputs
    from perfbench.run import isolate, stop_spark
    from perfbench.spans import Tracer
    from perfbench.workloads import CorpusFunnel, EtlFlagship, Op

    shutil.rmtree(WORK, ignore_errors=True)
    isolate(WORK)
    results = []

    etl = EtlFlagship(f"{WORK}/etl-inputs", f"{WORK}/etl-out")
    write_etl_inputs(0, 20_000, etl.data_dir)
    spark = get_spark("perfbench-corruption-check")
    try:
        ops = etl.run_pass(spark, 0, Tracer()).ops
    finally:
        stop_spark(spark)
    pipeline, _, trend = ops
    results.append(("etl_flagship as written", etl.check(ops), True))
    part = sorted(glob.glob(f"{pipeline.output}/*/*.parquet"))[0]
    _bump_first_row(part, "amount_usd")
    results.append(("etl_flagship, one parquet row changed", etl.check([pipeline]), False))
    cols, rows = trend.output
    bad = [(rows[0][0], rows[0][1], rows[0][2] + 0.01, *rows[0][3:])] + rows[1:]
    trend.output = (cols, bad)
    results.append(("etl_flagship, one trend row changed", etl.check([trend]), False))

    funnel = CorpusFunnel(f"{WORK}/funnel-inputs", "")
    write_documents(0, funnel.data_dir)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{funnel.data_dir}/documents.parquet'")
    rel = con.sql(registry.oracle_sql()[funnel.query_op])
    cols, rows = list(rel.columns), rel.fetchall()
    good = Op(funnel.query_op, output=(cols, rows))
    first = list(rows[0])
    first[0] += 1
    bad = Op(funnel.query_op, output=(cols, [tuple(first)] + rows[1:]))
    results.append(("corpus_funnel, oracle rows", funnel.check([good]), True))
    results.append(("corpus_funnel, one value changed", funnel.check([bad]), False))

    ok = True
    for what, verdicts, expected in results:
        passed = all(verdicts)
        ok &= passed == expected
        print(f"{what}: check {'passes' if passed else 'fails'} (expected {'pass' if expected else 'fail'})")
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
