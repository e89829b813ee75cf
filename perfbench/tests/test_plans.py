"""The benchmark's timed actions run the whole plan.

A ``.count()`` lets Catalyst prune Python UDFs whose output nothing reads:
the count plan of ``q_zlib`` has no ``ArrowEvalPython`` node, so timing it
never runs zlib. These tests read the physical plans Spark actually ran
from its event log and assert that the benchmark's timed streaming queries
keep their ``ArrowEvalPython`` nodes, with the count plan as the regression
case. They start Spark, so they take about a minute:

    python3 -m pytest perfbench/tests/test_plans.py -q
"""

from __future__ import annotations

import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, workloads  # noqa: E402
from perfbench.trace import sql_plans  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from kitkat_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    s = get_spark(
        app_name="perfbench-plans",
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    s.log_dir = log_dir
    yield s
    s.stop()


def _plans_since(spark, n_before: int) -> list[str]:
    (log,) = glob.glob(os.path.join(spark.log_dir, spark.sparkContext.applicationId + "*"))
    return sql_plans(log)[n_before:]


def _n_plans(spark) -> int:
    logs = glob.glob(os.path.join(spark.log_dir, spark.sparkContext.applicationId + "*"))
    return len(sql_plans(logs[0])) if logs else 0


def test_count_prunes_zlib_but_the_timed_write_keeps_it(spark, tmp_path):
    from kitkat_spark.queries import QUERIES

    texts = ["spark stream batch"] * 3 + ["kinesis record"] * 2
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(5), pa.int64()),
                "text": texts,
                "lang": ["en"] * 5,
                "source": ["src0"] * 5,
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    df = QUERIES["q_zlib"](spark, str(tmp_path))
    n = _n_plans(spark)
    df.count()
    counted = _plans_since(spark, n)
    n = _n_plans(spark)
    df.write.format("noop").mode("overwrite").save()
    written = _plans_since(spark, n)
    assert counted and not any("ArrowEvalPython" in p for p in counted)
    assert any("ArrowEvalPython" in p and "zlib_decompress_udf" in p for p in written)


def _records(tmp_path) -> str:
    out = str(tmp_path / "in")
    gen.write_backlog(out, 1, shards=2, waves=2, outer_per_file=20)
    return os.path.join(out, "records")


def test_drain_batches_keep_both_codec_udfs(spark, tmp_path):
    n = _n_plans(spark)
    workloads.start_drain(spark, _records(tmp_path), str(tmp_path / "q"), per_trigger=2).awaitTermination()
    plans = [p for p in _plans_since(spark, n) if "ArrowEvalPython" in p]
    assert any("kpl_deaggregate_udf" in p for p in plans)
    assert any("zlib_decompress_udf" in p for p in plans)


def test_tail_batches_keep_both_codec_udfs(spark, tmp_path):
    n = _n_plans(spark)
    workloads.start_tail(spark, _records(tmp_path), str(tmp_path / "q"), interval=None).awaitTermination()
    plans = [p for p in _plans_since(spark, n) if "ArrowEvalPython" in p]
    assert any("kpl_deaggregate_udf" in p and "zlib_decompress_udf" in p for p in plans)
