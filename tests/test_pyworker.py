"""Python workers of a get_spark session import kitkat_spark from the
package root wherever the driver runs, and start from a clean import path:
no cached zip importer over an archive without Python modules (the
spark-core JAR), and pyspark from the source tree instead of pyspark.zip."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_driver(tmp_path, body: str) -> subprocess.CompletedProcess:
    """Runs ``body`` as a driver script in ``tmp_path``, outside the repo,
    with the repo on its own sys.path only."""
    driver = tmp_path / "driver.py"
    driver.write_text(f"import sys\nsys.path.insert(0, {REPO!r})\n" + textwrap.dedent(body))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, str(driver)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=240,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return r


def test_codec_udf_runs_from_a_driver_outside_the_repo(tmp_path):
    r = _run_driver(tmp_path, """
        from pyspark.sql import functions as F
        from kitkat_spark.functions.kpl import aggregate_records, kpl_deaggregate_udf
        from kitkat_spark.session import get_spark

        spark = get_spark(app_name="pyworker_outside", shuffle_partitions=1)
        blob = aggregate_records(["a", "b"], [
            {"partition_key_index": 0, "data": b"x"},
            {"partition_key_index": 1, "data": b"y"},
        ])
        df = spark.createDataFrame([(blob,)], "blob binary")
        print("ROWS", df.select(F.explode(kpl_deaggregate_udf("blob"))).count())
        spark.stop()
    """)
    assert "ROWS 2" in r.stdout


def test_codec_udfs_survive_a_session_restart(tmp_path):
    """A module-level UDF applied under a stopped SparkContext must not
    keep that context's accumulator: each session's tasks report into
    their own (functions/udf.py)."""
    r = _run_driver(tmp_path, """
        import zlib
        from datetime import datetime
        from kitkat_spark.functions.kpl import aggregate_records
        from kitkat_spark.session import get_spark
        from kitkat_spark.streaming.pipeline import consume_transform
        from kitkat_spark.streaming.records import RECORD_SCHEMA

        blob = aggregate_records(["a"], [{"partition_key_index": 0, "data": zlib.compress(b"x\\n")}])
        rows = [(blob, "k", "1", datetime(2024, 1, 1), "shardId-0", "s", "NONE"),
                (zlib.compress(b"y\\n"), "k", "2", datetime(2024, 1, 1), "shardId-0", "s", "NONE")]
        for i in range(2):
            spark = get_spark(app_name=f"pyworker_restart{i}", shuffle_partitions=1)
            out = consume_transform(spark.createDataFrame(rows, RECORD_SCHEMA), compression="zlib")
            print("MESSAGES", sorted(r.message for r in out.collect()))
            spark.stop()
    """)
    assert r.stdout.count("MESSAGES ['x', 'y']") == 2, r.stdout
    assert "Failed to update accumulator" not in r.stderr, r.stderr[-3000:]


def test_worker_import_path_is_clean(spark):
    # defined here, not at module level, so it is pickled by value: the
    # workers cannot import this test module
    @F.pandas_udf("string")
    def worker_imports(ids: pd.Series) -> pd.Series:
        """One line per cached zip importer whose archive holds no Python
        module, then the worker's pyspark.__file__ and SPARK_HOME."""
        import os
        import sys
        import zipfile
        import zipimport

        import pyspark

        bare = set()
        for finder in sys.path_importer_cache.values():
            if isinstance(finder, zipimport.zipimporter):
                with zipfile.ZipFile(finder.archive) as zf:
                    if not any(n.endswith((".py", ".pyc")) for n in zf.namelist()):
                        bare.add(finder.archive)
        lines = sorted(bare) + [pyspark.__file__, os.environ.get("SPARK_HOME", "")]
        return pd.Series(["\n".join(lines)] * len(ids))

    *bare, pyspark_file, spark_home = (
        spark.range(1, numPartitions=1).select(worker_imports("id")).first()[0].split("\n")
    )
    assert bare == []
    if spark_home and os.path.isfile(os.path.join(spark_home, "python", "pyspark", "__init__.py")):
        assert os.path.isfile(pyspark_file), pyspark_file  # not a path inside pyspark.zip
