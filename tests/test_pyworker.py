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


def test_codec_udf_runs_from_a_driver_outside_the_repo(tmp_path):
    driver = tmp_path / "driver.py"
    driver.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from kitkat_spark.functions.kpl import aggregate_records, kpl_deaggregate_udf
        from kitkat_spark.session import get_spark

        spark = get_spark(app_name="pyworker_outside", shuffle_partitions=1)
        blob = aggregate_records(["a", "b"], [
            {{"partition_key_index": 0, "data": b"x"}},
            {{"partition_key_index": 1, "data": b"y"}},
        ])
        df = spark.createDataFrame([(blob,)], "blob binary")
        print("ROWS", df.select(F.explode(kpl_deaggregate_udf("blob"))).count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, str(driver)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=240,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ROWS 2" in r.stdout


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
