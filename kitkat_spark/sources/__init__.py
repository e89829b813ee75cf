from kitkat_spark.sources.tables import TABLES, load_table  # noqa: F401
