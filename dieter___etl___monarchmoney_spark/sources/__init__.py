from dieter___etl___monarchmoney_spark.sources.parquet import TABLES, load_table

__all__ = ["TABLES", "load_table"]
