from webalizer_spark.sources.tables import TableIO

__all__ = ["TableIO"]
