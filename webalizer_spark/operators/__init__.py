from webalizer_spark.operators.parse import parse_transcripts

__all__ = ["parse_transcripts"]
