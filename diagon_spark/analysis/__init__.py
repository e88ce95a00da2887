from diagon_spark.analysis.tokenizer import tokenize

__all__ = ["tokenize"]
