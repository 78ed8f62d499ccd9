"""Benchmark of the Spark-native ETL engine; see ``run.py``."""
