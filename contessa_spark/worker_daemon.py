"""Spark's Python worker daemon, started as ``python -m
contessa_spark.worker_daemon`` so that ``contessa_spark/__init__.py``
runs before pyspark is imported (see its worker block)."""

from pyspark import daemon

if __name__ == "__main__":
    daemon.manager()
