"""Serving benchmark for duck_server_spark: PG wire, ClickHouse HTTP and
in-process operator workloads. Entry point: ``python3 servebench/run.py``."""
