"""Repo benchmark for opentsdb_aura_spark: serve, ingest_mixed and curate
workloads driven through the package's public API (see README.md)."""
