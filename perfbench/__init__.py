"""Seeded workloads, oracles and tracing for benchmarking the Nagios ETL engine."""
