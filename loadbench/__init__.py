"""Workload benchmark for rca_data_tools_spark; entry point: run.py."""
