"""Benchmark harness for radar_log_parser_spark; entry point `run.py`."""
