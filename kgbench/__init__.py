"""Benchmark of the rex_spark KG job; entry point kgbench/run.py."""
