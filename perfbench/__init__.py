"""Layered benchmark of cuckoo_filter_spark; entry point perfbench/run.py."""
