"""Warehouse benchmark: seeded workloads over the public API of
``data_warehouse_morrocan_banks_spark``; see README.md."""
