"""Benchmark of record for the xarray_spatial_spark engine (see README.md)."""
