"""Benchmark of the mwa_uvdata_pipeline_spark package (see run.py)."""
