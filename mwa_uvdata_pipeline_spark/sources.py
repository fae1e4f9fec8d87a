"""Source dispatch: one registry from file format to reader
(SURVEY.md §2.1 S1/S2, §2.11).

The reference models inputs as a typed file set with per-format
processors: ``supported_types`` {fits, metafits, ms, uvfits, uvf, uvh5}
(reference configurators.py:43-48, ``uvf`` aliasing uvfits at :47), a
``UVDataFileProcessor`` protocol with ``can_handle``/``validate``/
``read`` (reference processors.py:42-63), and a ``DEFAULT_READERS``
registry filled by a decorator (reference processors.py:23-38).

Here :data:`READERS` maps each format to a reader returning the
long-format visibility DataFrame (SURVEY.md §1.4):

- ``parquet`` is the production path, Spark's own scan;
- the native formats are each a parser of one file's bytes and the
  schema of its rows, read by the one file scan
  :func:`codec.scan_files`: ``uvfits`` and the gpubox ``fits`` dump
  (sources_fits.py, FITS parsed from the standard, no astropy),
  ``metafits`` headers (one row per observation), and ``uvh5``
  (sources_hdf5.py, a minimal HDF5 v0 codec, no h5py);
- ``ms`` is a stub: the casacore table container has no public
  byte-level spec concise enough to reimplement safely.

X8 batch arithmetic (reference utils.py:20-47) is kept as advisory
planning math — Spark's executor memory model (partitioning + spill +
AQE) replaces it, so its only use is suggesting a repartition width.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from pathlib import PurePosixPath

from pyspark.sql import DataFrame, SparkSession

from mwa_uvdata_pipeline_spark.codec import scan_files
from mwa_uvdata_pipeline_spark.sources_fits import (
    GPUBOX_SCHEMA,
    UVFITS_SCHEMA,
    parse_gpubox,
    parse_uvfits,
    read_metafits,
)
from mwa_uvdata_pipeline_spark.sources_hdf5 import parse_uvh5

# uvf is an alias of uvfits (reference configurators.py:47; the
# reference's alias TODO — SURVEY.md §8.6 — is resolved here so alias
# files hit the same reader and the same exclusivity rules).
ALIASES = {"uvf": "uvfits"}

Reader = Callable[[SparkSession, list[str]], DataFrame]


def read_parquet_vis(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Long-format hypercube from parquet — the production path. Spark
    lists/splits files on executors; predicate pushdown and partition
    pruning come from the scan itself."""
    return spark.read.parquet(*paths)


def read_ms(spark: SparkSession, paths: list[str]) -> DataFrame:
    """casacore MeasurementSet stub: the scale design is the native one,
    a per-file converter under :func:`codec.scan_files`."""
    try:
        import casacore  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "ms ingest needs ['casacore']; the scale design is a "
            "binaryFile scan + mapInPandas per-file converter to the "
            "long-format schema (SURVEY.md §4)"
        ) from None
    raise NotImplementedError("wire the ms converter here")


READERS: dict[str, Reader] = {
    "parquet": read_parquet_vis,
    "ms": read_ms,
    "metafits": read_metafits,
    "fits": partial(scan_files, parse=parse_gpubox, schema=GPUBOX_SCHEMA),
    "uvfits": partial(scan_files, parse=parse_uvfits, schema=UVFITS_SCHEMA),
    # uvh5 rows share the uvfits schema
    "uvh5": partial(scan_files, parse=parse_uvh5, schema=UVFITS_SCHEMA),
}


def format_of(path: str) -> str:
    """Extension → canonical format (X3 extraction + alias resolution;
    reference configurators.py:232)."""
    ext = PurePosixPath(path).suffix.lstrip(".").lower()
    return ALIASES.get(ext, ext)


def can_handle(fmt: str) -> bool:
    return ALIASES.get(fmt, fmt) in READERS


def read_visibilities(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S2 multi-format dispatch: group paths by canonical format, read
    each group with its registered reader, union. Unsupported formats
    raise up front (V4, reference configurators.py:164-168)."""
    by_fmt: dict[str, list[str]] = {}
    for p in paths:
        by_fmt.setdefault(format_of(p), []).append(p)
    unknown = sorted(set(by_fmt) - set(READERS))
    if unknown:
        raise ValueError(f"unsupported file types: {unknown}")
    out: DataFrame | None = None
    for fmt, group in sorted(by_fmt.items()):
        df = READERS[fmt](spark, sorted(group))
        out = df if out is None else out.unionByName(df)
    assert out is not None, "no input paths"
    return out


def compute_optimal_batches(
    size_gb: float, avail_mem_gb: float, leakage_factor: int = 7
) -> int:
    """X8 memory/batch arithmetic (reference utils.py:20-47 intent —
    the NameError at utils.py:40, SURVEY.md §8.1, is fixed): predicted
    peak = leakage_factor x input; one batch if it fits, else
    ``(predicted // avail) * 2`` (doubling compensates the non-linear
    growth the reference observed, utils.py:46)."""
    if size_gb <= 0:
        raise ValueError("size_gb must be positive")
    predicted = size_gb * leakage_factor
    if predicted < avail_mem_gb:
        return 1
    return int(predicted // avail_mem_gb) * 2


def suggest_partitions(
    total_bytes: int, target_partition_bytes: int = 128 * 1024 * 1024
) -> int:
    """The Spark-native replacement for X8: partition count from data
    size at the standard 128 MiB split target — feeds ``repartition``
    when writing, never a read-side batching loop."""
    return max(1, -(-total_bytes // target_partition_bytes))
