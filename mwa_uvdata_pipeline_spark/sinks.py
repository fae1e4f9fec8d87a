"""Sinks (SURVEY.md §2.1 S7/S8 + the scale-out parquet layout).

S7: the reference exposes ``export_tsv`` for INS output
(reference configurators.py:97) — here a header'd tab-separated
writer. S8's three plot types are served as queryable result tables
(plans.domain), not rendered images.

Scale posture: every writer is executor-parallel. The TSV, bucketed
and parquet writers write one file per partition; ``write_hypercube``
lays visibility data out partitioned by the keys every downstream
operator groups on, so scans prune partitions and the diff/INS
shuffles start co-located. The native exports (uvfits, uvh5) share one
grouped-export body that writes one file per observation inside one
task each.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame

from mwa_uvdata_pipeline_spark.sources_fits import write_uvfits
from mwa_uvdata_pipeline_spark.sources_hdf5 import write_uvh5


def write_tsv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S7 TSV sink: tab-separated with header. ``single_file`` coalesces
    to one part for small result tables (INS spectra) — never use it on
    payload-sized frames."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("sep", "\t").option("header", True).csv(path)


def read_tsv(spark, path: str, schema: str | None = None) -> DataFrame:
    """Inverse of :func:`write_tsv` (schema string recommended — header
    inference costs an extra scan)."""
    r = spark.read.option("sep", "\t").option("header", True)
    return (r.schema(schema) if schema else r.option("inferSchema", True)).csv(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed table: joins/aggs on ``bucket_col`` between co-bucketed
    tables run with NO shuffle exchange on either side (the
    pre-partitioning strategy for repeated big-big joins at 100 TB —
    pay the shuffle once at write, never at read). ``path`` makes it an
    external table (the warehouse dir is a static conf)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_hypercube(
    vis: DataFrame, path: str, partition_by: tuple[str, ...] = ("chan",)
) -> None:
    """Visibility hypercube parquet layout, partitioned by coarse
    grouping keys (SURVEY.md §1.4: obsid/coarse_chan mirrors the
    per-gpubox file split). Partition values must be low-cardinality —
    obsid and coarse channel, never time or baseline."""
    vis.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_files: int | None = None,
    target_file_bytes: int = 256 << 20,
    max_records_per_file: int | None = None,
) -> dict:
    """Small-files compaction: rewrite a fragmented parquet directory
    into ``target_files`` right-sized files (default sized from the
    input bytes at ``target_file_bytes`` per file, the 100-TB-friendly
    128-512 MiB band).

    The small-files problem is the classic long-running-ingest failure
    mode — streaming appends and per-partition writers leave thousands
    of KiB-scale files whose open/footer overhead dominates scans and
    whose listing stalls the driver. Compaction here is one
    ``repartition`` (round-robin, so output files are uniform) feeding
    an executor-parallel rewrite; the driver only lists file metadata
    to size the job. Returns {files_before, files_after, bytes}.
    """
    import glob
    import os

    src_abs = os.path.abspath(src_path)
    dst_abs = os.path.abspath(dst_path)
    if dst_abs == src_abs or dst_abs.startswith(src_abs + os.sep):
        # the read is lazy: overwrite into (or inside) the source would
        # clobber input files mid-rewrite and lose data
        raise ValueError(
            f"compact_parquet destination {dst_path!r} overlaps source "
            f"{src_path!r}; write to a sibling directory and swap"
        )
    # NOTE: sizing/counting uses driver-local glob, so it only sees
    # local paths — on an object store these counts read as 0 and
    # target_files must be passed explicitly (the rewrite itself is
    # path-scheme agnostic).
    files = [
        f
        for f in glob.glob(os.path.join(src_path, "**", "*.parquet"), recursive=True)
        if not os.path.basename(f).startswith("_")
    ]
    total = sum(os.path.getsize(f) for f in files)
    if target_files is None:
        target_files = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(src_path)
    w = df.repartition(target_files).write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(dst_path)
    after = [
        f
        for f in glob.glob(os.path.join(dst_path, "**", "*.parquet"), recursive=True)
        if not os.path.basename(f).startswith("_")
    ]
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes": total,
    }


def _write_grouped(
    vis: DataFrame,
    out_dir: str,
    group_col: str,
    ext: str,
    write: Callable[[pd.DataFrame, str], None],
) -> DataFrame:
    """One native file per ``group_col`` value, packed and written
    executor-side via applyInPandas, so an export parallelizes one task
    per observation with no driver-side data movement. Returns the
    manifest (group, path, n_rows, n_bytes) as a DataFrame — the only
    thing the driver sees.

    Files land on a filesystem visible to the executors (local/NFS
    here; on an object store the per-task write becomes an upload from
    the same generator — the grouping and memory shape are unchanged,
    one observation per task)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        path = os.path.join(out_dir, f"obs_{key[0]}.{ext}")
        write(pdf, path)
        return pd.DataFrame(
            [
                {
                    "group": key[0],
                    "path": path,
                    "n_rows": len(pdf),
                    "n_bytes": os.path.getsize(path),
                }
            ]
        )

    return vis.groupBy(group_col).applyInPandas(
        write_group,
        "group long, path string, n_rows long, n_bytes long",
    )


def write_uvfits_grouped(
    vis: DataFrame,
    out_dir: str,
    group_col: str = "obsid",
    jd_zero: float = 2460000.0,
) -> DataFrame:
    """Distributed uvfits EXPORT — the write half of the native FITS
    story (sources_fits.py reads): one random-groups uvfits file per
    ``group_col`` value (see :func:`_write_grouped`)."""
    return _write_grouped(
        vis, out_dir, group_col, "uvfits", partial(write_uvfits, jd_zero=jd_zero)
    )


def write_uvh5_grouped(
    vis: DataFrame,
    out_dir: str,
    group_col: str = "obsid",
) -> DataFrame:
    """Distributed UVH5 EXPORT — the write half of the native HDF5
    story (sources_hdf5.py reads): one UVH5 file per ``group_col``
    value (see :func:`_write_grouped`)."""
    return _write_grouped(vis, out_dir, group_col, "uvh5", write_uvh5)
