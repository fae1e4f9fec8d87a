"""File-set catalog: the Spark analog of ``UVDataFileSet``.

The reference models an input dataset as dicts of paths grouped by
extension and by (obsid, extension) (reference configurators.py:39-276);
here the catalog is a DataFrame ``(obsid, channel, file_path, file_name,
file_type, size_bytes)`` so grouping, validation and joins are ordinary
relational ops that scale to millions of files.

Scalar derivations (SURVEY.md §2.7):
- X1 channel_from_filename  (reference utils.py:61-78)
- X2 obsid_from_filename    (reference utils.py:82-87)
- X3 extension extraction   (reference configurators.py:232)
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: reference configurators.py:43-48 (uvf is an alias of uvfits, :47)
SUPPORTED_TYPES = ("fits", "metafits", "ms", "uvfits", "uvf", "uvh5")

_CATALOG_SCHEMA = "file_path string, size_bytes long"


def catalog_from_paths(
    spark: SparkSession, paths: Iterable[str], stat_sizes: bool = True
) -> DataFrame:
    """Build the catalog DataFrame from an explicit path list.

    Driver-side listing is fine here (a path list is metadata, not
    data); for cloud-scale directory trees use
    ``spark.read.format("binaryFile")`` + ``input_file_name()`` instead
    so listing itself is distributed.
    """
    rows = []
    for p in paths:
        size = 0
        if stat_sizes:
            try:
                size = _disk_usage(p)
            except OSError:
                size = 0
        rows.append((str(p), size))
    if not rows:
        # reference rejects empty file sets eagerly (configurators.py:101-102)
        raise ValueError("no files provided")
    return with_derived_columns(spark.createDataFrame(rows, _CATALOG_SCHEMA))


def _disk_usage(path: str) -> int:
    """Recursive byte count (reference utils.py:172-188, sans the 1 MiB
    block rounding — kept as exact bytes; blocks are a derived column)."""
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total
    return os.path.getsize(path)


def with_derived_columns(df: DataFrame) -> DataFrame:
    """Add file_name, file_type (X3), obsid (X2), channel-number hints (X1).

    ``channel`` here is the direct ``chNNN``-style extraction; gpubox
    numbers resolve to receiver channels through the coarse-channel
    dimension (J1, :func:`resolve_channels`).
    """
    name = F.element_at(F.split(F.col("file_path"), "/"), -1)
    stem = F.regexp_replace(name, r"\.[^.]+$", "")
    return (
        df.withColumn("file_name", name)
        .withColumn("file_type", F.regexp_extract(name, r"\.([^.]+)$", 1))
        .withColumn("obsid", F.split(stem, "_").getItem(0))
        .withColumn(
            "chan_kind", F.regexp_extract(name, r"(gpubox|ch)(\d+)", 1)
        )
        .withColumn(
            "chan_num",
            F.nullif(F.regexp_extract(name, r"(gpubox|ch)(\d+)", 2), F.lit("")).cast(
                "int"
            ),
        )
    )


def resolve_channels(catalog: DataFrame, channel_dim: DataFrame) -> DataFrame:
    """X1 + J1: resolve each file's receiver channel.

    ``chNNN`` names carry the channel directly; ``gpuboxNN`` names look
    it up in the coarse-channel dimension (reference utils.py:49-78).
    The dim is tiny (24 rows for MWA) → broadcast hash join, no shuffle.
    """
    dim = F.broadcast(
        channel_dim.select(
            F.col("gpubox_number").alias("_gpubox"),
            F.col("rec_chan_number").alias("_rec_chan"),
        )
    )
    joined = catalog.join(
        dim, on=F.col("chan_num") == F.col("_gpubox"), how="left"
    )
    return joined.withColumn(
        "channel",
        F.when(F.col("chan_kind") == "ch", F.col("chan_num")).otherwise(
            F.col("_rec_chan")
        ),
    ).drop("_gpubox", "_rec_chan")


def group_by_extension(catalog: DataFrame) -> DataFrame:
    """A1: ``{ext: sorted[paths]}`` (reference configurators.py:227-235)."""
    return catalog.groupBy("file_type").agg(
        F.sort_array(F.collect_list("file_path")).alias("file_paths"),
        F.count(F.lit(1)).alias("n_files"),
    )


def group_by_obsid_and_extension(catalog: DataFrame) -> DataFrame:
    """A2: two-level grouping (reference configurators.py:237-248)."""
    return catalog.groupBy("obsid", "file_type").agg(
        F.sort_array(F.collect_list("file_path")).alias("file_paths"),
        F.count(F.lit(1)).alias("n_files"),
    )


def total_input_size(catalog: DataFrame) -> DataFrame:
    """A3: total bytes + 1 MiB blocks (reference configurators.py:263-265,
    utils.py:172-188)."""
    return catalog.agg(
        F.sum("size_bytes").alias("total_bytes"),
        F.sum(F.floor(F.col("size_bytes") / F.lit(1024 * 1024))).alias("total_mib_blocks"),
    )


def observations(catalog: DataFrame) -> DataFrame:
    """S6: per-observation row — (obsid, metafits paths, fits paths)
    (reference configurators.py:270-276)."""
    return catalog.groupBy("obsid").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("file_type") == "metafits", F.col("file_path")))
        ).alias("metafits"),
        F.sort_array(
            F.collect_list(F.when(F.col("file_type") == "fits", F.col("file_path")))
        ).alias("fits"),
    )


class FileSet:
    """User-facing mirror of the reference's ``UVDataFileSet``
    (configurators.py:39-276): construct from paths, validate eagerly
    with every violation aggregated into one error, expose the dynamic
    ``has_<type>`` / ``<type>`` accessor surface the reference builds
    with a metaclass (configurators.py:11-37,188-201) — here a plain
    ``__getattr__`` over the catalog DataFrame, whose one summary row
    (read at construction) answers ``has_<type>`` and validation.

    The DataFrame itself (``.catalog``) is the scale path; this class
    is the convenience wrapper for reference users switching over.
    """

    def __init__(
        self,
        spark: SparkSession,
        files: Iterable[str],
        validate: bool = True,
        on_error: str = "raise",
    ) -> None:
        from mwa_uvdata_pipeline_spark.validation import catalog_summary, raise_at_end, violations

        self.spark = spark
        self.catalog = catalog_from_paths(spark, files)
        self._summary = catalog_summary(self.catalog)
        if validate:
            raise_at_end(violations(self._summary), on_error)  # type: ignore[arg-type]

    def __getattr__(self, name: str):
        if name.startswith("has_") and name[4:] in SUPPORTED_TYPES:
            return name[4:] in self._summary["types"]
        if name in SUPPORTED_TYPES:
            return [
                r["file_path"]
                for r in self.catalog.where(F.col("file_type") == name)
                .orderBy("file_path")
                .collect()
            ]
        raise AttributeError(name)

    @property
    def file_groups(self) -> DataFrame:
        return group_by_extension(self.catalog)

    @property
    def obsid_groups(self) -> DataFrame:
        return group_by_obsid_and_extension(self.catalog)

    def observations(self) -> DataFrame:
        return observations(self.catalog)

    def total_size(self) -> int:
        return total_input_size(self.catalog).first()["total_bytes"]
