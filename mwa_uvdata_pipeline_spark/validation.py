"""Multi-error accumulating validation (SURVEY.md §2.8).

The reference collects every violated rule into one error list and
raises once (reference configurators.py:136-185) with processor-level
``on_error ∈ {raise, warn, ignore}`` (reference processors.py:56,142-148).
Here one action (:func:`catalog_summary`) reduces the catalog to one
row that the rules V1-V5 and V8 read in plain Python: the driver gets
the file types present and, per offender rule, the exact count and at
most ``OFFENDER_SAMPLE`` sorted examples. Each violation is a report row
``(rule, severity, message)``; ``assert_valid`` mirrors raise-at-end.
V6 is ``SelectOptions``'s own check; V7 is the J5 symmetric difference.
"""

from __future__ import annotations

import warnings
from typing import Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.catalog import SUPPORTED_TYPES

OnError = Literal["raise", "warn", "ignore"]

_REPORT_SCHEMA = "rule string, severity string, message string"

# Offender lists are sampled, never collected whole: a 100-TB lake's
# catalog is itself large, so the report carries the exact violation
# COUNT plus a deterministic (sorted) sample of this many examples.
OFFENDER_SAMPLE = 20


def _offenders(values):
    """Count and sorted sample of an array column of offenders."""
    return F.struct(F.size(values).alias("n"),
                    F.slice(F.sort_array(values), 1, OFFENDER_SAMPLE).alias("sample"))


def catalog_summary(catalog: DataFrame) -> dict:
    """One action: the set of file ``types`` present and, per offender
    rule, ``{"n": count, "sample": sorted sample}`` — ``V3`` (obsids with
    fits but no metafits) and, once channels are resolved, ``V8``. The
    aggregation buffers hold the distinct obsids and the V8 offenders."""
    fits = F.col("file_type") == "fits"
    aggs = [
        F.collect_set("file_type").alias("types"),
        # V3: every obsid with fits files has a metafits (configurators.py:
        # 157-162,250-256; intent per SURVEY §8.7: the metafits list must
        # be non-empty per obsid, not merely the group dict)
        _offenders(F.array_except(
            F.collect_set(F.when(fits, F.col("obsid"))),
            F.collect_set(F.when(F.col("file_type") == "metafits", F.col("obsid"))),
        )).alias("V3"),
    ]
    if "channel" in catalog.columns:
        # V8: every fits filename yields a channel (processors.py:121-129
        # → utils.py:61-78 error paths)
        aggs.append(_offenders(F.collect_list(
            F.when(fits & F.col("channel").isNull(), F.col("file_name"))
        )).alias("V8"))
    return catalog.agg(*aggs).first().asDict(recursive=True)


def _sampled(rule: str, offenders: dict, each: str, more: str) -> list[tuple[str, str, str]]:
    """The sampled offender rows, then one row naming how many more."""
    rows = [(rule, "error", each.format(v)) for v in offenders["sample"]]
    n = offenders["n"]
    if n > OFFENDER_SAMPLE:
        rows.append((rule, "error", f"... and {n - OFFENDER_SAMPLE} more {more} ({n} total)"))
    return rows


def violations(summary: dict) -> list[tuple[str, str, str]]:
    """V1-V5 and V8 over a :func:`catalog_summary`, one tuple each."""
    types = set(summary["types"])
    rows: list[tuple[str, str, str]] = []
    # V1: at least one supported file type (configurators.py:148-150)
    if not types & set(SUPPORTED_TYPES):
        rows.append(("V1", "error", f"no supported file types in {sorted(types)}"))

    # V2: fits present => metafits present (configurators.py:153-154)
    if "fits" in types and "metafits" not in types:
        rows.append(("V2", "error", "fits files present but no metafits"))

    rows += _sampled("V3", summary["V3"], "obsid {} has no metafits",
                     "obsids without metafits")

    # V4: no unsupported types (configurators.py:164-168)
    for t in sorted(types - set(SUPPORTED_TYPES)):
        rows.append(("V4", "error", f"unsupported file type: {t}"))

    # V5: uvfits xor uvh5; ms excludes both (configurators.py:171-176). uvf counts
    # as uvfits (alias, configurators.py:47; the reference misses it, SURVEY §8.6).
    has_uvfits = bool(types & {"uvfits", "uvf"})
    if has_uvfits and "uvh5" in types:
        rows.append(("V5", "error", "uvfits and uvh5 are mutually exclusive"))
    if "ms" in types and (has_uvfits or "uvh5" in types):
        rows.append(("V5", "error", "ms excludes uvfits/uvh5 inputs"))
    if "V8" in summary:
        rows += _sampled("V8", summary["V8"], "no channel derivable from {}",
                         "files without a derivable channel")
    return rows


def validation_report(spark: SparkSession, catalog: DataFrame) -> DataFrame:
    """V1-V5 and V8 over a file catalog, one report row per violation."""
    return spark.createDataFrame(violations(catalog_summary(catalog)), _REPORT_SCHEMA)


def assert_valid(report: DataFrame, on_error: OnError = "raise") -> None:
    """Raise-at-end with every message, like the reference's single
    aggregated ValueError (configurators.py:121)."""
    if on_error != "ignore":
        raise_at_end([(r["rule"], r["severity"], r["message"]) for r in report.collect()], on_error)


def raise_at_end(rows, on_error: OnError = "raise") -> None:
    """``assert_valid`` over ``(rule, severity, message)`` tuples."""
    msgs = [f"{rule}: {message}" for rule, severity, message in rows if severity == "error"]
    if not msgs or on_error == "ignore":
        return
    joined = "\n".join(msgs)
    if on_error == "warn":
        warnings.warn(joined, stacklevel=3)
    else:
        raise ValueError(f"validation failed with {len(msgs)} error(s):\n{joined}")
