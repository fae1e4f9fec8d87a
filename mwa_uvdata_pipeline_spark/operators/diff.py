"""W1 — time differencing (sky subtraction), THE defining SSINS
transform (SURVEY.md §2.5; reference configurators.py:66 ``diff=True``
default, executed by the pinned SSINS library).

Subtract the visibility at the previous time step per (baseline, chan,
pol); a static sky cancels exactly, leaving noise + RFI. Flags OR
together so a cell is flagged if either parent sample was; nsample of a
diff is the mean of the two parent samples; ``prev_time_idx`` is the
earlier parent's time.

Scale notes: one window shuffle partitioned by (obsid, ant1, ant2,
chan, pol) — cardinality ~ Nbl x Nchan x Npol (10^6-10^7 for MWA), far
above executor count, so no skew; each partition is Ntimes rows (tiny).
At 100 TB this is the natural clustering of the data anyway — writing
the vis table bucketed by baseline makes this shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.functions.complexnum import c_sub

#: one series per (obsid, baseline, chan, pol); keys the frame lacks are skipped
KEYS = ("obsid", "ant1", "ant2", "chan", "pol")


def time_diff(vis: DataFrame) -> DataFrame:
    """Adjacent-time difference per key group; output has Ntimes-1 steps
    per group (the first time step has no predecessor and is dropped).

    All lag() columns share one WindowSpec so Catalyst evaluates them in
    a single Window physical operator — one shuffle, one sort.
    """
    keys = tuple(k for k in KEYS if k in vis.columns)
    w = Window.partitionBy(*keys).orderBy("time_idx")
    has_ns = "nsample" in vis.columns
    out = vis.withColumn("_prev_vis", F.lag("vis").over(w)).withColumn(
        "_prev_flag", F.lag("flag").over(w)
    ).withColumn("prev_time_idx", F.lag("time_idx").over(w))
    if has_ns:
        out = out.withColumn("_prev_ns", F.lag("nsample").over(w))
    out = (
        out.where(F.col("_prev_vis").isNotNull())
        .withColumn("vis", c_sub(F.col("vis"), F.col("_prev_vis")))
        .withColumn("flag", F.col("flag") | F.col("_prev_flag"))
    )
    if has_ns:
        out = out.withColumn(
            "nsample", (F.col("nsample") + F.col("_prev_ns")) / F.lit(2.0)
        ).drop("_prev_ns")
    return out.drop("_prev_vis", "_prev_flag")
