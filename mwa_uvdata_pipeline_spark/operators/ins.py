"""A5/A6 — incoherent noise spectrum and its z-score (SURVEY.md §2.4).

INS = sample-weighted mean of |V| over the baseline axis per
(time, freq, pol), restricted by spectrum_type (the SSINS core
statistic; config surface reference configurators.py:86-97, math in the
pinned SSINS dependency). Flagged cells are excluded from the mean.

The INS is built as sums (:func:`ins_sums`, the one aggregation over
the visibilities) and a division (:func:`ins_from_sums`), so a caller
holding the sums can still flag whole groups before dividing.

z-score (SSINS ``metric_ms``) standardizes INS across time per
(chan, pol) as window aggregates: on an INS table already clustered by
the partition keys (or a prefix of them) it needs no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.functions.complexnum import c_abs
from mwa_uvdata_pipeline_spark.operators.select import SpectrumType, spectrum_predicate

#: the additive columns of :func:`ins_sums` (sum them to coarsen the key)
SUM_COLS = ("mag_wsum", "nsample_sum", "n_flagged", "n_baselines")


def ins_sums(
    vis: DataFrame,
    spectrum_type: SpectrumType = "cross",
    group_keys: tuple[str, ...] = ("time_idx", "chan", "pol"),
) -> DataFrame:
    """Per-group sums that determine the INS: sample-weighted |V| and
    sample weight over unflagged cells, flagged cells, all cells.

    One hash aggregation; Catalyst does map-side partial aggregation so
    the shuffle carries only Ntimes x Nchan x Npol groups regardless of
    baseline count — this is the operator that collapses 100 TB to MBs.
    """
    df = vis.where(spectrum_predicate(spectrum_type))
    ok = ~F.col("flag")
    w = F.col("nsample")
    return df.groupBy(*group_keys).agg(
        F.sum(F.when(ok, c_abs(F.col("vis")) * w).otherwise(F.lit(0.0)))
        .alias("mag_wsum"),
        F.sum(F.when(ok, w).otherwise(F.lit(0.0))).alias("nsample_sum"),
        F.count_if(F.col("flag")).alias("n_flagged"),
        F.count(F.lit(1)).alias("n_baselines"),
    )


def ins_from_sums(sums: DataFrame) -> DataFrame:
    """Per group: mean |V| over unflagged cells (``ins``), the summed
    sample weight, flag occupancy and cell count. Every non-sum column
    of ``sums`` is a group key and passes through."""
    keys = [c for c in sums.columns if c not in SUM_COLS]
    w = F.col("nsample_sum")
    return sums.select(
        *keys,
        # NULL (not 0/0=NaN) when every contributing cell is flagged
        F.when(w > 0, F.col("mag_wsum") / w).alias("ins"),
        "nsample_sum",
        (F.col("n_flagged") / F.col("n_baselines")).alias("flag_occupancy"),
        "n_baselines",
    )


def incoherent_noise_spectrum(
    vis: DataFrame,
    spectrum_type: SpectrumType = "cross",
    group_keys: tuple[str, ...] = ("time_idx", "chan", "pol"),
) -> DataFrame:
    """Per-(time, chan, pol): mean |V| over unflagged baselines, the
    summed sample weight, and flag occupancy."""
    return ins_from_sums(ins_sums(vis, spectrum_type, group_keys))


_MAD_TO_SIGMA = 1.4826022185056018  # 1/Phi^-1(3/4): MAD → sigma for a Gaussian


def zscore(
    ins: DataFrame,
    part_keys: tuple[str, ...] = ("chan", "pol"),
) -> DataFrame:
    """A6: per-(chan, pol) standardization of INS across time.

    The robust median/MAD estimator: SSINS applies its match filter
    iteratively precisely because a bright RFI spike contaminates the
    plain mean/stddev of its own channel; median/MAD gives the one-shot
    equivalent (the spike cannot drag the location/scale estimate).
    Degenerate groups (zero scale) get z=0 so thresholds stay defined.
    """
    w = Window.partitionBy(*part_keys)
    out = ins.withColumn("_loc", F.median("ins").over(w)).withColumn(
        "_scale",
        F.median(F.abs(F.col("ins") - F.col("_loc"))).over(w)
        * F.lit(_MAD_TO_SIGMA),
    )
    z = F.when(
        F.col("_scale").isNull() | (F.col("_scale") == 0.0), F.lit(0.0)
    ).otherwise((F.col("ins") - F.col("_loc")) / F.col("_scale"))
    # fully-flagged cells have NULL ins → NULL z (flows through as "no evidence")
    z = F.when(F.col("ins").isNull(), F.lit(None).cast("double")).otherwise(z)
    return out.withColumn("z", z).drop("_loc", "_scale")
