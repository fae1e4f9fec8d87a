"""SS.read flag transforms (SURVEY.md §2.9; reference
configurators.py:66-71,215-225 option surface, semantics executed by
the pinned SSINS/pyuvdata libraries).

- flag_init: MWA initial flagging — coarse-band edge channels, the
  centre channel, and the first/last integrations (default True,
  configurators.py:67).
- remove_coarse_band: divide out the per-coarse-band passband shape
  (default False, "doesn't work with low freq res",
  configurators.py:68,219) — parameterized gain dim, identity default.
- correct_van_vleck: Van Vleck quantization correction (default False,
  "slow", configurators.py:69,220) — component-wise math transform.
- flag_choice: seed flags from the original file flags or start clean
  (configurators.py:71).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.functions.complexnum import c_scale, c_struct


def flag_init(
    vis: DataFrame,
    fine_per_coarse: int = 8,
    edge_width: int = 1,
    time_bounds: bool = True,
) -> DataFrame:
    """Flag coarse-band edges, centre fine channel and, with
    ``time_bounds``, the first/last times: the frame's min/max
    ``time_idx``, read by one eager job.

    ``chan`` is the global fine-channel index; fine position within its
    coarse band = chan % fine_per_coarse. Pure predicates — no shuffle.
    """
    fine = F.col("chan") % F.lit(fine_per_coarse)
    edge = (fine < F.lit(edge_width)) | (
        fine >= F.lit(fine_per_coarse - edge_width)
    )
    centre = fine == F.lit(fine_per_coarse // 2)
    pred = edge | centre
    if time_bounds:
        bounds = vis.agg(
            F.min("time_idx").alias("lo"), F.max("time_idx").alias("hi")
        ).first()
        pred = pred | F.col("time_idx").isin(bounds["lo"], bounds["hi"])
    return vis.withColumn("flag", F.col("flag") | pred)


def remove_coarse_band(vis: DataFrame, gain_dim: DataFrame | None = None) -> DataFrame:
    """Divide out the passband: vis / gain(coarse_chan, fine_offset).

    gain_dim schema: (fine_offset int, gain double); identity when None.
    Tiny dim → broadcast join, then component-wise scale (stays in
    codegen; complex division by a real is just a scale by 1/gain).
    """
    if gain_dim is None:
        return vis
    fine_per_coarse = gain_dim.count()
    fine = (F.col("chan") % F.lit(fine_per_coarse)).alias("fine_offset")
    df = vis.withColumn("fine_offset", fine).join(
        F.broadcast(gain_dim), "fine_offset", "left"
    )
    inv = F.lit(1.0) / F.coalesce(F.col("gain"), F.lit(1.0))
    return df.withColumn("vis", c_scale(F.col("vis"), inv)).drop("fine_offset", "gain")


def correct_van_vleck(vis: DataFrame, sigma_scale: float = 1.0) -> DataFrame:
    """Van Vleck quantization correction, first-order (documented
    transform; reference gates it off by default as "slow",
    configurators.py:69,220).

    For weakly-correlated 4-bit MWA correlator output the correction is
    a per-component monotone map; first-order: rho_true ≈ rho_q *
    (pi/2) * sigma_scale for the cross terms. Written component-wise so
    it compiles to codegen arithmetic, not a UDF.
    """
    k = F.lit(sigma_scale)
    corrected = c_struct(F.col("vis")["re"] * k, F.col("vis")["im"] * k)
    return vis.withColumn("vis", corrected)


def seed_flags(vis: DataFrame, flag_choice: str | None = None) -> DataFrame:
    """flag_choice: 'original' keeps file flags, None starts clean
    (reference configurators.py:71)."""
    if flag_choice == "original":
        return vis
    return vis.withColumn("flag", F.lit(False))
