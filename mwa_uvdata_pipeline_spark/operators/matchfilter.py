"""SSINS match filter (SURVEY.md §2.10; thresholds from reference
configurators.py:89-92): narrow-band test, broadband streak test,
and time-broadcast flagging.

Pipeline over the z-scored INS table:
1. narrow  — flag cells with |z| > narrow (single-channel RFI);
2. streak  — per (time, pol) mean z over channels; |mean| > streak
   flags the whole time row (broadband RFI);
3. tb_aggro — if the flagged fraction of channels at a time exceeds
   tb_aggro, flag the entire time (W4 time-broadcast).

Every statistic is a window aggregate over the tiny INS table
(Ntimes x Nchan x Npol rows): the heavy lifting happened upstream in
the INS aggregation, and on an INS table held in one partition, or
hash-partitioned on ``obs_keys``, the whole filter runs without an
exchange.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class MatchFilterConfig:
    """Defaults mirror reference configurators.py:89-92."""

    threshold: float = 5.0
    narrow: float = 7.0
    streak: float = 8.0
    tb_aggro: float = 0.6


def match_filter(
    ins_z: DataFrame,
    cfg: MatchFilterConfig | None = None,
    obs_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Return the INS table with boolean columns ``narrow_flag``,
    ``streak_flag``, ``tb_flag`` and the OR-combined ``mf_flag``.

    Input: output of :func:`zscore` (columns time_idx, chan, pol, z,
    and flag_occupancy from the INS aggregation). ``obs_keys`` prefixes
    every per-time grouping — pass ``("obsid",)`` to run the filter
    over MANY observations in one chain (each obsid's streak/tb
    statistics stay independent, exactly as a per-observation loop
    would compute them — the multi-obsid lifecycle posture; reference
    runs one obsid per process, configurators.py:89-92).
    """
    cfg = cfg or MatchFilterConfig()
    ok = list(obs_keys)

    # NULL z (fully-flagged cell) is not evidence of RFI → False, not NULL
    narrow = F.coalesce(F.abs(F.col("z")) > F.lit(cfg.narrow), F.lit(False))
    df = ins_z.withColumn("narrow_flag", narrow)

    # streak: per (time, pol) mean z across all channels
    w_tp = Window.partitionBy(*ok, "time_idx", "pol")
    df = df.withColumn(
        "streak_flag",
        F.coalesce(F.abs(F.avg("z").over(w_tp)) > F.lit(cfg.streak), F.lit(False)),
    )

    # time-broadcast: occupancy of (pre-existing OR new) flags per time
    cell_flagged = (
        (F.col("flag_occupancy") > F.lit(0.5))
        | F.col("narrow_flag")
        | F.col("streak_flag")
    )
    w_t = Window.partitionBy(*ok, "time_idx")
    df = df.withColumn(
        "tb_flag", F.avg(cell_flagged.cast("double")).over(w_t) > F.lit(cfg.tb_aggro)
    )
    return df.withColumn(
        "mf_flag", F.col("narrow_flag") | F.col("streak_flag") | F.col("tb_flag")
    )
