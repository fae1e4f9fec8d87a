"""End-to-end pipeline facade: the reference's ``SS.read`` option
surface (SURVEY.md §2.9) composed in its execution order, feeding the
SSINS chain (§2.10).

Reference defaults (configurators.py:66-71): diff=True, flag_init=True,
remove_coarse_band=False, correct_van_vleck=False,
remove_flagged_ants=True, flag_choice=None. ``run_check`` has no
equivalent — schema-on-read replaces pyuvdata's O(data) consistency
scan (configurators.py:224,261).

``ss_read`` is lazy plan construction. ``ssins_pipeline`` runs the read
chain up to the INS as ONE action — one scan of the input — and keeps
the INS (Ntimes x Nchan x Npol rows) as one partition; the z-score and
match filter above it are window aggregates that need no exchange.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.operators.diff import time_diff
from mwa_uvdata_pipeline_spark.operators.flags import (
    correct_van_vleck,
    flag_init,
    remove_coarse_band,
    seed_flags,
)
from mwa_uvdata_pipeline_spark.operators.ins import SUM_COLS, ins_from_sums, ins_sums, zscore
from mwa_uvdata_pipeline_spark.operators.matchfilter import (
    MatchFilterConfig,
    match_filter,
)
from mwa_uvdata_pipeline_spark.operators.select import SelectOptions, apply_select


@dataclass
class ReadOptions:
    """SS.read surface (reference configurators.py:66-71,215-225)."""

    diff: bool = True                   # W1 (configurators.py:66)
    flag_init: bool = True              # configurators.py:67
    remove_coarse_band: bool = False    # configurators.py:68 ("low freq res")
    correct_van_vleck: bool = False     # configurators.py:69 ("slow")
    flag_choice: str | None = None      # configurators.py:71
    fine_per_coarse: int = 8
    edge_width: int = 1
    gain_dim: DataFrame | None = None
    van_vleck_sigma: float = 1.0


@dataclass
class PipelineConfig:
    read: ReadOptions = field(default_factory=ReadOptions)
    select: SelectOptions = field(default_factory=SelectOptions)
    mf: MatchFilterConfig = field(default_factory=MatchFilterConfig)

    def output_suffix(self) -> str:
        """X9 naming: '.diff' prefix plus the select tags
        (reference configurators.py:125-134)."""
        return (".diff" if self.read.diff else "") + self.select.suffix()


def ss_read(
    vis: DataFrame,
    opts: ReadOptions | None = None,
    select: SelectOptions | None = None,
    antenna_dim: DataFrame | None = None,
    time_bounds: bool = True,
) -> DataFrame:
    """The read-time transform chain in reference order: seed flags →
    initial flagging → corrections → select → time diff.
    ``time_bounds=False`` leaves flag_init's first/last integrations to
    the caller (:func:`read_ins` applies them to the INS)."""
    opts = opts or ReadOptions()
    df = seed_flags(vis, opts.flag_choice)
    if opts.flag_init:
        df = flag_init(df, opts.fine_per_coarse, opts.edge_width, time_bounds)
    if opts.correct_van_vleck:
        df = correct_van_vleck(df, opts.van_vleck_sigma)
    if opts.remove_coarse_band:
        df = remove_coarse_band(df, opts.gain_dim)
    if select is not None:
        df = apply_select(df, select, antenna_dim)
    if opts.diff:
        df = time_diff(df)
    return df


def read_ins(
    vis: DataFrame,
    cfg: PipelineConfig | None = None,
    antenna_dim: DataFrame | None = None,
    obs_keys: tuple[str, ...] = (),
) -> DataFrame:
    """The read chain through the INS as ONE action over ``vis``;
    returns the INS keyed by (*obs_keys, time_idx, chan, pol) over the
    stored result. Without ``obs_keys`` it is read as one partition;
    with them it is hash-partitioned on them by one exchange of the INS
    rows, so observations run in parallel. Either way every later
    window or grouping prefixed by ``obs_keys`` needs no further
    exchange.

    flag_init's first/last integrations are the min/max ``time_idx`` of
    ``vis`` itself (before select), observed by that same action and
    applied to the INS sums: a diff is flagged iff its earlier parent is
    the first integration or its later one the last, so the sums are
    also keyed by the earlier parent's time, whole groups are marked
    flagged, and the groups are summed back per time. Those bounds span
    the whole frame, so flag_init is refused with ``obs_keys``.

    The INS is stored by ``localCheckpoint``: its blocks belong to the
    returned frame and Spark's context cleaner drops them once the frame
    and its descendants are garbage. The price is fault tolerance: the
    stored blocks have no lineage, so if an executor holding them is
    lost, the frame fails rather than recomputes and the caller must
    call ``read_ins`` again.
    """
    cfg = cfg or PipelineConfig()
    opts, bounds = cfg.read, Observation()
    if obs_keys and opts.flag_init:
        raise ValueError("flag_init bounds are per frame; they cannot be used with obs_keys")
    keys = (*obs_keys, "time_idx", "chan", "pol")
    if opts.flag_init:
        vis = vis.observe(
            bounds, F.min("time_idx").alias("lo"), F.max("time_idx").alias("hi")
        )
    d = ss_read(vis, opts, cfg.select, antenna_dim, time_bounds=False)
    first = "prev_time_idx" if opts.diff else "time_idx"
    split = (first,) if opts.flag_init and opts.diff else ()
    sums = ins_sums(d, cfg.select.spectrum_type, (*keys, *split))
    # the one action. A checkpoint planned by AQE reports no output
    # partitioning, so the distribution is set above it: a coalesce
    # (no shuffle) to SinglePartition, or a hash exchange on obs_keys.
    sums = sums.localCheckpoint(eager=True)
    sums = sums.repartition(*obs_keys) if obs_keys else sums.coalesce(1)
    if opts.flag_init:
        lo, hi = bounds.get["lo"], bounds.get["hi"]
        hit = (F.col(first) == F.lit(lo)) | (F.col("time_idx") == F.lit(hi))
        flagged = {
            "mag_wsum": F.lit(0.0),
            "nsample_sum": F.lit(0.0),
            "n_flagged": F.col("n_baselines"),
        }
        sums = sums.withColumns(
            {c: F.when(hit, v).otherwise(F.col(c)) for c, v in flagged.items()}
        )
    if split:
        sums = sums.groupBy(*keys).agg(*(F.sum(c).alias(c) for c in SUM_COLS))
    return ins_from_sums(sums)


def ssins_pipeline(
    vis: DataFrame,
    cfg: PipelineConfig | None = None,
    antenna_dim: DataFrame | None = None,
) -> DataFrame:
    """Flagship query (SURVEY.md §7 phase 1): read-chain → INS →
    z-score → match filter over one observation. Returns the
    per-(time, chan, pol) flag table with narrow/streak/time-broadcast
    verdicts. The scan through the INS runs here; the returned frame is
    lazy above it."""
    cfg = cfg or PipelineConfig()
    ins = read_ins(vis, cfg, antenna_dim)
    z = zscore(ins, part_keys=("chan", "pol"))
    return match_filter(z, cfg.mf)
