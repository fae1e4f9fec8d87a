"""Domain plans over the committed MWA fixture tables
(``fixtures/*.parquet``, generated by ``tools/make_fixtures.py`` per
FIXTURES.md §B; deterministic, checked into the repo).

Oracle SQL reads the same parquet files by absolute path — DuckDB scans
them directly, no view registration needed.

Determinism shim: INS sums |V| = sqrt(...) values, and double sums are
order-dependent at the ulp level, so the cross-engine-compared variants
round INS to 9 dp before downstream math (both engines, same operands
→ identical results). The production operators stay unrounded.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.operators.diff import time_diff
from mwa_uvdata_pipeline_spark.operators.flags import flag_init
from mwa_uvdata_pipeline_spark.operators.ins import incoherent_noise_spectrum, zscore
from mwa_uvdata_pipeline_spark.operators.matchfilter import MatchFilterConfig, match_filter
from mwa_uvdata_pipeline_spark.operators.select import SelectOptions, apply_select
from mwa_uvdata_pipeline_spark.pipeline import PipelineConfig, ReadOptions, read_ins
from mwa_uvdata_pipeline_spark.plans import register

FIXTURE_DIR = Path(__file__).resolve().parents[2] / "fixtures"


def fixture(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(str(FIXTURE_DIR / f"{name}.parquet"))


def _fx(name: str) -> str:
    return f"read_parquet('{FIXTURE_DIR}/{name}.parquet')"


# SQL twin of operators.diff.time_diff over the vis fixture
_SQL_DIFF = f"""
    SELECT time_idx, ant1, ant2, chan, pol,
           struct_extract(vis, 're') - LAG(struct_extract(vis, 're'))
               OVER w AS dre,
           struct_extract(vis, 'im') - LAG(struct_extract(vis, 'im'))
               OVER w AS dim,
           (flag OR LAG(flag) OVER w) AS dflag
    FROM {_fx("visibilities")}
    WINDOW w AS (PARTITION BY ant1, ant2, chan, pol ORDER BY time_idx)
    QUALIFY LAG(struct_extract(vis, 're')) OVER w IS NOT NULL
"""

# SQL twin of operators.ins.incoherent_noise_spectrum (cross, rounded)
_SQL_INS = f"""
    SELECT time_idx, chan, pol,
           ROUND(CASE WHEN SUM(CASE WHEN NOT dflag THEN 1.0 ELSE 0.0 END) > 0
                 THEN SUM(CASE WHEN NOT dflag THEN sqrt(dre*dre + dim*dim)
                          ELSE 0.0 END)
                      / SUM(CASE WHEN NOT dflag THEN 1.0 ELSE 0.0 END)
                 END, 9) AS ins,
           AVG(CASE WHEN dflag THEN 1.0 ELSE 0.0 END) AS flag_occupancy,
           COUNT(*) AS n_baselines
    FROM ({_SQL_DIFF}) WHERE ant1 != ant2
    GROUP BY time_idx, chan, pol
"""


@register(
    "d_w1_diff",
    sql=f"SELECT * FROM ({_SQL_DIFF})",
    doc="W1 time differencing on the visibility hypercube: lag per "
        "(baseline, chan, pol), flags OR'd (reference configurators.py:66; "
        "SSINS sky subtraction). Fixture values are dyadic rationals so "
        "the subtraction is bit-exact cross-engine.",
)
def d_w1_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = time_diff(fixture(spark, "visibilities"))
    return d.select(
        "time_idx", "ant1", "ant2", "chan", "pol",
        F.col("vis")["re"].alias("dre"),
        F.col("vis")["im"].alias("dim"),
        F.col("flag").alias("dflag"),
    )


@register(
    "d_a5_ins",
    sql=_SQL_INS,
    doc="A5 incoherent noise spectrum: mean |V_diff| over unflagged cross "
        "baselines per (time, chan, pol) (SSINS core statistic; config "
        "surface reference configurators.py:86-97). Rounded to 9 dp for "
        "cross-engine sum-order determinism.",
)
def d_a5_ins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = time_diff(fixture(spark, "visibilities"))
    ins = incoherent_noise_spectrum(d, spectrum_type="cross")
    return ins.select(
        "time_idx", "chan", "pol",
        F.round("ins", 9).alias("ins"),
        "flag_occupancy",
        "n_baselines",
    )


_MAD_K = "1.4826022185056018"

# z-score + match filter chain on the rounded INS (thresholds:
# narrow 7, streak 8, tb_aggro 0.6 — reference configurators.py:89-92)
_SQL_MF = f"""
    WITH ins AS ({_SQL_INS}),
    med AS (SELECT chan, pol, MEDIAN(ins) AS loc FROM ins GROUP BY chan, pol),
    mad AS (SELECT i.chan, i.pol, MEDIAN(ABS(i.ins - m.loc)) * {_MAD_K} AS scale
            FROM ins i JOIN med m ON i.chan = m.chan AND i.pol = m.pol
            GROUP BY i.chan, i.pol),
    z AS (SELECT i.time_idx, i.chan, i.pol, i.ins, i.flag_occupancy,
                 CASE WHEN i.ins IS NULL THEN NULL
                      WHEN s.scale IS NULL OR s.scale = 0 THEN 0.0
                      ELSE (i.ins - m.loc) / s.scale END AS z
          FROM ins i
          JOIN med m ON i.chan = m.chan AND i.pol = m.pol
          JOIN mad s ON i.chan = s.chan AND i.pol = s.pol),
    narrow AS (SELECT *, COALESCE(ABS(z) > 7.0, FALSE) AS narrow_flag FROM z),
    streak AS (SELECT time_idx, pol, COALESCE(ABS(AVG(z)) > 8.0, FALSE)
                   AS streak_flag
               FROM narrow GROUP BY time_idx, pol),
    cells AS (SELECT n.*, s.streak_flag,
                     (n.flag_occupancy > 0.5 OR n.narrow_flag OR s.streak_flag)
                         AS cell_flagged
              FROM narrow n JOIN streak s
                ON n.time_idx = s.time_idx AND n.pol = s.pol),
    tb AS (SELECT time_idx, AVG(CASE WHEN cell_flagged THEN 1.0 ELSE 0.0 END)
               > 0.6 AS tb_flag
           FROM cells GROUP BY time_idx)
    SELECT c.time_idx, c.chan, c.pol, c.narrow_flag, c.streak_flag, t.tb_flag,
           (c.narrow_flag OR c.streak_flag OR t.tb_flag) AS mf_flag
    FROM cells c JOIN tb t ON c.time_idx = t.time_idx
"""


@register(
    "d_mf_flags",
    sql=_SQL_MF,
    doc="Full SSINS match filter (SURVEY §2.10): median/MAD z-score → "
        "narrow |z|>7 → per-(time,pol) streak |mean z|>8 → time-broadcast "
        "occupancy>0.6 (reference configurators.py:89-92). The flagship "
        "multi-operator domain query, oracle-checked end to end.",
)
def d_mf_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = time_diff(fixture(spark, "visibilities"))
    ins = incoherent_noise_spectrum(d, spectrum_type="cross").withColumn(
        "ins", F.round("ins", 9)
    )
    mf = match_filter(zscore(ins), MatchFilterConfig())
    return mf.select(
        "time_idx", "chan", "pol", "narrow_flag", "streak_flag", "tb_flag", "mf_flag"
    )


@register(
    "d_f_select",
    sql=f"""
    SELECT time_idx, ant1, ant2, chan, pol
    FROM {_fx("visibilities")}
    WHERE ant1 != ant2
      AND ant1 NOT IN (3) AND ant2 NOT IN (3)
      AND pol = 'XX'
      AND freq_hz BETWEEN 138900000.0 AND 138990000.0
    """,
    doc="F2/F3/F4/F7 select surface on the hypercube: skip_ants + "
        "sel_pols + freq_range + cross spectrum "
        "(reference configurators.py:74-87).",
)
def d_f_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = fixture(spark, "visibilities")
    out = apply_select(
        vis,
        SelectOptions(
            skip_ants=[3],
            sel_pols=["XX"],
            freq_range=(138_900_000.0, 138_990_000.0),
            spectrum_type="cross",
            remove_flagged_ants=False,
        ),
    )
    return out.select("time_idx", "ant1", "ant2", "chan", "pol")


@register(
    "d_j1_channel_lookup",
    sql=f"""
    SELECT f.obsid, f.file_path,
           CASE WHEN regexp_extract(f.file_path, '(gpubox|ch)(\\d+)', 1) = 'ch'
                THEN CAST(regexp_extract(f.file_path, '(gpubox|ch)(\\d+)', 2)
                          AS INTEGER)
                ELSE c.rec_chan_number END AS channel
    FROM {_fx("file_catalog")} f
    LEFT JOIN {_fx("channels")} c
      ON CAST(regexp_extract(f.file_path, '(gpubox|ch)(\\d+)', 2) AS INTEGER)
         = c.gpubox_number
     AND regexp_extract(f.file_path, '(gpubox|ch)(\\d+)', 1) = 'gpubox'
    WHERE f.file_type = 'fits'
    """,
    doc="X1+J1: channel_from_filename with gpubox→rec_chan broadcast "
        "lookup (reference utils.py:49-78); both regex branches plus the "
        "NULL-channel offender row.",
)
def d_j1_channel_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mwa_uvdata_pipeline_spark.catalog import resolve_channels, with_derived_columns

    files = fixture(spark, "file_catalog").select("file_path", "size_bytes")
    cat = resolve_channels(with_derived_columns(files), fixture(spark, "channels"))
    return cat.where(F.col("file_type") == "fits").select(
        "obsid", "file_path", "channel"
    )


@register(
    "d_v_report",
    sql=f"""
    WITH cat AS (
        SELECT *, regexp_extract(file_path, '(gpubox|ch)(\\d+)', 2) AS chtok
        FROM {_fx("file_catalog")})
    SELECT 'V3_missing_metafits' AS rule, COUNT(*) AS violations FROM (
        SELECT DISTINCT obsid FROM cat WHERE file_type = 'fits'
        EXCEPT SELECT DISTINCT obsid FROM cat WHERE file_type = 'metafits')
    UNION ALL
    SELECT 'V8_no_channel', COUNT(*) FROM cat
    WHERE file_type = 'fits' AND chtok = ''
    """,
    doc="V3 (obsid lacks metafits: anti-join emptiness) and V8 (filename "
        "yields no channel) as a validation-report query "
        "(reference configurators.py:157-162, processors.py:121-129).",
)
def d_v_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mwa_uvdata_pipeline_spark.catalog import with_derived_columns

    cat = with_derived_columns(
        fixture(spark, "file_catalog").select("file_path", "size_bytes")
    )
    fits_obs = cat.where(F.col("file_type") == "fits").select("obsid").distinct()
    meta_obs = cat.where(F.col("file_type") == "metafits").select("obsid").distinct()
    v3 = (
        fits_obs.join(meta_obs, "obsid", "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("V3_missing_metafits").alias("rule"), "violations")
    )
    v8 = (
        cat.where((F.col("file_type") == "fits") & F.col("chan_num").isNull())
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("V8_no_channel").alias("rule"), "violations")
    )
    return v3.unionByName(v8)


@register(
    "d_flag_init",
    sql=f"""
    SELECT time_idx, chan, pol, COUNT(*) AS n_flagged
    FROM {_fx("visibilities")}
    WHERE flag OR (chan % 8) < 1 OR (chan % 8) >= 7 OR (chan % 8) = 4
       OR time_idx = 0 OR time_idx = 9
    GROUP BY time_idx, chan, pol
    """,
    doc="flag_init: coarse-band edges + centre channel + first/last "
        "integrations (reference configurators.py:67; MWA initial "
        "flagging), counted per cell.",
)
def d_flag_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = flag_init(fixture(spark, "visibilities"), fine_per_coarse=8, edge_width=1)
    return (
        vis.where(F.col("flag"))
        .groupBy("time_idx", "chan", "pol")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


@register(
    "d_x2_obsid_extract",
    sql=f"""
    SELECT split_part(regexp_replace(split_part(file_path, '/', -1),
                                     '\\.[^.]+$', ''), '_', 1) AS obsid_str,
           COUNT(*) AS n_files
    FROM {_fx("file_catalog")} GROUP BY 1
    """,
    doc="X2 obsid_from_filename: stem before first '_' "
        "(reference utils.py:82-87).",
)
def d_x2_obsid_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mwa_uvdata_pipeline_spark.catalog import with_derived_columns

    cat = with_derived_columns(
        fixture(spark, "file_catalog").select("file_path", "size_bytes")
    )
    return cat.groupBy(F.col("obsid").alias("obsid_str")).agg(
        F.count(F.lit(1)).alias("n_files")
    )


@register(
    "d_antenna_dim",
    sql=f"""
    SELECT rec_type, COUNT(*) AS n_tiles,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM {_fx("antennas")} GROUP BY rec_type
    """,
    doc="Antenna dimension extraction (reference utils.py:148-169): "
        "flagged = rfinput_x | rfinput_y, rec_type cleaned of the "
        "'ReceiverType.' prefix at generation.",
)
def d_antenna_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fixture(spark, "antennas")
        .groupBy("rec_type")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(F.col("flagged").cast("int")).alias("n_flagged"),
        )
    )


@register(
    "d_s5_union_slices",
    sql=f"""
    SELECT chan, pol, COUNT(*) AS n,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM (
        SELECT * FROM {_fx("visibilities")} WHERE time_idx < 5
        UNION ALL
        SELECT * FROM {_fx("visibilities")} WHERE time_idx >= 5
    ) GROUP BY chan, pol
    """,
    doc="S5 batched-read union: union-of-time-slices ≡ whole read "
        "(reference processors.py:154-173 uvd += accumulate loop).",
)
def d_s5_union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = fixture(spark, "visibilities")
    lo = vis.where(F.col("time_idx") < 5)
    hi = vis.where(F.col("time_idx") >= 5)
    return (
        lo.unionByName(hi)
        .groupBy("chan", "pol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("flag").cast("int")).alias("n_flagged"),
        )
    )


_SQL_SIGCHAIN = f"""
    WITH d AS ({_SQL_DIFF}),
    per_ant AS (
        SELECT ant1 AS ant, pol, dre, dim, dflag FROM d
        UNION ALL
        SELECT ant2 AS ant, pol, dre, dim, dflag FROM d
    )
    SELECT ant, pol,
           ROUND(AVG(CASE WHEN NOT dflag THEN sqrt(dre*dre + dim*dim) END), 9)
               AS mean_abs,
           AVG(CASE WHEN dflag THEN 1.0 ELSE 0.0 END) AS flag_occupancy,
           COUNT(*) AS n_cells
    FROM per_ant GROUP BY ant, pol
"""


@register(
    "d_sigchain",
    sql=_SQL_SIGCHAIN,
    doc="S8 sigchain result table: per-(antenna, pol) mean |V_diff| and "
        "flag occupancy over every baseline touching the antenna (the "
        "data behind the reference's plot_type='sigchain', "
        "configurators.py:95). Union of the two antenna roles, one hash "
        "agg — per-antenna health without a per-antenna loop.",
)
def d_sigchain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = time_diff(fixture(spark, "visibilities"))
    base = d.select(
        "ant1", "ant2", "pol",
        F.col("vis")["re"].alias("dre"),
        F.col("vis")["im"].alias("dim"),
        F.col("flag").alias("dflag"),
    )
    per_ant = base.select(F.col("ant1").alias("ant"), "pol", "dre", "dim", "dflag").unionByName(
        base.select(F.col("ant2").alias("ant"), "pol", "dre", "dim", "dflag")
    )
    mag = F.sqrt(F.col("dre") * F.col("dre") + F.col("dim") * F.col("dim"))
    return per_ant.groupBy("ant", "pol").agg(
        F.round(F.avg(F.when(~F.col("dflag"), mag)), 9).alias("mean_abs"),
        F.avg(F.col("dflag").cast("double")).alias("flag_occupancy"),
        F.count(F.lit(1)).alias("n_cells"),
    )


@register(
    "s2_mwab_source",
    sql=f"""
    SELECT chan, pol, COUNT(*) AS n,
           SUM(struct_extract(vis, 're')) AS sum_re,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM {_fx("visibilities")}
    GROUP BY chan, pol
    """,
    doc="S2 ingest through the custom mwa_vis Python DataSource "
        "(mwab.py; SURVEY §4 extension point): the fixture hypercube is "
        "packed EXECUTOR-SIDE into per-time-block MWAB files "
        "(long_to_mwab_distributed: applyInPandas, one slab per task — "
        "the driver sees only the grid axes and the manifest, never the "
        "payload), read back via spark.read.format('mwa_vis') — "
        "byte-range partition planning + scan-level time/chan pushdown "
        "across the file set — and must aggregate identically to DuckDB "
        "reading the original parquet. Sums are dyadic-exact.",
)
def s2_mwab_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mwa_uvdata_pipeline_spark.mwab import (
        long_to_mwab_distributed,
        register_mwa_source,
    )
    from mwa_uvdata_pipeline_spark.plans import fixture_dir

    register_mwa_source(spark)

    def _build(d: str) -> None:
        manifest = long_to_mwab_distributed(
            fixture(spark, "visibilities"), d
        ).collect()
        assert manifest, "distributed packer produced no blocks"

    # keyed by sf_dir for uniformity even though the MWAB fixture is
    # sf-independent (it packs the committed visibilities fixture)
    out = fixture_dir("s2_mwab", sf_dir, _build)
    df = spark.read.format("mwa_vis").option("path", f"{out}/*.mwab").load()
    return df.groupBy("chan", "pol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vis")["re"]).alias("sum_re"),
        F.sum(F.col("flag").cast("int")).cast("long").alias("n_flagged"),
    )


@register(
    "d_coarse_band_gain",
    sql=f"""
    WITH g AS (SELECT * FROM (VALUES (0, 2.0), (1, 0.5), (2, 2.0), (3, 0.5),
                                     (4, 2.0), (5, 0.5), (6, 2.0), (7, 0.5))
               AS t(fine_offset, gain))
    SELECT chan, pol,
           SUM(struct_extract(vis, 're') / g.gain) AS sum_re_corr,
           SUM(struct_extract(vis, 'im') / g.gain) AS sum_im_corr,
           COUNT(*) AS n
    FROM {_fx("visibilities")} v JOIN g ON (v.chan % 8) = g.fine_offset
    GROUP BY chan, pol
    """,
    doc="remove_coarse_band passband correction (SURVEY §2.9, reference "
        "configurators.py:68,219): broadcast gain dim on fine offset, "
        "component-wise division, aggregated per channel. Dyadic gains "
        "keep the division bit-exact cross-engine.",
)
def d_coarse_band_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mwa_uvdata_pipeline_spark.operators.flags import remove_coarse_band

    gains = spark.createDataFrame(
        [(i, 2.0 if i % 2 == 0 else 0.5) for i in range(8)],
        "fine_offset int, gain double",
    )
    corrected = remove_coarse_band(fixture(spark, "visibilities"), gains)
    return corrected.groupBy("chan", "pol").agg(
        F.sum(F.col("vis")["re"]).alias("sum_re_corr"),
        F.sum(F.col("vis")["im"]).alias("sum_im_corr"),
        F.count(F.lit(1)).alias("n"),
    )


_VV_SIGMA = 1.5  # dyadic, so products/sums stay bit-exact cross-engine


@register(
    "d_van_vleck",
    sql=f"""
    SELECT chan, pol,
           SUM(struct_extract(vis, 're') * {_VV_SIGMA}) AS sum_re_corr,
           SUM(struct_extract(vis, 'im') * {_VV_SIGMA}) AS sum_im_corr,
           COUNT(*) AS n
    FROM {_fx("visibilities")}
    GROUP BY chan, pol
    """,
    doc="correct_van_vleck quantization correction (SURVEY §2.9, "
        "reference configurators.py:69,220 — gated off by default as "
        "'slow' there; here a closed-form per-component scale that "
        "compiles to codegen arithmetic, not a UDF). First-order map "
        "rho_true ≈ rho_q * k applied component-wise, aggregated per "
        "channel. Dyadic k keeps the products bit-exact cross-engine.",
)
def d_van_vleck(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mwa_uvdata_pipeline_spark.operators.flags import correct_van_vleck

    corrected = correct_van_vleck(
        fixture(spark, "visibilities"), sigma_scale=_VV_SIGMA
    )
    return corrected.groupBy("chan", "pol").agg(
        F.sum(F.col("vis")["re"]).alias("sum_re_corr"),
        F.sum(F.col("vis")["im"]).alias("sum_im_corr"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "s_uvfits_native",
    sql=f"""
    SELECT chan, MIN(freq_hz) AS freq_hz, pol,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flag,
           CAST(COUNT(DISTINCT 256 * ant1 + ant2) AS BIGINT) AS n_bl,
           CAST(SUM(ROUND(struct_extract(vis, 're') * 8)) AS BIGINT)
               AS sum_re_8,
           CAST(SUM(ROUND(struct_extract(vis, 'im') * 8)) AS BIGINT)
               AS sum_im_8,
           CAST(SUM(ROUND(0.25 * ant1 * 8)) AS BIGINT) AS sum_uu_8,
           CAST(MIN(ROUND((time_jd - 2460000.0) * 86400)) AS BIGINT)
               AS t0_sec,
           CAST(MAX(ROUND((time_jd - 2460000.0) * 86400)) AS BIGINT)
               AS t1_sec
    FROM {_fx("visibilities")}
    GROUP BY chan, pol
    """,
    doc="NATIVE uvfits ingest (S2 multi-format dispatch, real path — "
        "sources_fits.py, no astropy): the visibility fixture is "
        "serialized to a random-groups uvfits file (big-endian float32 "
        "groups of UU/VV/WW/BASELINE/DATE params + COMPLEX x STOKES x "
        "FREQ data, flags on the weight sign, JD epoch in PZERO, the "
        "AIPS conventions real MWA uvfits files use), then read back "
        "through the format registry's binaryFile + mapInPandas "
        "reader and aggregated per (chan, pol). The oracle computes "
        "the same aggregate from the parquet original — exact because "
        "every planted value is a dyadic rational that float32 "
        "round-trips losslessly, times compare as whole seconds "
        "(PZERO carries the epoch so float32 holds the fraction), and "
        "frequencies rebuild from CRVAL/CDELT in exact double "
        "arithmetic. Proves the full parse chain: header cards, group "
        "params with PSCAL/PZERO, axis decode, baseline codes, weight "
        "signs. Scale: one executor task per file, linear in file "
        "count (MWA ships one file per coarse channel).",
)
def s_uvfits_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from mwa_uvdata_pipeline_spark.plans import fixture_dir
    from mwa_uvdata_pipeline_spark.sources import read_visibilities
    from mwa_uvdata_pipeline_spark.sources_fits import write_uvfits

    def _build(d: str) -> None:
        t = pq.read_table(str(FIXTURE_DIR / "visibilities.parquet"))
        raw = t.to_pandas()
        pdf = pd.DataFrame(
            {
                "time_jd": raw["time_jd"],
                "ant1": raw["ant1"],
                "ant2": raw["ant2"],
                "chan": raw["chan"],
                "pol": raw["pol"],
                "freq_hz": raw["freq_hz"],
                "re": raw["vis"].map(lambda v: v["re"]),
                "im": raw["vis"].map(lambda v: v["im"]),
                "nsample": raw["nsample"].astype("f8"),
                "flag": raw["flag"],
                "uu": 0.25 * raw["ant1"],
                "vv": 0.5 * raw["ant2"],
                "ww": 0.125 * (raw["ant1"] + raw["ant2"]),
            }
        )
        write_uvfits(
            pdf, os.path.join(d, "obs_1234567890.uvfits"), jd_zero=2460000.0
        )

    out = fixture_dir("uvfits", sf_dir, _build)
    vis = read_visibilities(
        spark, [os.path.join(out, "obs_1234567890.uvfits")]
    )
    return vis.groupBy("chan", "pol").agg(
        F.min("freq_hz").alias("freq_hz"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("n_flag"),
        F.countDistinct(256 * F.col("ant1") + F.col("ant2")).alias("n_bl"),
        F.sum(F.round(F.col("re") * 8).cast("long")).alias("sum_re_8"),
        F.sum(F.round(F.col("im") * 8).cast("long")).alias("sum_im_8"),
        F.sum(F.round(F.col("uu") * 8).cast("long")).alias("sum_uu_8"),
        F.min(F.round((F.col("time_jd") - 2460000.0) * 86400).cast("long"))
            .alias("t0_sec"),
        F.max(F.round((F.col("time_jd") - 2460000.0) * 86400).cast("long"))
            .alias("t1_sec"),
    ).select(
        "chan", "freq_hz", "pol", "n", "n_flag", "n_bl",
        "sum_re_8", "sum_im_8", "sum_uu_8", "t0_sec", "t1_sec",
    )


@register(
    "s_gpubox_native",
    sql=f"""
    SELECT time_idx,
           1700000000.0 + 2.0 * time_idx AS time_unix,
           pol,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT 256 * ant1 + ant2) AS BIGINT) AS n_bl,
           CAST(SUM(ROUND(struct_extract(vis, 're') * 8)) AS BIGINT)
               AS sum_re_8,
           CAST(SUM(ROUND(struct_extract(vis, 'im') * 8)) AS BIGINT)
               AS sum_im_8
    FROM {_fx("visibilities")}
    GROUP BY time_idx, pol
    """,
    doc="NATIVE raw-correlator FITS ingest ('fits' format — "
        "sources_fits.py gpubox family, no astropy/mwalib): the "
        "visibility fixture is written as a multi-HDU image-extension "
        "FITS dump (one integration per HDU, TIME/MILLITIM cards, "
        "int32 payload with BSCALE=0.125 so the dyadic grid stores "
        "losslessly, ant1<=ant2 triangular baseline ordering decoded "
        "vectorized), read back through the format registry, and "
        "aggregated per (integration, pol) against the DuckDB oracle "
        "over the parquet original. Together with s_uvfits_native and "
        "the metafits header reader this makes 4 of the reference's 6 "
        "declared formats ({{fits, metafits, uvfits, uvf}}) native in "
        "this container; ms/uvh5 stay import-gated on casacore/h5py. "
        "Scale: binaryFile + one parse task per gpubox file — MWA "
        "ships 24 per observation, so a night of observations "
        "parallelizes to thousands of tasks.",
)
def s_gpubox_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import pyarrow.parquet as pq

    from mwa_uvdata_pipeline_spark.plans import fixture_dir
    from mwa_uvdata_pipeline_spark.sources import read_visibilities
    from mwa_uvdata_pipeline_spark.sources_fits import write_gpubox

    def _build(d: str) -> None:
        import pandas as pd

        raw = pq.read_table(str(FIXTURE_DIR / "visibilities.parquet"))
        t = raw.to_pandas()
        pdf = pd.DataFrame(
            {
                "time_idx": t["time_idx"],
                "ant1": t["ant1"],
                "ant2": t["ant2"],
                "chan": t["chan"],
                "pol": t["pol"],
                "re": t["vis"].map(lambda v: v["re"]),
                "im": t["vis"].map(lambda v: v["im"]),
            }
        )
        tu = {
            int(i): 1700000000.0 + 2.0 * int(i)
            for i in sorted(pdf["time_idx"].unique())
        }
        write_gpubox(
            pdf, os.path.join(d, "1234567890_gpubox01_00.fits"), tu
        )

    out = fixture_dir("gpubox", sf_dir, _build)
    vis = read_visibilities(
        spark, [os.path.join(out, "1234567890_gpubox01_00.fits")]
    )
    return vis.groupBy("time_idx", "pol").agg(
        F.min("time_unix").alias("time_unix"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(256 * F.col("ant1") + F.col("ant2")).alias("n_bl"),
        F.sum(F.round(F.col("re") * 8).cast("long")).alias("sum_re_8"),
        F.sum(F.round(F.col("im") * 8).cast("long")).alias("sum_im_8"),
    ).select(
        "time_idx", "time_unix", "pol", "n", "n_bl", "sum_re_8", "sum_im_8"
    )


@register(
    "s2_mwab_writer",
    sql=f"""
    SELECT time_idx, COUNT(*) AS n,
           SUM(struct_extract(vis, 're')) AS sum_re,
           SUM(struct_extract(vis, 'im')) AS sum_im,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM {_fx("visibilities")}
    GROUP BY time_idx
    """,
    doc="The WRITE half of the custom Python DataSource (Spark 4 "
        "DataSourceWriter API): df.write.format('mwa_vis').save(dir) "
        "packs each task's rows into per-integration MWAB files "
        "executor-side and commit() publishes a driver-side manifest "
        "from the per-task commit messages — the all-or-nothing "
        "visibility point of a production binary sink (abort() removes "
        "the attempt's files). The written set is read back through the "
        "same DataSource's READ half and must aggregate identically to "
        "DuckDB over the original parquet — a full binary-container "
        "round trip where Spark planned both the write tasks and the "
        "read partitions. Sums are dyadic-exact.",
)
def s2_mwab_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mwa_uvdata_pipeline_spark.mwab import register_mwa_source
    from mwa_uvdata_pipeline_spark.plans import fixture_dir

    register_mwa_source(spark)

    def _build(d: str) -> None:
        import json
        import os

        (
            fixture(spark, "visibilities")
            # the writer contract: co-locate each integration in one
            # task (MWAB is dense — a time split across tasks would
            # write overlapping zero-filled slabs)
            .repartition(4, "time_idx")
            .write.format("mwa_vis")
            .mode("overwrite")
            .save(d)
        )
        with open(os.path.join(d, "_MANIFEST.json")) as f:
            manifest = json.load(f)
        assert manifest["files"], "writer committed no files"

    out = fixture_dir("s2_mwab_writer", sf_dir, _build)
    df = spark.read.format("mwa_vis").option("path", f"{out}/*.mwab").load()
    return df.groupBy("time_idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vis")["re"]).alias("sum_re"),
        F.sum(F.col("vis")["im"]).alias("sum_im"),
        F.sum(F.col("flag").cast("int")).cast("long").alias("n_flagged"),
    )


@register(
    "s_uvh5_native",
    bench=True,
    sql=f"""
    SELECT chan, MIN(freq_hz) AS freq_hz, pol,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flag,
           CAST(COUNT(DISTINCT 256 * ant1 + ant2) AS BIGINT) AS n_bl,
           CAST(SUM(ROUND(struct_extract(vis, 're') * 8)) AS BIGINT)
               AS sum_re_8,
           CAST(SUM(ROUND(struct_extract(vis, 'im') * 8)) AS BIGINT)
               AS sum_im_8,
           CAST(SUM(ROUND(0.25 * ant1 * 8)) AS BIGINT) AS sum_uu_8,
           CAST(SUM(nsample) AS BIGINT) AS sum_nsample,
           CAST(MIN(ROUND((time_jd - 2460000.0) * 86400)) AS BIGINT)
               AS t0_sec,
           CAST(MAX(ROUND((time_jd - 2460000.0) * 86400)) AS BIGINT)
               AS t1_sec
    FROM {_fx("visibilities")}
    GROUP BY chan, pol
    """,
    doc="NATIVE uvh5 ingest (S2 multi-format dispatch, real path — "
        "sources_hdf5.py, a minimal HDF5 v0 codec written from the "
        "public file-format spec, NO h5py): the visibility fixture is "
        "serialized as a spec-conformant HDF5 file (v0 superblock, v1 "
        "object headers, group B-tree + local heap + symbol-table "
        "nodes, contiguous datasets, the compound (r,i) complex "
        "convention) holding the UVH5 memo's /Header axes and /Data "
        "cubes, then read back through the format registry's "
        "binaryFile + mapInPandas reader and aggregated per "
        "(chan, pol). The oracle computes the same aggregate from the "
        "parquet original — exact because visibility payloads are "
        "float64 end-to-end (no narrowing anywhere in the HDF5 path) "
        "and times compare as whole seconds. With this, FIVE of the "
        "reference's six declared formats have real native readers "
        "(fits, metafits, uvfits, gpubox-fits, uvh5); only casacore "
        "ms remains import-gated. Scale: one executor task per file, "
        "linear in file count.",
)
def s_uvh5_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from mwa_uvdata_pipeline_spark.plans import fixture_dir
    from mwa_uvdata_pipeline_spark.sources import read_visibilities
    from mwa_uvdata_pipeline_spark.sources_hdf5 import write_uvh5

    def _build(d: str) -> None:
        t = pq.read_table(str(FIXTURE_DIR / "visibilities.parquet"))
        raw = t.to_pandas()
        pdf = pd.DataFrame(
            {
                "time_jd": raw["time_jd"],
                "ant1": raw["ant1"],
                "ant2": raw["ant2"],
                "chan": raw["chan"],
                "pol": raw["pol"],
                "freq_hz": raw["freq_hz"],
                "re": raw["vis"].map(lambda v: v["re"]),
                "im": raw["vis"].map(lambda v: v["im"]),
                "nsample": raw["nsample"].astype("f8"),
                "flag": raw["flag"],
                "uu": 0.25 * raw["ant1"],
                "vv": 0.5 * raw["ant2"],
                "ww": 0.125 * (raw["ant1"] + raw["ant2"]),
            }
        )
        write_uvh5(pdf, os.path.join(d, "obs_1234567890.uvh5"))

    out = fixture_dir("uvh5", sf_dir, _build)
    vis = read_visibilities(
        spark, [os.path.join(out, "obs_1234567890.uvh5")]
    )
    return vis.groupBy("chan", "pol").agg(
        F.min("freq_hz").alias("freq_hz"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("n_flag"),
        F.countDistinct(256 * F.col("ant1") + F.col("ant2")).alias("n_bl"),
        F.sum(F.round(F.col("re") * 8).cast("long")).alias("sum_re_8"),
        F.sum(F.round(F.col("im") * 8).cast("long")).alias("sum_im_8"),
        F.sum(F.round(F.col("uu") * 8).cast("long")).alias("sum_uu_8"),
        F.sum("nsample").cast("long").alias("sum_nsample"),
        F.min(F.round((F.col("time_jd") - 2460000.0) * 86400).cast("long"))
            .alias("t0_sec"),
        F.max(F.round((F.col("time_jd") - 2460000.0) * 86400).cast("long"))
            .alias("t1_sec"),
    ).select(
        "chan", "freq_hz", "pol", "n", "n_flag", "n_bl",
        "sum_re_8", "sum_im_8", "sum_uu_8", "sum_nsample",
        "t0_sec", "t1_sec",
    )


# ---------------------------------------------------------------------------
# E2E lifecycle (round 9): the reference's full per-observation loop —
# raw ingest (MWAB binary container) → diff → INS → z-score → match
# filter → per-observation occupancy report — as ONE oracle-gated
# query over a MULTI-obsid archive (reference lifecycle: one obsid per
# process run, configurators.py + processors.py end to end).

_E2E_OBS = 3
_E2E_BASE_OBSID = 1_000_000


def _e2e_dims(sf_dir: str) -> tuple[int, int, int]:
    """(n_times, n_ants, n_chans) of the synthetic archive, derived
    from the lineitem row count (parquet FOOTER read, no Spark job) so
    BOTH engines pick identical dims at any sf: the bench-scale grid
    at sf0.1+, the small grid below. The DuckDB twin derives the same
    branch from COUNT(*) OVER the same parquet."""
    import pyarrow.parquet as pq

    try:
        n = pq.read_metadata(f"{sf_dir}/lineitem.parquet").num_rows
    except Exception:
        n = 0
    return (36, 16, 24) if n >= 300_000 else (12, 8, 8)


def _e2e_synth(spark: SparkSession, nt: int, na: int, nc: int) -> DataFrame:
    """Deterministic multi-obsid visibility hypercube in long format
    (the packer's full schema): integer-derived dyadic values — re/im
    have denominator 32, exactly representable — with a narrowband RFI
    burst injected into obsid 1 (chan nc/2, every 5th integration)
    so the match filter has something real to find. Built with a
    Generate (explode) chain, no cross joins."""
    mid = nc // 2
    return (
        spark.range(_E2E_OBS)
        .selectExpr("CAST(id AS INT) AS o")
        .selectExpr("o", f"explode(sequence(0, {nt - 1})) AS time_idx")
        .selectExpr("*", f"explode(sequence(0, {na - 1})) AS ant1")
        .selectExpr("*", f"explode(sequence(ant1, {na - 1})) AS ant2")
        .selectExpr("*", f"explode(sequence(0, {nc - 1})) AS chan")
        .selectExpr("*", "explode(array('xx', 'yy')) AS pol")
        .selectExpr(
            "*", "CASE WHEN pol = 'xx' THEN 0 ELSE 1 END AS p"
        )
        .selectExpr(
            f"CAST({_E2E_BASE_OBSID} + o AS BIGINT) AS obsid",
            "CAST(time_idx AS INT) AS time_idx",
            "2460000.0 + CAST(time_idx AS DOUBLE) / 86400.0 AS time_jd",
            "CAST(ant1 AS INT) AS ant1",
            "CAST(ant2 AS INT) AS ant2",
            "CAST(chan AS INT) AS chan",
            "150000000.0 + CAST(chan AS DOUBLE) * 40000.0 AS freq_hz",
            "pol",
            "struct("
            " CAST((o*37 + time_idx*13 + ant1*7 + ant2*11 + chan*5 + p*3)"
            "      % 256 - 128 AS DOUBLE) / 32.0"
            f" + CASE WHEN o = 1 AND chan = {mid} AND time_idx % 5 = 0"
            "        THEN 8.0 ELSE 0.0 END AS re,"
            " CAST((o*53 + time_idx*17 + ant1*3 + ant2*5 + chan*7 + p*13)"
            "      % 256 - 128 AS DOUBLE) / 32.0 AS im) AS vis",
            "(o + time_idx + ant1 + ant2 + chan + p) % 97 = 0 AS flag",
            "CAST(1.0 AS FLOAT) AS nsample",
        )
    )


def _e2e_oracle() -> str:
    """DuckDB twin: regenerate the identical hypercube relationally
    (UNNEST ranges + the same integer formulas, dims branched on the
    same lineitem row count) and run the identical diff → INS(9dp) →
    median/MAD z → narrow/streak/tb chain with obsid in every key."""
    mad_k = _MAD_K
    parts = []
    for big in (False, True):
        nt, na, nc = (36, 16, 24) if big else (12, 8, 8)
        cond = ">= 300000" if big else "< 300000"
        parts.append(f"""
    SELECT * FROM (
    WITH axes AS (
        SELECT o, t, a1, a2, c, p
        FROM UNNEST(range(0, {_E2E_OBS})) uo(o),
             UNNEST(range(0, {nt})) ut(t),
             UNNEST(range(0, {na})) ua1(a1),
             UNNEST(range(0, {na})) ua2(a2),
             UNNEST(range(0, {nc})) uc(c),
             UNNEST(range(0, 2)) up(p)
        WHERE a1 <= a2),
    vis AS (
        SELECT o, t, a1, a2, c, p,
               CAST((o*37 + t*13 + a1*7 + a2*11 + c*5 + p*3) % 256 - 128
                    AS DOUBLE) / 32.0
               + CASE WHEN o = 1 AND c = {nc // 2} AND t % 5 = 0
                      THEN 8.0 ELSE 0.0 END AS re,
               CAST((o*53 + t*17 + a1*3 + a2*5 + c*7 + p*13) % 256 - 128
                    AS DOUBLE) / 32.0 AS im,
               (o + t + a1 + a2 + c + p) % 97 = 0 AS flag
        FROM axes),
    d AS (
        SELECT o, t, a1, a2, c, p,
               re - LAG(re) OVER w AS dre,
               im - LAG(im) OVER w AS dim,
               (flag OR LAG(flag) OVER w) AS dflag
        FROM vis
        WINDOW w AS (PARTITION BY o, a1, a2, c, p ORDER BY t)
        QUALIFY LAG(re) OVER w IS NOT NULL),
    ins AS (
        SELECT o, t, c, p,
               ROUND(CASE WHEN SUM(CASE WHEN NOT dflag THEN 1.0
                                        ELSE 0.0 END) > 0
                     THEN SUM(CASE WHEN NOT dflag
                              THEN sqrt(dre*dre + dim*dim)
                              ELSE 0.0 END)
                          / SUM(CASE WHEN NOT dflag THEN 1.0
                                     ELSE 0.0 END) END, 9) AS ins,
               AVG(CASE WHEN dflag THEN 1.0 ELSE 0.0 END) AS occ
        FROM d WHERE a1 != a2
        GROUP BY o, t, c, p),
    med AS (SELECT o, c, p, MEDIAN(ins) AS loc FROM ins GROUP BY o, c, p),
    mad AS (SELECT i.o, i.c, i.p,
                   MEDIAN(ABS(i.ins - m.loc)) * {mad_k} AS scale
            FROM ins i JOIN med m
              ON i.o = m.o AND i.c = m.c AND i.p = m.p
            GROUP BY i.o, i.c, i.p),
    z AS (SELECT i.o, i.t, i.c, i.p, i.occ,
                 CASE WHEN i.ins IS NULL THEN NULL
                      WHEN s.scale IS NULL OR s.scale = 0 THEN 0.0
                      ELSE (i.ins - m.loc) / s.scale END AS z
          FROM ins i
          JOIN med m ON i.o = m.o AND i.c = m.c AND i.p = m.p
          JOIN mad s ON i.o = s.o AND i.c = s.c AND i.p = s.p),
    narrow AS (SELECT *, COALESCE(ABS(z) > 7.0, FALSE) AS narrow_flag
               FROM z),
    streak AS (SELECT o, t, p, COALESCE(ABS(AVG(z)) > 8.0, FALSE)
                   AS streak_flag
               FROM narrow GROUP BY o, t, p),
    cells AS (SELECT n.*, s.streak_flag,
                     (n.occ > 0.5 OR n.narrow_flag OR s.streak_flag)
                         AS cell_flagged
              FROM narrow n JOIN streak s
                ON n.o = s.o AND n.t = s.t AND n.p = s.p),
    tb AS (SELECT o, t,
                  AVG(CASE WHEN cell_flagged THEN 1.0 ELSE 0.0 END) > 0.6
                      AS tb_flag
           FROM cells GROUP BY o, t),
    mf AS (SELECT c.*, tb.tb_flag,
                  (c.narrow_flag OR c.streak_flag OR tb.tb_flag) AS mf_flag
           FROM cells c JOIN tb ON c.o = tb.o AND c.t = tb.t)
    SELECT CAST({_E2E_BASE_OBSID} + o AS BIGINT) AS obsid,
           CASE WHEN p = 0 THEN 'xx' ELSE 'yy' END AS pol,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN narrow_flag THEN 1 ELSE 0 END) AS BIGINT)
               AS n_narrow,
           CAST(SUM(CASE WHEN streak_flag THEN 1 ELSE 0 END) AS BIGINT)
               AS n_streak,
           CAST(SUM(CASE WHEN tb_flag THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tb,
           CAST(SUM(CASE WHEN mf_flag THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mf,
           CAST(SUM(CASE WHEN mf_flag THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS occ_ppm
    FROM mf GROUP BY o, p
    ) WHERE (SELECT COUNT(*) FROM lineitem) {cond}""")
    return "\nUNION ALL\n".join(parts)


@register(
    "d_e2e_lifecycle",
    bench=True,
    sql=_e2e_oracle(),
    doc="END-TO-END observation lifecycle over a MULTI-obsid binary "
        "archive — the reference's whole per-observation run "
        "(configurators.py + processors.py: raw ingest → diff → INS → "
        "match filter → occupancy report) as ONE gated query. A "
        "3-obsid synthetic archive (deterministic dyadic hypercube "
        "with a narrowband RFI burst injected into obsid 1) is packed "
        "EXECUTOR-SIDE into per-time-block MWAB files (one directory "
        "per obsid, long_to_mwab_distributed — the driver never holds "
        "payload), read back through the mwa_vis Python DataSource in "
        "ONE glob scan (obsid restored from each file header), then "
        "time-differenced, INS-aggregated, z-scored and match-"
        "filtered (INS via pipeline.read_ins) with obsid prefixed "
        "to every operator key — one scan over ALL observations "
        "instead of the reference's per-process loop. Output: per-(obsid, pol) "
        "narrow/streak/tb/mf counts and exact-integer occupancy ppm; "
        "obsid 1 shows the injected burst, obsids 0/2 stay clean. "
        "The DuckDB twin regenerates the identical cube relationally "
        "and re-runs the identical chain (INS rounded 9dp both "
        "sides). Scale: grid dims derive from the sf (footer-count "
        "branch, identical in both engines); the archive is the only "
        "corpus-scale object, INS collapses it to Ntimes×Nchan×Npol "
        "per obsid, and everything after runs on that materialised "
        "table without an exchange.",
)
def d_e2e_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from mwa_uvdata_pipeline_spark.mwab import (
        long_to_mwab_distributed,
        register_mwa_source,
    )
    from mwa_uvdata_pipeline_spark.plans import fixture_dir

    register_mwa_source(spark)
    nt, na, nc = _e2e_dims(sf_dir)

    def _build(d: str) -> None:
        full = _e2e_synth(spark, nt, na, nc)
        for o in range(_E2E_OBS):
            sub = os.path.join(d, f"obs{o}")
            manifest = long_to_mwab_distributed(
                full.where(F.col("obsid") == _E2E_BASE_OBSID + o), sub
            ).collect()
            assert manifest, f"obsid {o}: packer produced no blocks"

    out = fixture_dir("d_e2e", sf_dir, _build)
    vis = (
        spark.read.format("mwa_vis")
        .option("path", f"{out}/obs*/part-*.mwab")
        .load()
    )
    # the reference run without flag_init: file flags kept, diff on,
    # cross spectrum; the INS is computed once and read as one partition
    cfg = PipelineConfig(
        read=ReadOptions(flag_init=False, flag_choice="original"),
        select=SelectOptions(spectrum_type="cross"),
    )
    ins = read_ins(vis, cfg, obs_keys=("obsid",)).withColumn("ins", F.round("ins", 9))
    z = zscore(ins, part_keys=("obsid", "chan", "pol"))
    mf = match_filter(z, MatchFilterConfig(), obs_keys=("obsid",))
    return mf.groupBy("obsid", "pol").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.col("narrow_flag").cast("int")).cast("long").alias("n_narrow"),
        F.sum(F.col("streak_flag").cast("int")).cast("long").alias("n_streak"),
        F.sum(F.col("tb_flag").cast("int")).cast("long").alias("n_tb"),
        F.sum(F.col("mf_flag").cast("int")).cast("long").alias("n_mf"),
        F.expr(
            "CAST(sum(CAST(mf_flag AS INT)) * 1000000 div count(1)"
            " AS BIGINT)"
        ).alias("occ_ppm"),
    )
