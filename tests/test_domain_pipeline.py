"""Golden tests for the SSINS domain pipeline (SURVEY.md §5.2-5.3).

The oracle is an independent numpy reimplementation of the reference
semantics (diff → INS → z-score → match filter) evaluated on the
deterministic fixture; Spark must agree element-wise. On top of that,
the planted anomalies from FIXTURES.md §B4 must be flagged.
"""

from __future__ import annotations

import numpy as np
import pytest

from mwa_uvdata_pipeline_spark.operators.diff import time_diff
from mwa_uvdata_pipeline_spark.operators.ins import incoherent_noise_spectrum, zscore
from mwa_uvdata_pipeline_spark.operators.matchfilter import MatchFilterConfig, match_filter

T, B, C, P = 10, 36, 16, 2


@pytest.fixture(scope="module")
def grid(vis):
    """Fixture table as dense numpy arrays shaped (T, B, C, P)."""
    pdf = (
        vis.select("time_idx", "ant1", "ant2", "chan", "pol", "vis.re", "vis.im", "flag")
        .toPandas()
        .sort_values(["time_idx", "ant1", "ant2", "chan", "pol"])
    )
    shape = (T, B, C, P)
    re = pdf["re"].to_numpy().reshape(shape)
    im = pdf["im"].to_numpy().reshape(shape)
    flag = pdf["flag"].to_numpy().reshape(shape)
    bl = pdf[["ant1", "ant2"]].drop_duplicates().sort_values(["ant1", "ant2"])
    cross = (bl["ant1"] != bl["ant2"]).to_numpy()
    return re, im, flag, cross


@pytest.fixture(scope="module")
def numpy_mf(grid):
    """Reference-semantics pipeline in numpy."""
    re, im, flag, cross = grid
    dre, dim = re[1:] - re[:-1], im[1:] - im[:-1]
    dflag = flag[1:] | flag[:-1]
    mag = np.hypot(dre, dim)

    # INS: mean |V_diff| over unflagged cross baselines
    ins = np.full((T - 1, C, P), np.nan)
    occ = np.zeros((T - 1, C, P))
    for t in range(T - 1):
        for c in range(C):
            for p in range(P):
                cells = mag[t, cross, c, p]
                ok = ~dflag[t, cross, c, p]
                occ[t, c, p] = dflag[t, cross, c, p].mean()
                if ok.any():
                    ins[t, c, p] = cells[ok].mean()

    # robust z per (chan, pol) across time: median/MAD, scale==0 → z=0
    z = np.full_like(ins, np.nan)
    for c in range(C):
        for p in range(P):
            col = ins[:, c, p]
            ok = ~np.isnan(col)
            med = np.median(col[ok])
            mad = np.median(np.abs(col[ok] - med))
            scale = mad * 1.4826022185056018
            z[ok, c, p] = 0.0 if scale == 0 else (col[ok] - med) / scale

    narrow = np.abs(z) > 7.0
    narrow[np.isnan(z)] = False
    streak = np.zeros((T - 1, P), dtype=bool)
    for t in range(T - 1):
        for p in range(P):
            zz = z[t, :, p]
            m = np.nanmean(zz)
            streak[t, p] = abs(m) > 8.0 if not np.isnan(m) else False
    cell_flagged = (occ > 0.5) | narrow | streak[:, None, :]
    tb = cell_flagged.reshape(T - 1, -1).mean(axis=1) > 0.6
    return ins, z, narrow, streak, tb


@pytest.fixture(scope="module")
def spark_mf(vis):
    diffed = time_diff(vis)
    ins = incoherent_noise_spectrum(diffed, spectrum_type="cross")
    return match_filter(zscore(ins), MatchFilterConfig()).toPandas()


def _cube(pdf, col):
    """(time_idx, chan, pol)-keyed column to a (T-1, C, P) array."""
    out = np.full((T - 1, C, P), np.nan)
    pol_ix = {"XX": 0, "YY": 1}
    for r in pdf.itertuples():
        out[r.time_idx - 1, r.chan, pol_ix[r.pol]] = getattr(r, col)
    return out


def test_diff_row_count(vis):
    # Ntimes-1 steps per (baseline, chan, pol) — SURVEY §5.3 invariant
    assert time_diff(vis).count() == (T - 1) * B * C * P


def test_ins_matches_numpy(spark_mf, numpy_mf):
    ins_np = numpy_mf[0]
    ins_sp = _cube(spark_mf, "ins")
    assert np.allclose(ins_sp, ins_np, equal_nan=True, atol=1e-12)


def test_zscore_matches_numpy(spark_mf, numpy_mf):
    z_np = numpy_mf[1]
    z_sp = _cube(spark_mf, "z")
    assert np.allclose(z_sp, z_np, equal_nan=True, atol=1e-9)


def test_narrow_flags_match_and_hit_plants(spark_mf, numpy_mf):
    narrow_np = numpy_mf[2]
    narrow_sp = _cube(spark_mf, "narrow_flag").astype(bool)
    assert (narrow_sp == narrow_np).all()
    # planted narrow RFI at orig t in {3,4}, chan 5, XX → diff spikes at t=3 and t=5
    assert narrow_sp[3 - 1, 5, 0] and narrow_sp[5 - 1, 5, 0]


def test_streak_flags_match_and_hit_plants(spark_mf, numpy_mf):
    streak_np = numpy_mf[3]
    streak_sp = spark_mf.groupby(["time_idx", "pol"])["streak_flag"].any()
    for (t, pol), v in streak_sp.items():
        assert v == streak_np[t - 1, 0 if pol == "XX" else 1], (t, pol)
    # planted broadband streak at orig t=7 YY → diff streaks at t=7 and t=8
    assert streak_np[7 - 1, 1] and streak_np[8 - 1, 1]


def test_time_broadcast_matches_and_hits_plants(spark_mf, numpy_mf):
    tb_np = numpy_mf[4]
    tb_sp = spark_mf.groupby("time_idx")["tb_flag"].any()
    for t, v in tb_sp.items():
        assert v == tb_np[t - 1], t
    # occupancy plant: 10/16 chans pre-flagged at t=9 → 0.625 > 0.6 broadcasts;
    # t=8 additionally crosses via the streak bleed-through (9 occ + 16 streak cells)
    assert tb_np[9 - 1]
    assert not tb_np[: 7 - 1].any()


def test_flag_monotonicity(vis, spark_mf):
    # flags only grow through MF stages (SURVEY §5.3)
    assert not spark_mf.loc[
        spark_mf["flag_occupancy"] >= 1.0, "mf_flag"
    ].isna().any()
    pre = spark_mf["flag_occupancy"] > 0.5
    post = spark_mf["mf_flag"] | pre
    assert (post | ~pre).all()
