"""``pipeline.ssins_pipeline`` as the one-scan SSINS path.

The flag counts are checked exactly against an independent numpy SSINS
at reference defaults (flag_init on, diff on), with a time_limit select
and without the diff; the plan above the materialised INS must need no
exchange; many observations through ``read_ins`` must flag as each one
alone; and repeated requests must leave no stored blocks behind in the
session.
"""

from __future__ import annotations

import gc
import time
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.operators.ins import zscore
from mwa_uvdata_pipeline_spark.operators.matchfilter import match_filter
from mwa_uvdata_pipeline_spark.operators.select import SelectOptions
from mwa_uvdata_pipeline_spark.pipeline import (
    PipelineConfig,
    ReadOptions,
    read_ins,
    ssins_pipeline,
)

T, ANTS, C = 14, 5, 16
POLS = ("xx", "yy")
FINE_PER_COARSE = 8
INIT_FINE = (0, FINE_PER_COARSE // 2, FINE_PER_COARSE - 1)  # edges + centre
NARROW = {"chan": 5, "time": 6, "amp": 6.0}  # one channel, one integration
BROAD = {"time": 10, "amp": 5.0}  # every channel, one integration
MAD_TO_SIGMA = 1.4826022185056018


def _baselines() -> list[tuple[int, int]]:
    return [(a1, a2) for a1 in range(ANTS) for a2 in range(a1, ANTS)]


def _cube(seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """(re, im) shaped (T, BL, C, P): unit Gaussian noise plus a
    narrow-band and a broadband burst."""
    rng = np.random.default_rng(seed)
    shape = (T, len(_baselines()), C, len(POLS))
    re, im = rng.standard_normal(shape), rng.standard_normal(shape)
    re[NARROW["time"], :, NARROW["chan"], :] += NARROW["amp"]
    re[BROAD["time"]] += BROAD["amp"]
    return re, im


def _numpy_ssins(re, im, diff=True, time_limit=None) -> dict[str, tuple[int, ...]]:
    """SSINS in numpy: clean flags → flag_init (edge/centre channels;
    first/last integration of the WHOLE observation) → select first
    ``time_limit`` integrations → diff → INS over all baselines →
    median/MAD z per (chan, pol) → narrow |z|>7, streak |mean z|>8,
    time-broadcast > 60% of (chan, pol) cells. Per pol: (n_cells,
    n_narrow, n_streak, n_tb, n_mf)."""
    flag = np.zeros(re.shape, dtype=bool)
    flag[:, :, np.isin(np.arange(C) % FINE_PER_COARSE, INIT_FINE), :] = True
    flag[0] = flag[-1] = True
    if time_limit is not None:
        re, im, flag = re[:time_limit], im[:time_limit], flag[:time_limit]
    if diff:
        re, im, flag = re[1:] - re[:-1], im[1:] - im[:-1], flag[1:] | flag[:-1]
    mag, ok = np.hypot(re, im), ~flag
    n_ok = ok.sum(axis=1)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        ins = np.where(n_ok > 0, (mag * ok).sum(axis=1) / np.maximum(n_ok, 1), np.nan)
        loc = np.nanmedian(ins, axis=0)
        scale = np.nanmedian(np.abs(ins - loc), axis=0) * MAD_TO_SIGMA
        z = np.where(np.isnan(scale) | (scale == 0), 0.0, (ins - loc) / scale)
        z = np.where(np.isnan(ins), np.nan, z)
        mean_z = np.nanmean(z, axis=1)  # (time, pol)
    narrow = np.nan_to_num(np.abs(z), nan=0.0) > 7.0
    streak = np.nan_to_num(np.abs(mean_z), nan=0.0) > 8.0
    cell = (flag.mean(axis=1) > 0.5) | narrow | streak[:, None, :]
    tb = cell.mean(axis=(1, 2)) > 0.6
    mf = narrow | streak[:, None, :] | tb[:, None, None]
    nt = ins.shape[0]
    return {
        pol: (
            nt * C,
            int(narrow[:, :, p].sum()),
            int(streak[:, p].sum()) * C,
            int(tb.sum()) * C,
            int(mf[:, :, p].sum()),
        )
        for p, pol in enumerate(POLS)
    }


@pytest.fixture(scope="module")
def cube():
    return _cube()


@pytest.fixture(scope="module")
def obs(spark, cube):
    re, im = cube
    bls = np.array(_baselines())
    t, b, c, p = (
        a.ravel()
        for a in np.meshgrid(
            np.arange(T), np.arange(len(bls)), np.arange(C), np.arange(len(POLS)),
            indexing="ij",
        )
    )
    pdf = pd.DataFrame(
        {
            "obsid": np.full(t.size, 1_000_000_000, dtype=np.int64),
            "time_idx": t.astype(np.int32),
            "ant1": bls[b, 0].astype(np.int32),
            "ant2": bls[b, 1].astype(np.int32),
            "chan": c.astype(np.int32),
            "pol": np.asarray(POLS, dtype=object)[p],
            "re": re.ravel(),
            "im": im.ravel(),
            "flag": np.zeros(t.size, dtype=bool),
            "nsample": np.ones(t.size, dtype=np.float32),
        }
    )
    return spark.createDataFrame(pdf).select(
        "obsid", "time_idx", "ant1", "ant2", "chan", "pol",
        F.struct("re", "im").alias("vis"), "flag", "nsample",
    )


def _report(mf):
    return mf.groupBy("pol").agg(
        F.count(F.lit(1)).alias("n_cells"),
        *(
            F.sum(F.col(c).cast("int")).alias(c)
            for c in ("narrow_flag", "streak_flag", "tb_flag", "mf_flag")
        ),
    )


def _counts(mf) -> dict[str, tuple[int, ...]]:
    return {r["pol"]: tuple(int(v) for v in r[1:]) for r in _report(mf).collect()}


def test_reference_defaults_match_numpy(obs, cube):
    want = _numpy_ssins(*cube)
    # the planted bursts must show, or the comparison proves little
    assert all(want[p][1] > 0 and want[p][2] > 0 for p in POLS), want
    assert _counts(ssins_pipeline(obs)) == want


def test_time_limit_keeps_whole_observation_bounds(obs, cube):
    # the last integration is cut by the select, so no selected
    # integration is flag_init's "last" one
    cfg = PipelineConfig(select=SelectOptions(time_limit=11))
    assert _counts(ssins_pipeline(obs, cfg)) == _numpy_ssins(*cube, time_limit=11)


def test_no_diff_matches_numpy(obs, cube):
    cfg = PipelineConfig(read=ReadOptions(diff=False))
    assert _counts(ssins_pipeline(obs, cfg)) == _numpy_ssins(*cube, diff=False)


def test_post_ins_chain_needs_no_exchange(obs):
    plan = _report(ssins_pipeline(obs))._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan


def test_read_ins_by_observation_matches_each_alone(obs):
    # two observations with different time ranges, flagged in
    # one chain keyed by obsid, must each flag as they do alone
    cfg = PipelineConfig(read=ReadOptions(flag_init=False))
    other = obs.where(F.col("time_idx") >= 3).withColumn("obsid", F.lit(2_000_000_000))
    ins = read_ins(obs.unionByName(other), cfg, obs_keys=("obsid",))
    mf = match_filter(zscore(ins, part_keys=("obsid", "chan", "pol")), cfg.mf, ("obsid",))
    for obsid, one in ((1_000_000_000, obs), (2_000_000_000, other)):
        alone = _counts(ssins_pipeline(one, cfg))
        assert all(alone[p][1] > 0 for p in POLS), alone
        assert _counts(mf.where(F.col("obsid") == obsid)) == alone


def test_read_ins_refuses_frame_bounds_by_observation(obs):
    with pytest.raises(ValueError, match="obs_keys"):
        read_ins(obs, PipelineConfig(), obs_keys=("obsid",))


class _WarnLog:
    """A log4j appender on the root logger, collecting WARN lines."""

    def __init__(self, spark):
        jvm = spark._jvm
        core = jvm.org.apache.logging.log4j.core
        self.ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        self.writer = jvm.java.io.StringWriter()
        self.appender = (
            core.appender.WriterAppender.newBuilder()
            .setName("ssins-lifetime-test")
            .setTarget(self.writer)
            .build()
        )
        self.appender.start()
        self.root = self.ctx.getConfiguration().getRootLogger()
        self.root.addAppender(self.appender, None, None)
        self.ctx.updateLoggers()

    def text(self) -> str:
        return self.writer.toString()

    def close(self) -> None:
        self.root.removeAppender("ssins-lifetime-test")
        self.ctx.updateLoggers()
        self.appender.stop()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_requests_leave_no_stored_blocks(spark, obs):
    log = _WarnLog(spark)
    try:
        # positive control: the appender sees CacheManager's warning
        probe = spark.range(3).selectExpr("id * 7 AS v")
        probe.persist()
        probe.persist()
        probe.unpersist(blocking=True)
        assert "Asked to cache already cached data" in log.text()
        log.writer.getBuffer().setLength(0)

        before = _persistent_rdds(spark)
        for _ in range(5):
            rows = _report(ssins_pipeline(obs)).collect()
            assert len(rows) == len(POLS)
        deadline = time.monotonic() + 30
        while True:
            gc.collect()
            spark._jvm.System.gc()
            if _persistent_rdds(spark) <= before or time.monotonic() > deadline:
                break
            time.sleep(0.5)
        assert _persistent_rdds(spark) <= before
        assert "Asked to cache already cached data" not in log.text()
    finally:
        log.close()
