"""Source dispatch/registry (S2, §2.11), X8 batch arithmetic, and the
ss_read/ssins_pipeline facade (§2.9-§2.10 composition)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.pipeline import (
    PipelineConfig,
    ReadOptions,
    ss_read,
    ssins_pipeline,
)
from mwa_uvdata_pipeline_spark.operators.select import SelectOptions
from mwa_uvdata_pipeline_spark.sources import (
    READERS,
    can_handle,
    compute_optimal_batches,
    format_of,
    read_visibilities,
    suggest_partitions,
)


def test_format_dispatch_and_alias():
    assert format_of("/data/1094480888_gpubox01_00.fits") == "fits"
    assert format_of("/data/obs.uvf") == "uvfits"  # alias (configurators.py:47)
    assert format_of("/data/obs.UVH5") == "uvh5"
    assert can_handle("uvf") and can_handle("parquet")
    for fmt in ("fits", "metafits", "uvfits", "uvh5", "ms", "parquet"):
        assert fmt in READERS


def test_read_visibilities_parquet(spark, fixtures_dir):
    df = read_visibilities(spark, [str(fixtures_dir / "visibilities.parquet")])
    assert df.count() > 0 and "vis" in df.columns


def test_read_visibilities_unsupported(spark):
    with pytest.raises(ValueError, match="unsupported file types"):
        read_visibilities(spark, ["/data/foo.csvx"])


def test_stub_readers_raise(spark, tmp_path):
    # only casacore ms remains a stub: the FITS family AND uvh5 (via
    # the native HDF5 codec) dispatch to real readers
    with pytest.raises(NotImplementedError, match="ms ingest needs"):
        READERS["ms"](spark, ["/data/a.ms"])
    import pandas as pd

    from mwa_uvdata_pipeline_spark.sources_fits import write_gpubox
    from mwa_uvdata_pipeline_spark.sources_hdf5 import write_uvh5

    pdf = pd.DataFrame(
        {"time_idx": [0, 0], "time_jd": 2460000.5, "ant1": [0, 0],
         "ant2": [0, 1], "chan": 0, "freq_hz": 1.6e8, "pol": "XX",
         "re": [1.0, 2.0], "im": 0.5, "nsample": 1.0, "flag": False,
         "uu": 0.0, "vv": 0.0, "ww": 0.0}
    )
    write_gpubox(pdf, str(tmp_path / "g.fits"), {0: 1.7e9})
    write_uvh5(pdf, str(tmp_path / "h.uvh5"))
    gpubox = read_visibilities(spark, [str(tmp_path / "g.fits")])
    assert "time_unix" in gpubox.columns
    assert gpubox.count() == 3  # dense triu grid of 2 antennas
    uvh5 = read_visibilities(spark, [str(tmp_path / "h.uvh5")])
    assert sorted(r["re"] for r in uvh5.collect()) == [1.0, 2.0]


def test_batch_arithmetic_matches_reference_intent():
    # fits in memory → 1 batch (utils.py:44-45)
    assert compute_optimal_batches(1.0, 32.0) == 1
    # 10 GB x7 = 70 predicted, 16 avail → (70 // 16) * 2 = 8 (utils.py:46)
    assert compute_optimal_batches(10.0, 16.0) == 8
    with pytest.raises(ValueError):
        compute_optimal_batches(0.0, 16.0)


def test_suggest_partitions():
    assert suggest_partitions(1) == 1
    assert suggest_partitions(129 * 1024 * 1024) == 2


def test_ss_read_defaults_diff_and_flaginit(spark, vis):
    out = ss_read(vis)
    # diff drops one time step per series
    assert out.select("time_idx").distinct().count() == 9
    # flag_init propagates through the diff OR: edge channel fully flagged
    edge = out.where(F.col("chan") % 8 == 0)
    assert edge.where(~F.col("flag")).count() == 0


def test_ss_read_no_diff_no_flags(spark, vis):
    out = ss_read(vis, ReadOptions(diff=False, flag_init=False))
    assert out.count() == vis.count()


def test_ssins_pipeline_flags_planted_anomalies(spark, vis):
    cfg = PipelineConfig(select=SelectOptions(spectrum_type="cross",
                                              remove_flagged_ants=False))
    mf = ssins_pipeline(vis, cfg)
    # FIXTURES.md §B4: narrow RFI planted at chan 11, times 4-6
    narrow = {
        (r["time_idx"], r["chan"])
        for r in mf.where(F.col("narrow_flag")).select("time_idx", "chan").collect()
    }
    assert any(c == 11 for _, c in narrow)
    cols = set(mf.columns)
    assert {"narrow_flag", "streak_flag", "tb_flag", "mf_flag"} <= cols


def test_pipeline_suffix():
    cfg = PipelineConfig(select=SelectOptions(spectrum_type="cross", sel_pols=["XX"]))
    assert cfg.output_suffix() == ".diff.cross.XX"
