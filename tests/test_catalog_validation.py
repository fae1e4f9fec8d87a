"""Catalog builder + V1-V8 validation rules (SURVEY.md §2.1, §2.8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.catalog import (
    catalog_from_paths,
    group_by_extension,
    group_by_obsid_and_extension,
    observations,
    resolve_channels,
    total_input_size,
    with_derived_columns,
)
from mwa_uvdata_pipeline_spark.operators.select import SelectOptions
from mwa_uvdata_pipeline_spark.validation import assert_valid, validation_report


@pytest.fixture(scope="module")
def catalog(spark, fixtures_dir):
    files = spark.read.parquet(str(fixtures_dir / "file_catalog.parquet"))
    cat = with_derived_columns(files.select("file_path", "size_bytes"))
    channels = spark.read.parquet(str(fixtures_dir / "channels.parquet"))
    cat = resolve_channels(cat, channels).cache()
    yield cat
    cat.unpersist()


def test_derived_columns(catalog):
    row = catalog.where(F.col("file_name").contains("gpubox01")).first()
    assert row["obsid"] == "1234567890"
    assert row["file_type"] == "fits"
    assert row["chan_kind"] == "gpubox"
    assert row["channel"] == 109  # gpubox 1 → rec_chan 109 via J1 lookup


def test_ch_branch(catalog):
    row = catalog.where(F.col("file_name").contains("_ch110")).first()
    assert row["channel"] == 110  # chNNN → direct int, no lookup


def test_grouping(catalog):
    by_ext = {r["file_type"]: r["n_files"] for r in group_by_extension(catalog).collect()}
    assert by_ext["metafits"] == 2
    assert by_ext["fits"] == 50  # 2x24 + malformed + orphan
    two_level = group_by_obsid_and_extension(catalog)
    assert two_level.where(
        (F.col("obsid") == "1234567890") & (F.col("file_type") == "fits")
    ).first()["n_files"] == 25


def test_observations_rollup(catalog):
    obs = {r["obsid"]: r for r in observations(catalog).collect()}
    assert len(obs["1234567890"]["metafits"]) == 1
    assert len(obs["1234568490"]["metafits"]) == 0  # the V3 orphan


def test_total_size(catalog):
    row = total_input_size(catalog).first()
    assert row["total_bytes"] > 0
    assert row["total_mib_blocks"] > 0


def test_validation_flags_planted_offenders(spark, catalog):
    report = validation_report(spark, catalog)
    rules = {r["rule"] for r in report.collect()}
    assert "V3" in rules  # obsid without metafits
    assert "V8" in rules  # _nochan.fits has no derivable channel
    with pytest.raises(ValueError, match="V3"):
        assert_valid(report)


def test_validation_clean_catalog(spark, catalog):
    clean = catalog.where(
        ~F.col("file_name").contains("nochan") & (F.col("obsid") != "1234568490")
    )
    report = validation_report(spark, clean)
    assert report.count() == 0
    assert_valid(report)  # no raise


def test_v6_option_exclusivity():
    with pytest.raises(ValueError, match="mutually exclusive"):
        SelectOptions(sel_ants=[1], skip_ants=[2])


def test_suffix_rule():
    # X9 (reference configurators.py:125-134)
    assert SelectOptions(spectrum_type="cross", sel_pols=["XX", "YY"]).suffix() == ".cross.XXYY"
    assert SelectOptions().suffix() == ""


def test_fileset_accessors_and_validation(spark, tmp_path):
    from mwa_uvdata_pipeline_spark.catalog import FileSet

    for name in ("1094480888_gpubox01_00.fits", "1094480888.metafits",
                 "1094480888_gpubox02_00.fits"):
        (tmp_path / name).write_bytes(b"x" * 100)
    fs = FileSet(spark, [str(tmp_path / n) for n in (
        "1094480888_gpubox01_00.fits", "1094480888.metafits",
        "1094480888_gpubox02_00.fits")])
    assert fs.has_fits and fs.has_metafits and not fs.has_uvh5
    assert len(fs.fits) == 2 and fs.fits == sorted(fs.fits)
    assert fs.total_size() == 300
    obs = fs.observations().collect()
    assert len(obs) == 1 and obs[0]["obsid"] == "1094480888"


def test_fileset_raises_aggregated_errors(spark, tmp_path):
    import pytest as _pytest

    from mwa_uvdata_pipeline_spark.catalog import FileSet

    # fits without any metafits → V2 and V3 both fire in ONE error
    (tmp_path / "123_gpubox01_00.fits").write_bytes(b"x")
    with _pytest.raises(ValueError, match="V2") as ei:
        FileSet(spark, [str(tmp_path / "123_gpubox01_00.fits")])
    assert "V3" in str(ei.value)


def _paths_catalog(spark, fixtures_dir, paths, channels=True):
    cat = catalog_from_paths(spark, paths, stat_sizes=False)
    if channels:
        cat = resolve_channels(cat, spark.read.parquet(str(fixtures_dir / "channels.parquet")))
    return cat


# the fixture catalog plus 25 more orphan obsids and 23 more channel-less
# fits files, listed out of order: V3 and V8 both pass OFFENDER_SAMPLE
_ORPHANS = [
    f"/data/{o}/{o}_20130808T102000_gpubox01_00.fits"
    for o in range(1300000024, 1299999999, -1)
]
_NOCHAN = [f"/data/1234567890/1234567890_nochan{k:02d}.fits" for k in range(22, -1, -1)]
_V3_TRUNCATED = [
    ("V3", "error", "obsid 1234568490 has no metafits"),
    ("V3", "error", "obsid 1300000000 has no metafits"),
    ("V3", "error", "obsid 1300000001 has no metafits"),
    ("V3", "error", "obsid 1300000002 has no metafits"),
    ("V3", "error", "obsid 1300000003 has no metafits"),
    ("V3", "error", "obsid 1300000004 has no metafits"),
    ("V3", "error", "obsid 1300000005 has no metafits"),
    ("V3", "error", "obsid 1300000006 has no metafits"),
    ("V3", "error", "obsid 1300000007 has no metafits"),
    ("V3", "error", "obsid 1300000008 has no metafits"),
    ("V3", "error", "obsid 1300000009 has no metafits"),
    ("V3", "error", "obsid 1300000010 has no metafits"),
    ("V3", "error", "obsid 1300000011 has no metafits"),
    ("V3", "error", "obsid 1300000012 has no metafits"),
    ("V3", "error", "obsid 1300000013 has no metafits"),
    ("V3", "error", "obsid 1300000014 has no metafits"),
    ("V3", "error", "obsid 1300000015 has no metafits"),
    ("V3", "error", "obsid 1300000016 has no metafits"),
    ("V3", "error", "obsid 1300000017 has no metafits"),
    ("V3", "error", "obsid 1300000018 has no metafits"),
    ("V3", "error", "... and 6 more obsids without metafits (26 total)"),
]
_V8_TRUNCATED = [
    ("V8", "error", "no channel derivable from 1234567890_nochan.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan00.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan01.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan02.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan03.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan04.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan05.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan06.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan07.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan08.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan09.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan10.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan11.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan12.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan13.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan14.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan15.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan16.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan17.fits"),
    ("V8", "error", "no channel derivable from 1234567890_nochan18.fits"),
    ("V8", "error", "... and 4 more files without a derivable channel (24 total)"),
]


@pytest.mark.parametrize(
    "with_fixture, extra, channels, expected",
    [
        pytest.param(True, [], True, [
            ("V3", "error", "obsid 1234568490 has no metafits"),
            ("V8", "error", "no channel derivable from 1234567890_nochan.fits"),
        ], id="fixture"),
        pytest.param(True, _ORPHANS + _NOCHAN, True, _V3_TRUNCATED + _V8_TRUNCATED,
                     id="v3_v8_truncated"),
        pytest.param(True, _ORPHANS + _NOCHAN, False, _V3_TRUNCATED,
                     id="v3_truncated_no_channel"),
        pytest.param(False, ["/d/readme.txt", "/d/notes.dat"], False, [
            ("V1", "error", "no supported file types in ['dat', 'txt']"),
            ("V4", "error", "unsupported file type: dat"),
            ("V4", "error", "unsupported file type: txt"),
        ], id="v1"),
        pytest.param(False, ["/d/123_gpubox01_00.fits"], True, [
            ("V2", "error", "fits files present but no metafits"),
            ("V3", "error", "obsid 123 has no metafits"),
        ], id="v2_v3"),
        pytest.param(False, ["/d/1_gpubox01_00.fits", "/d/1.metafits", "/d/1_flags.csv"], True, [
            ("V4", "error", "unsupported file type: csv"),
        ], id="v4"),
        pytest.param(False, ["/d/1.uvf", "/d/1.uvh5", "/d/1.ms"], False, [
            ("V5", "error", "uvfits and uvh5 are mutually exclusive"),
            ("V5", "error", "ms excludes uvfits/uvh5 inputs"),
        ], id="v5"),
    ],
)
def test_report_rows_exact(spark, fixtures_dir, with_fixture, extra, channels, expected):
    """Every report row, in order, byte for byte."""
    paths = [
        r["file_path"] for r in
        spark.read.parquet(str(fixtures_dir / "file_catalog.parquet")).collect()
    ] if with_fixture else []
    report = validation_report(
        spark, _paths_catalog(spark, fixtures_dir, paths + extra, channels)
    )
    assert [tuple(r) for r in report.collect()] == expected


def _jobs_in(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"count-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_validation_is_one_summary_action(spark, fixtures_dir):
    """The summary's shuffle-map and result jobs plus the report's collect,
    on a catalog as ``catalog_from_paths`` builds it (no channel join)."""
    cat = _paths_catalog(
        spark, fixtures_dir, ["/d/1_gpubox01_00.fits", "/d/1.metafits"], channels=False
    )
    assert _jobs_in(spark, lambda: assert_valid(validation_report(spark, cat))) <= 3


def test_validation_keeps_the_callers_cache(spark, fixtures_dir):
    cat = _paths_catalog(spark, fixtures_dir, ["/d/1_gpubox01_00.fits", "/d/1.metafits"]).cache()
    cat.count()
    before = str(cat.storageLevel)
    try:
        validation_report(spark, cat).collect()
        assert str(cat.storageLevel) == before
    finally:
        cat.unpersist()


def test_fileset_has_type_runs_no_job(spark, tmp_path):
    from mwa_uvdata_pipeline_spark.catalog import FileSet

    names = ("1094480888_gpubox01_00.fits", "1094480888.metafits")
    for name in names:
        (tmp_path / name).write_bytes(b"x")
    fs = FileSet(spark, [str(tmp_path / n) for n in names])
    flags = []
    assert _jobs_in(spark, lambda: flags.extend((fs.has_fits, fs.has_metafits, fs.has_uvh5))) == 0
    assert flags == [True, True, False]


def test_warn_names_every_error_at_the_callers_line(spark, tmp_path):
    from mwa_uvdata_pipeline_spark.catalog import FileSet

    (tmp_path / "123_gpubox01_00.fits").write_bytes(b"x")
    paths = [str(tmp_path / "123_gpubox01_00.fits")]
    with pytest.warns(UserWarning, match="V2: fits files present") as fs_warned:
        FileSet(spark, paths, on_error="warn")
    with pytest.warns(UserWarning, match="V2: fits files present") as av_warned:
        assert_valid(validation_report(spark, catalog_from_paths(spark, paths)), "warn")
    for warned in (fs_warned, av_warned):
        (w,) = [w for w in warned if "V2" in str(w.message)]
        assert "V3: obsid 123 has no metafits" in str(w.message)
        assert w.filename == __file__
    FileSet(spark, paths, on_error="ignore")  # no raise
