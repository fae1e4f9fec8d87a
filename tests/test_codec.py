"""Layout rules the native codecs share (codec.py): one row-to-cell
indexer and one polarisation table behind every writer."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mwa_uvdata_pipeline_spark import sources_fits as sf
from mwa_uvdata_pipeline_spark.codec import cell_index
from mwa_uvdata_pipeline_spark.mwab import long_to_mwab
from mwa_uvdata_pipeline_spark.sources_hdf5 import parse_uvh5, write_uvh5


def _frame(n_times=3, n_ants=3, n_chans=24, pols=("XX", "YY")) -> pd.DataFrame:
    """A dense long-format grid with every column any writer reads;
    dyadic values so float32 storage is exact."""
    a1, a2 = np.triu_indices(n_ants)
    t, b, c, p = np.indices((n_times, len(a1), n_chans, len(pols))).reshape(4, -1)
    rng = np.random.default_rng(7)
    n = t.size
    uvw = rng.integers(-64, 64, (n_times, len(a1), 3)) / 8.0  # per (time, baseline)
    return pd.DataFrame(
        {
            "obsid": np.full(n, 1234567890, dtype=np.int64),
            "time_idx": t.astype("i4"),
            "time_jd": 2460000.5 + t * (2.0 / 86400.0),
            "ant1": a1[b].astype("i4"),
            "ant2": a2[b].astype("i4"),
            "chan": c.astype("i4"),
            "freq_hz": 1.6e8 + c * 4e4,
            "pol": np.asarray(pols, dtype=object)[p],
            "re": rng.integers(-64, 64, n) / 8.0,
            "im": rng.integers(-64, 64, n) / 8.0,
            "nsample": np.ones(n),
            "flag": rng.random(n) < 0.1,
            "uu": uvw[t, b, 0],
            "vv": uvw[t, b, 1],
            "ww": uvw[t, b, 2],
        }
    )


def _gpubox(pdf, path):
    # the time axis is _frame's three integrations, not the rows' values
    sf.write_gpubox(pdf, path, {t: 1.7e9 + 2.0 * t for t in range(3)})


def _mwab(pdf, path):
    vis = [{"re": r, "im": i} for r, i in zip(pdf["re"], pdf["im"])]
    long_to_mwab(pdf.assign(vis=vis), path)


WRITERS = {
    "uvfits": lambda pdf, path: sf.write_uvfits(pdf, path, jd_zero=2460000.0),
    "uvh5": write_uvh5,
    "gpubox": _gpubox,
    "mwab": _mwab,
}


def test_cell_index_matches_dict_lookup():
    rng = np.random.default_rng(3)
    a1, a2 = np.triu_indices(9)
    rows = rng.integers(len(a1), size=500)
    r1, r2 = a1[rows], a2[rows]
    lookup = {b: i for i, b in enumerate(zip(a1, a2))}
    expected = [lookup[b] for b in zip(r1, r2)]
    assert cell_index((a1, a2), (r1, r2), "baseline").tolist() == expected
    with pytest.raises(ValueError, match="not sorted and unique"):
        cell_index((a2, a1), (r2, r1), "baseline")


@pytest.mark.parametrize(
    "chans", [list(range(4, 24)), [c for c in range(24) if c not in (9, 10)]],
    ids=["from_4", "gapped"],
)
def test_uvh5_roundtrip_channel_selection(chans, tmp_path):
    """uvh5 lists its frequencies, so any channel selection writes; the
    cube is indexed by channel position, not the raw channel number.
    The file stores no channel numbers: they read back as positions."""
    src = _frame()
    sel = src[src["chan"].isin(chans)]
    path = tmp_path / "sel.uvh5"
    write_uvh5(sel, str(path))
    back = parse_uvh5("sel.uvh5", path.read_bytes())
    exp = sel.assign(chan=np.searchsorted(chans, sel["chan"]).astype("i4"))
    key = ["time_jd", "ant1", "ant2", "chan", "pol"]
    back = back.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    for c in key + ["freq_hz", "re", "im", "nsample", "flag", "uu", "vv", "ww"]:
        assert np.array_equal(back[c].to_numpy(), exp[c].to_numpy()), c


@pytest.mark.parametrize("fmt", ["uvfits", "uvh5", "gpubox"])
def test_writers_share_one_polarisation_rule(fmt, tmp_path):
    """Names match the AIPS table in any case (MWAB and the pipeline
    emit lower case); an unknown name is a ValueError that names it."""
    src = _frame()
    upper, lower = tmp_path / "upper", tmp_path / "lower"
    WRITERS[fmt](src, str(upper))
    WRITERS[fmt](src.assign(pol=src["pol"].str.lower()), str(lower))
    assert lower.read_bytes() == upper.read_bytes()
    bad = src.assign(pol=src["pol"].where(src["pol"] != "YY", "RR"))
    with pytest.raises(ValueError, match="'RR'"):
        WRITERS[fmt](bad, str(tmp_path / "bad"))


def test_uvfits_refuses_a_polarisation_gap(tmp_path):
    # STOKES is a start and a step of -1: XX, XY has no uvfits encoding
    src = _frame(pols=("XX", "XY"))
    with pytest.raises(ValueError, match="consecutive polarisation codes"):
        WRITERS["uvfits"](src, str(tmp_path / "gap.uvfits"))
    WRITERS["uvh5"](src, str(tmp_path / "gap.uvh5"))  # uvh5 lists its codes


def _with_row(pdf: pd.DataFrame, **change) -> pd.DataFrame:
    return pd.concat([pdf, pdf.iloc[[1]].assign(**change)], ignore_index=True)


@pytest.mark.parametrize(
    "fmt, change",
    [
        ("uvfits", {"chan": 30}),  # past a gap in the channel axis
        ("uvh5", {"freq_hz": 1.0}),  # a frequency off its channel's
        ("gpubox", {"time_idx": 7}),  # an integration time_unix lacks
        ("gpubox", {"ant1": 2, "ant2": 0}),  # below the triu table
        ("mwab", {"ant1": 2, "ant2": 0}),  # not in baselines_of(ants)
    ],
    ids=["uvfits_chan", "uvh5_freq", "gpubox_time", "gpubox_baseline", "mwab_baseline"],
)
def test_writers_refuse_rows_off_their_axes(fmt, change, tmp_path):
    with pytest.raises(ValueError):
        WRITERS[fmt](_with_row(_frame(), **change), str(tmp_path / f"off.{fmt}"))
