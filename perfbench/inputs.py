"""Seeded input generators and engine-independent expected outputs.

Every input a workload feeds the program is made here from the seed,
and every expected output is computed here with numpy/pandas (or the
closed form of the generated data) — never with the engine under test.
"""

from __future__ import annotations

import os
import warnings

import numpy as np
import pandas as pd

def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    """Write a frame with pyarrow (microsecond timestamps: Spark rejects
    parquet TIMESTAMP(NANOS)); returns ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path, coerce_timestamps="us")
    return path


# ------------------------------------------------------------ obs_flagging

#: observation grid: 20 integrations x 36 baselines (8 antennas incl.
#: autos) x 16 fine channels x 2 pols = 23,040 visibility cells; 20
#: integrations leave 17 usable diff steps for the median/MAD z-score
OBS_T, OBS_ANTS, OBS_C = 20, 8, 16
OBS_POLS = ("xx", "yy")
OBS_COUNT = 2
FINE_PER_COARSE = 8  # ReadOptions default
# flag_init flags these fine positions (edge_width=1 edges + centre)
_INIT_FLAGGED_FINE = {0, FINE_PER_COARSE - 1, FINE_PER_COARSE // 2}
BURST_AMP = 6.0
MAD_TO_SIGMA = 1.4826022185056018


def baselines(n_ants: int) -> np.ndarray:
    return np.array([(a1, a2) for a1 in range(n_ants) for a2 in range(a1, n_ants)])


def obs_specs(seed: int) -> list[dict]:
    """Which observations carry an RFI burst, and where. At least one
    observation is bursty and at least one is clean, chosen by seed."""
    rng = np.random.default_rng([seed, 0])
    n_burst = int(rng.integers(1, OBS_COUNT))
    bursty = set(rng.permutation(OBS_COUNT)[:n_burst].tolist())
    clean_chans = [c for c in range(OBS_C) if c % FINE_PER_COARSE not in _INIT_FLAGGED_FINE]
    specs = []
    for i in range(OBS_COUNT):
        spec = {"obsid": 1_000_000_000 + (seed % 100_000) * 10 + i, "burst": None}
        if i in bursty:
            chan = int(rng.choice(clean_chans))
            # one integration inside 2..T-3: time differencing turns it
            # into a +A / -A pair, 2 outliers of the 13 usable steps
            spec["burst"] = {"chan": chan, "times": [int(rng.integers(2, OBS_T - 2))]}
        specs.append(spec)
    return specs


def obs_cube(seed: int, index: int, spec: dict) -> tuple[np.ndarray, np.ndarray]:
    """(re, im) arrays shaped (T, BL, C, P): unit Gaussian noise plus the
    burst (a common offset on every baseline at one channel)."""
    rng = np.random.default_rng([seed, 1, index])
    shape = (OBS_T, len(baselines(OBS_ANTS)), OBS_C, len(OBS_POLS))
    re = rng.standard_normal(shape)
    im = rng.standard_normal(shape)
    if spec["burst"]:
        for t in spec["burst"]["times"]:
            re[t, :, spec["burst"]["chan"], :] += BURST_AMP
    return re, im


def obs_frame(spec: dict, re: np.ndarray, im: np.ndarray) -> pd.DataFrame:
    """Long-format rows in the packer's column order (vis re/im flat)."""
    bls = baselines(OBS_ANTS)
    t, b, c, p = np.meshgrid(
        np.arange(OBS_T), np.arange(len(bls)), np.arange(OBS_C),
        np.arange(len(OBS_POLS)), indexing="ij",
    )
    t, b, c, p = t.ravel(), b.ravel(), c.ravel(), p.ravel()
    n = t.size
    return pd.DataFrame(
        {
            "obsid": np.full(n, spec["obsid"], dtype=np.int64),
            "time_idx": t.astype(np.int32),
            "time_jd": 2460000.5 + t * (2.0 / 86400.0),
            "ant1": bls[b, 0].astype(np.int32),
            "ant2": bls[b, 1].astype(np.int32),
            "chan": c.astype(np.int32),
            "freq_hz": 1.5e8 + c * 4e4,
            "pol": np.asarray(OBS_POLS, dtype=object)[p],
            "re": re.ravel(),
            "im": im.ravel(),
            "flag": np.zeros(n, dtype=bool),
            "nsample": np.ones(n, dtype=np.float32),
        }
    )


def ssins_reference(re: np.ndarray, im: np.ndarray) -> dict[str, tuple[int, ...]]:
    """The SSINS chain at reference defaults, in numpy: clean seed
    flags → flag_init (edge/centre fine channels, first/last
    integration) → time diff → INS over all baselines → median/MAD
    z-score per (chan, pol) → narrow (|z|>7), streak (|mean z|>8),
    time-broadcast (>60% of cells flagged). Returns per pol
    (n_cells, n_narrow, n_streak, n_tb, n_mf)."""
    T, _, C, P = re.shape
    flag = np.zeros(re.shape, dtype=bool)
    fine = np.arange(C) % FINE_PER_COARSE
    flag[:, :, np.isin(fine, sorted(_INIT_FLAGGED_FINE)), :] = True
    flag[0] = flag[T - 1] = True
    dre, dim = re[1:] - re[:-1], im[1:] - im[:-1]
    dflag = flag[1:] | flag[:-1]
    mag = np.sqrt(dre * dre + dim * dim)
    ok = ~dflag
    wsum = ok.sum(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        ins = np.where(wsum > 0, (mag * ok).sum(axis=1) / np.maximum(wsum, 1), np.nan)
        occ = dflag.mean(axis=1)
        loc = np.nanmedian(ins, axis=0)
        scale = np.nanmedian(np.abs(ins - loc), axis=0) * MAD_TO_SIGMA
        z = np.where(np.isnan(scale) | (scale == 0), 0.0, (ins - loc) / scale)
        z = np.where(np.isnan(ins), np.nan, z)
        narrow = np.nan_to_num(np.abs(z), nan=0.0) > 7.0
        mean_z = np.nanmean(z, axis=1)  # (T-1, P)
    streak = np.nan_to_num(np.abs(mean_z), nan=0.0) > 8.0
    cell = (occ > 0.5) | narrow | streak[:, None, :]
    tb = cell.mean(axis=(1, 2)) > 0.6
    mf = narrow | streak[:, None, :] | tb[:, None, None]
    out = {}
    for pi, pol in enumerate(OBS_POLS):
        out[pol] = (
            (T - 1) * C,
            int(narrow[:, :, pi].sum()),
            int(streak[:, pi].sum()) * C,
            int(tb.sum()) * C,
            int(mf[:, :, pi].sum()),
        )
    return out


# -------------------------------------------------------- format_roundtrip

#: native file-set grid: a 12-integration slice of the package's
#: bench-scale d_e2e grid (plans/domain.py: 36 integrations x 16
#: antennas x 24 channels x 2 pols): 12 x 136 baselines x 24 x 2 =
#: 78,336 rows per observation
RT_T, RT_ANTS, RT_C = 12, 16, 24
RT_POLS = ("XX", "YY")
RT_FILES_PER_OBS = 2  # split by time, one executor task per file
RT_INGEST_OBS = 4  # two uvfits observations, two uvh5 observations
RT_EXPORT_OBS = 2
JD_ZERO = 2460000.0


def rt_frame(seed: int, index: int, obsid: int) -> pd.DataFrame:
    """One observation in the native-codec long schema. Values are
    dyadic (k/64, |v| <= 8) so float32 uvfits storage is exact and
    per-(chan, pol) sums are exact in float64 in any order."""
    rng = np.random.default_rng([seed, 2, index])
    bls = baselines(RT_ANTS)
    t, b, c, p = np.meshgrid(
        np.arange(RT_T), np.arange(len(bls)), np.arange(RT_C),
        np.arange(len(RT_POLS)), indexing="ij",
    )
    t, b, c, p = t.ravel(), b.ravel(), c.ravel(), p.ravel()
    n = t.size
    uvw = rng.integers(-800, 800, size=(RT_T, len(bls), 3)) / 8.0
    return pd.DataFrame(
        {
            "obsid": np.full(n, obsid, dtype=np.int64),
            "time_jd": JD_ZERO + 0.5 + t * (2.0 / 86400.0),
            "ant1": bls[b, 0].astype(np.int32),
            "ant2": bls[b, 1].astype(np.int32),
            "chan": c.astype(np.int32),
            "freq_hz": 1.6e8 + c * 4e4,
            "pol": np.asarray(RT_POLS, dtype=object)[p],
            "re": rng.integers(-512, 512, size=n) / 64.0,
            "im": rng.integers(-512, 512, size=n) / 64.0,
            "nsample": np.ones(n),
            "flag": rng.random(n) < 0.05,
            "uu": uvw[t, b, 0],
            "vv": uvw[t, b, 1],
            "ww": uvw[t, b, 2],
        }
    )


def rt_summary(pdf: pd.DataFrame) -> dict[tuple[int, str], tuple]:
    """Expected ``ingest --summary`` rows: (chan, pol) -> (n, n_flag,
    sum re, sum im)."""
    g = pdf.groupby(["chan", "pol"]).agg(
        n=("re", "size"), n_flag=("flag", "sum"), s_re=("re", "sum"), s_im=("im", "sum")
    )
    return {
        (int(c), str(p)): (int(r.n), int(r.n_flag), float(r.s_re), float(r.s_im))
        for (c, p), r in g.iterrows()
    }


def write_native_files(seed: int, out_dir: str) -> list[dict]:
    """The ingest file sets (driver-side, with the package's codec
    writers) plus the export sources (parquet, written with pyarrow).
    Returns one dict per observation: kind, obsid, paths, bytes, rows,
    expected summary (ingest) or expected sums (export)."""
    from mwa_uvdata_pipeline_spark.sources_fits import write_uvfits
    from mwa_uvdata_pipeline_spark.sources_hdf5 import write_uvh5

    os.makedirs(out_dir, exist_ok=True)
    base = 1_200_000_000 + (seed % 100_000) * 10
    obs = []
    for i in range(RT_INGEST_OBS):
        fmt = "uvfits" if i % 2 == 0 else "uvh5"
        obsid = base + i
        pdf = rt_frame(seed, i, obsid)
        paths = []
        for part in range(RT_FILES_PER_OBS):
            lo = part * RT_T // RT_FILES_PER_OBS
            hi = (part + 1) * RT_T // RT_FILES_PER_OBS
            times = np.sort(pdf["time_jd"].unique())[lo:hi]
            sub = pdf[pdf["time_jd"].isin(times)]
            path = os.path.join(out_dir, f"{obsid}_t{part}.{fmt}")
            if fmt == "uvfits":
                write_uvfits(sub, path, jd_zero=JD_ZERO)
            else:
                write_uvh5(sub, path)
            paths.append(path)
        obs.append(
            {
                "kind": "ingest", "format": fmt, "obsid": obsid, "paths": paths,
                "bytes": sum(os.path.getsize(p) for p in paths),
                "rows": len(pdf), "expected": rt_summary(pdf),
            }
        )
    for j in range(RT_EXPORT_OBS):
        obsid = base + RT_INGEST_OBS + j
        pdf = rt_frame(seed, RT_INGEST_OBS + j, obsid)
        path = write_parquet(pdf, os.path.join(out_dir, f"export_src_{obsid}.parquet"))
        obs.append(
            {
                "kind": "export", "obsid": obsid, "paths": [path],
                "rows": len(pdf),
                "expected": (float(pdf["re"].sum()), float(pdf["im"].sum())),
            }
        )
    return obs


def uvfits_sums(path: str) -> tuple[int, float, float]:
    """Independent random-groups decode of an exported uvfits file:
    (groups, sum re, sum im) over the data array. Reads the header
    cards directly, so it shares no code with the package's parser."""
    with open(path, "rb") as f:
        buf = f.read()
    cards, off = {}, 0
    while True:
        block = buf[off : off + 2880].decode("ascii")
        off += 2880
        done = False
        for i in range(36):
            card = block[i * 80 : (i + 1) * 80]
            if card.startswith("END"):
                done = True
                break
            if card[8:10] == "= ":
                cards[card[:8].strip()] = card[10:].split("/")[0].strip()
        if done:
            break
    gcount, pcount = int(cards["GCOUNT"]), int(cards["PCOUNT"])
    nelem = 1
    for k in range(2, int(cards["NAXIS"]) + 1):
        nelem *= int(cards[f"NAXIS{k}"])
    a = np.frombuffer(buf, dtype=">f4", count=gcount * (pcount + nelem), offset=off)
    data = a.reshape(gcount, pcount + nelem)[:, pcount:].reshape(-1, 3).astype(np.float64)
    return gcount, float(data[:, 0].sum()), float(data[:, 1].sum())


# ------------------------------------------------------------ events

#: the shape of the shared sf0.1 events test table the registry plans
#: are written against: 100,000 events over 30 days, 1,500 users, five
#: event types, ``props`` a one-key JSON object, naive microsecond
#: timestamps (the wall time is the UTC instant)
EV_ROWS = 100_000
EV_DAYS = 30
EV_USERS = 1500
EV_TYPES = ("view", "click", "purchase", "signup", "error")
EV_T0 = np.datetime64("2024-01-01T00:00:00", "us")
#: replay slices one stream drain reads (one micro-batch each)
EV_SLICES = 2


def events_frame(seed: int) -> pd.DataFrame:
    """The batch events table: ids in time order, values in whole cents
    (exponential, mean 50), timestamps spread over ``EV_DAYS``."""
    rng = np.random.default_rng([seed, 3])
    n = EV_ROWS
    offsets = np.sort(rng.integers(0, EV_DAYS * 86_400 * 10**6, size=n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": EV_T0 + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(1, EV_USERS + 1, size=n).astype(np.int64),
            "event_type": np.asarray(EV_TYPES, dtype=object)[rng.integers(0, len(EV_TYPES), size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def write_events(seed: int, path: str) -> pd.DataFrame:
    pdf = events_frame(seed)
    write_parquet(pdf, path)
    return pdf


def cents(values: pd.Series) -> np.ndarray:
    """SQL ROUND(value * 100) as integers (values are non-negative)."""
    return np.floor(values.to_numpy() * 100 + 0.5).astype(np.int64)


def tumbling_reference(pdf: pd.DataFrame) -> dict[tuple[int, str], tuple[int, int]]:
    """Hourly tumbling windows per event_type: (window start epoch us,
    type) -> (count, sum of cents)."""
    us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    win = us - us % (3600 * 1_000_000)
    g = pd.DataFrame({"w": win, "t": pdf["event_type"], "c": cents(pdf["value"])}).groupby(["w", "t"])
    agg = g.agg(n=("c", "size"), c=("c", "sum"))
    return {(int(w), str(t)): (int(r["n"]), int(r["c"])) for (w, t), r in agg.iterrows()}


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    """A query result as sorted rows of normalised cells, columns in
    name order: floats by repr, timestamps by ISO text, nulls as one
    token. Two engines agree exactly when these lists are equal."""
    import math

    def norm(v) -> str:
        if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    cols = sorted(pdf.columns)
    return sorted(tuple(norm(v) for v in row) for row in pdf[cols].itertuples(index=False))


def duckdb_expected(
    events_path: str, sqls: dict[str, str], temp_dir: str
) -> dict[str, list[tuple[str, ...]]]:
    """Each plan's registered SQL twin run once by DuckDB over the
    generated events file: the expected result, engine-independent.
    Extensions are never fetched; spills go to ``temp_dir``."""
    import duckdb

    con = duckdb.connect(config={"autoinstall_known_extensions": False, "threads": 2,
                                 "temp_directory": temp_dir})
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        return {name: canonical_rows(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
