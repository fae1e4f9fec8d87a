"""Native FITS readers — no astropy, no container-library seam.

The reference delegates every FITS-family read to pyuvdata/astropy
(reference processors.py:70-76,154-198). This module implements the
subset those delegates actually exercise, from the FITS standard
directly (NASA FITS 4.0: 2880-byte blocks of 36 x 80-char ASCII cards;
random-groups primary HDU for interferometer visibilities), so the
`uvfits` and `metafits` formats registered in :mod:`sources` are REAL
readers in this container rather than astropy-gated stubs:

- **metafits** is a header-only primary HDU: parse the card blocks into
  one row per file (typed common keywords + the full card map).
- **uvfits** is a random-groups primary HDU (GROUPS=T, NAXIS1=0):
  GCOUNT groups, each PCOUNT big-endian float32 parameters (UU, VV,
  WW — matched by PREFIX so suffixed AIPS names like 'UU---SIN'
  resolve; BASELINE in the AIPS 256*ant1+ant2 convention, or the
  2048-convention + 65536 offset for >255-antenna arrays, detected
  per group; DATE with the JD epoch carried in PZERO, or split
  across TWO DATE params that SUM after calibration — the real-file
  convention cotter/Birli/pyuvdata write) followed by the data array
  (COMPLEX re/im/weight x STOKES x FREQ, C-order with FITS axis 2
  fastest). Flags ride the weight sign (negative = flagged), the
  AIPS/uvfits convention.

Both formats keep their byte layout and axis order here; the
polarisation table, the row-to-cell indexer the writers scatter with,
the cell-to-row explosion the parsers gather with, and the Spark file
scan that runs ``parse_*`` once per file are shared with the other
codecs (:mod:`codec`). MWA splits an observation into
per-coarse-channel files, so per-task memory is one coarse channel,
the same unit the reference's batching arithmetic targets. The writers
are driver-side fixture/test tools (small files); the distributed
export is :func:`sinks.write_uvfits_grouped`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from mwa_uvdata_pipeline_spark.codec import (
    POL_NAME,
    cell_index,
    cube_rows,
    pol_axis,
    scan_files,
)

BLOCK = 2880
CARD = 80


def _string_end(s: str, start: int) -> int:
    """Index just past the closing quote of a FITS string starting at
    ``start`` (which must point at the opening quote). Doubled quotes
    ('') inside the string are literal-quote escapes per the standard.
    """
    i = start + 1
    while i < len(s):
        if s[i] == "'":
            if i + 1 < len(s) and s[i + 1] == "'":
                i += 2  # escaped literal quote
                continue
            return i + 1
        i += 1
    raise ValueError(f"unterminated FITS string in card: {s!r}")


def _parse_value(raw: str):
    v = raw.strip()
    if v.startswith("'"):
        end = _string_end(v, 0)
        return v[1 : end - 1].replace("''", "'").rstrip()
    if v == "T":
        return True
    if v == "F":
        return False
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        pass
    # FITS 4.0 §4.2.4 permits the Fortran 'D' exponent marker for real
    # values (e.g. 1.23D+05, the double-precision form legacy writers
    # emit); Python's float() only accepts 'E', so normalize and retry.
    if "D" in v.upper():
        try:
            return float(v.upper().replace("D", "E", 1))
        except ValueError:
            pass
    return v


def parse_header(buf: bytes, off: int = 0) -> tuple[dict, int]:
    """Parse one FITS header starting at ``off``: 2880-byte blocks of
    80-char cards until the END card. Returns (cards, data_offset)
    where data_offset is the first byte after the header's last block.
    """
    cards: dict = {}
    while off < len(buf):
        block = buf[off : off + BLOCK].decode("ascii", errors="replace")
        off += BLOCK
        for i in range(BLOCK // CARD):
            card = block[i * CARD : (i + 1) * CARD]
            key = card[:8].strip()
            if key == "END":
                return cards, off
            if not key or card[8:10] != "= ":
                continue  # COMMENT / HISTORY / blank / CONTINUE
            body = card[10:]
            # a '/' inside a quoted string is not a comment separator
            stripped = body.lstrip()
            if stripped.startswith("'"):
                val = stripped[: _string_end(stripped, 0)]
            else:
                val = body.split("/")[0]
            cards[key] = _parse_value(val)
    raise ValueError("FITS header missing END card")


def _pad(n: int) -> int:
    return (BLOCK - n % BLOCK) % BLOCK


def _format_card(key: str, val) -> bytes:
    if len(key) > 8:
        raise ValueError(f"FITS keyword too long (max 8): {key!r}")
    if isinstance(val, bool):
        s = f"{key:<8}= {'T' if val else 'F':>20}"
    elif isinstance(val, str):
        s = f"{key:<8}= '{val.replace(chr(39), chr(39) * 2):<8}'"
    elif isinstance(val, int):
        s = f"{key:<8}= {val:>20}"
    else:
        s = f"{key:<8}= {val!r:>20}"
    if len(s) > CARD:
        raise ValueError(
            f"FITS card overflows 80 chars (CONTINUE not supported): "
            f"{key}={val!r}"
        )
    return s.ljust(CARD).encode("ascii")


def write_header(cards: list[tuple[str, object]]) -> bytes:
    out = b"".join(_format_card(k, v) for k, v in cards)
    out += b"END".ljust(CARD)
    return out + b" " * _pad(len(out))


# ---------------------------------------------------------------- uvfits

#: long-format schema the uvfits reader emits (SURVEY.md §1.4 hypercube)
UVFITS_SCHEMA = (
    "file string, time_jd double, ant1 int, ant2 int, chan int, "
    "freq_hz double, pol string, re double, im double, "
    "nsample double, flag boolean, uu double, vv double, ww double"
)


def write_uvfits(pdf: pd.DataFrame, path: str, jd_zero: float) -> None:
    """Write a random-groups uvfits file from long-format rows
    (columns: time_jd, ant1, ant2, chan, pol, freq_hz, re, im,
    nsample, flag, uu, vv, ww). Grids must be dense and uniform (the
    interferometer data model); one group per (time, baseline).
    """
    times = np.sort(pdf["time_jd"].unique())
    chans = np.sort(pdf["chan"].unique())
    freqs = np.sort(pdf["freq_hz"].unique())
    pols, pi = pol_axis(pdf["pol"])
    bls = pdf[["ant1", "ant2"]].drop_duplicates().sort_values(["ant1", "ant2"])
    a1, a2 = bls["ant1"].to_numpy(), bls["ant2"].to_numpy()
    nt, nc, npol, nbl = len(times), len(chans), len(pols), len(a1)
    # Explicit raises (not assert — stripped under python -O): the FREQ
    # and STOKES axes are stored as a start and a step, so a gapped
    # channel selection or polarisation set has no uvfits encoding.
    if not np.array_equal(chans, np.arange(chans[0], chans[0] + nc)):
        raise ValueError(
            f"uvfits writer requires a dense contiguous channel grid; "
            f"got gapped selection {chans.tolist()[:8]}..."
        )
    if (np.diff(pols) != -1).any():
        raise ValueError(
            "uvfits writer requires consecutive polarisation codes; got "
            f"{[POL_NAME[c] for c in pols]}"
        )
    if len(freqs) != nc:
        raise ValueError(
            f"channel/frequency grids disagree ({nc} chans, "
            f"{len(freqs)} distinct freqs)"
        )
    if len(freqs) > 1:
        cdelt = freqs[1] - freqs[0]
        if not np.allclose(np.diff(freqs), cdelt):
            raise ValueError("uvfits writer requires a uniform freq grid")
    else:
        cdelt = 1.0

    ti = cell_index(times, pdf["time_jd"], "time")
    bi = cell_index((a1, a2), (pdf["ant1"], pdf["ant2"]), "baseline")
    ci = cell_index(chans, pdf["chan"], "channel")
    data = np.zeros((nt, nbl, nc, npol, 3), dtype=">f4")
    data[ti, bi, ci, pi, 0] = pdf["re"].to_numpy()
    data[ti, bi, ci, pi, 1] = pdf["im"].to_numpy()
    wt = np.where(pdf["flag"].to_numpy(), -1.0, 1.0) * pdf[
        "nsample"
    ].to_numpy()
    data[ti, bi, ci, pi, 2] = wt

    # Params filled per (time, baseline) from the ACTUAL rows (same
    # fancy indexing as the data cube) — uvw varies with time for any
    # tracking observation, so broadcasting one baseline's first-row
    # uvw across all integrations would export wrong coordinates for
    # every time but the first.
    params = np.zeros((nt, nbl, 5), dtype=">f4")
    params[ti, bi, 0] = pdf["uu"].to_numpy()
    params[ti, bi, 1] = pdf["vv"].to_numpy()
    params[ti, bi, 2] = pdf["ww"].to_numpy()
    # Baseline codes: AIPS 256-convention up to 255 antennas; beyond
    # that the 256 encoding silently collides (ant2+1 wraps), so
    # switch to the standard 2048*(a1+1)+(a2+1)+65536 extension (max
    # code ~4.3e6, exact in float32's 24-bit mantissa).
    if max(a1.max(), a2.max()) > 254:
        params[:, :, 3] = 2048 * (a1 + 1) + (a2 + 1) + 65536
    else:
        params[:, :, 3] = 256 * (a1 + 1) + (a2 + 1)
    params[:, :, 4] = (times - jd_zero)[:, None]  # PZERO5 carries the epoch

    gcount = nt * nbl
    header = write_header(
        [
            ("SIMPLE", True),
            ("BITPIX", -32),
            ("NAXIS", 6),
            ("NAXIS1", 0),  # random-groups signature
            ("NAXIS2", 3),  # COMPLEX: re, im, weight
            ("NAXIS3", npol),
            ("NAXIS4", nc),
            ("NAXIS5", 1),  # degenerate RA
            ("NAXIS6", 1),  # degenerate DEC
            ("EXTEND", True),
            ("GROUPS", True),
            ("PCOUNT", 5),
            ("GCOUNT", gcount),
            ("CTYPE2", "COMPLEX"),
            ("CRVAL2", 1.0),
            ("CRPIX2", 1.0),
            ("CDELT2", 1.0),
            ("CTYPE3", "STOKES"),
            ("CRVAL3", float(pols[0])),
            ("CRPIX3", 1.0),
            ("CDELT3", -1.0),
            ("CTYPE4", "FREQ"),
            ("CRVAL4", float(freqs[0])),
            ("CRPIX4", 1.0),
            ("CDELT4", float(cdelt)),
            ("CTYPE5", "RA"),
            ("CTYPE6", "DEC"),
            ("PTYPE1", "UU"),
            ("PTYPE2", "VV"),
            ("PTYPE3", "WW"),
            ("PTYPE4", "BASELINE"),
            ("PTYPE5", "DATE"),
            ("PZERO5", jd_zero),
        ]
    )
    # interleave params and data per group
    flat = np.concatenate(
        [
            params.reshape(gcount, 5),
            data.reshape(gcount, nc * npol * 3),
        ],
        axis=1,
    ).astype(">f4")
    body = flat.tobytes()
    with open(path, "wb") as f:
        f.write(header)
        f.write(body)
        f.write(b"\x00" * _pad(len(body)))


def _hcard(h: dict, key: str, name: str, cast=int):
    """Required numeric header card with a clean error surface — in a
    100-TB scan a missing or mangled card is FILE corruption and must
    fail the task as ValueError, not leak KeyError/TypeError from the
    arithmetic that consumes it."""
    if key not in h:
        raise ValueError(f"{name}: missing header card {key}")
    try:
        return cast(h[key])
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"{name}: non-numeric header card {key}"
        ) from exc


def parse_uvfits(name: str, buf: bytes) -> pd.DataFrame:
    """Parse one random-groups uvfits byte string to long-format rows."""
    h, off = parse_header(buf)
    if not (h.get("GROUPS") and h.get("NAXIS1") == 0):
        raise ValueError(f"{name}: not a random-groups uvfits file")
    if _hcard(h, "BITPIX", name) != -32:
        raise ValueError(f"{name}: only BITPIX=-32 supported")
    pcount = _hcard(h, "PCOUNT", name)
    gcount = _hcard(h, "GCOUNT", name)
    axes = [
        _hcard(h, f"NAXIS{i}", name)
        for i in range(2, _hcard(h, "NAXIS", name) + 1)
    ]
    nelem = int(np.prod(axes))
    total = gcount * (pcount + nelem)
    a = np.frombuffer(buf, dtype=">f4", count=total, offset=off).reshape(
        gcount, pcount + nelem
    )
    params = a[:, :pcount].astype("f8")
    # PSCAL/PZERO calibration per param, PTYPE names the slot.
    # Real AIPS-convention files (cotter/Birli, pyuvdata's writer) use
    # suffixed names like 'UU---SIN' and split DATE across TWO params
    # (integer day + day fraction, so float32 holds full JD precision)
    # — so slots resolve by PREFIX against the canonical names, and
    # duplicate slots SUM after calibration (pyuvdata behavior: the
    # two DATE parts add to the full JD).
    names = []
    for i in range(1, pcount + 1):
        names.append(str(h.get(f"PTYPE{i}", f"P{i}")).strip().upper())
        scal = float(h.get(f"PSCAL{i}", 1.0))
        zero = float(h.get(f"PZERO{i}", 0.0))
        params[:, i - 1] = zero + scal * params[:, i - 1]
    canon_prefixes = ("UU", "VV", "WW", "BASELINE", "DATE")
    p: dict = {}
    for i, n in enumerate(names):
        canon = next((c for c in canon_prefixes if n.startswith(c)), n)
        p[canon] = params[:, i] if canon not in p else p[canon] + params[:, i]
    for req in ("BASELINE", "DATE", "UU", "VV", "WW"):
        if req not in p:
            raise ValueError(
                f"{name}: no group parameter matching {req}* "
                f"(PTYPEs present: {names})"
            )

    # FITS axis 2 varies fastest -> C-order is reversed axis list
    npol = _hcard(h, "NAXIS3", name)
    nchan = _hcard(h, "NAXIS4", name)
    data = a[:, pcount:].reshape([gcount] + axes[::-1])
    data = data.reshape(gcount, nchan, npol, 3)  # degenerate RA/DEC drop

    # Baseline decode: the AIPS 256*ant1+ant2 convention caps at 255
    # antennas; larger arrays write 2048*(a1+1)+(a2+1)+65536. Standard
    # heuristic (pyuvdata baseline_to_antnums): codes > 65536 are the
    # 2048 convention — decide per group so the reader handles both.
    bl = np.rint(p["BASELINE"]).astype("i8")
    large = bl > 65536
    blo = np.where(large, bl - 65536, bl)
    div = np.where(large, 2048, 256)
    ant1 = blo // div - 1
    ant2 = blo % div - 1
    pol0 = _hcard(h, "CRVAL3", name)
    pold = _hcard(h, "CDELT3", name)
    try:
        pol_names = [POL_NAME[pol0 + i * pold] for i in range(npol)]
    except KeyError as exc:
        raise ValueError(
            f"{name}: unknown polarization code {exc}"
        ) from exc
    f0 = _hcard(h, "CRVAL4", name, float)
    fd = _hcard(h, "CDELT4", name, float)
    fpix = _hcard(h, "CRPIX4", name, float)
    freqs = f0 + (np.arange(nchan) + 1 - fpix) * fd

    g, c, s = cube_rows((gcount, nchan, npol))
    flat = data.reshape(gcount * nchan * npol, 3).astype("f8")
    wt = flat[:, 2]
    return pd.DataFrame(
        {
            "file": name,
            "time_jd": p["DATE"][g],
            "ant1": ant1[g].astype("i4"),
            "ant2": ant2[g].astype("i4"),
            "chan": c.astype("i4"),
            "freq_hz": freqs[c],
            "pol": np.array(pol_names, dtype=object)[s],
            "re": flat[:, 0],
            "im": flat[:, 1],
            "nsample": np.abs(wt),
            "flag": wt < 0,
            "uu": p["UU"][g],
            "vv": p["VV"][g],
            "ww": p["WW"][g],
        }
    )


# --------------------------------------------------------------- metafits

METAFITS_SCHEMA = (
    "file string, obsid long, gpstime long, n_inputs int, n_chans int, "
    "inttime double, freqcent double, cards map<string,string>"
)


def write_metafits(path: str, cards: dict) -> None:
    """Header-only primary HDU (NAXIS=0) — the metafits shape."""
    base: list[tuple[str, object]] = [
        ("SIMPLE", True),
        ("BITPIX", 8),
        ("NAXIS", 0),
        ("EXTEND", True),
    ]
    with open(path, "wb") as f:
        f.write(write_header(base + list(cards.items())))


def parse_metafits(name: str, buf: bytes) -> pd.DataFrame:
    h, _ = parse_header(buf)

    def num(key, cast):
        v = h.get(key)
        return cast(v) if v is not None else None

    return pd.DataFrame(
        [
            {
                "file": name,
                "obsid": num("OBSID", int) or num("GPSTIME", int),
                "gpstime": num("GPSTIME", int),
                "n_inputs": num("NINPUTS", int),
                "n_chans": num("NCHANS", int),
                "inttime": num("INTTIME", float),
                "freqcent": num("FREQCENT", float),
                "cards": {k: str(v) for k, v in h.items()},
            }
        ]
    )


def read_metafits(spark, paths: list[str]):
    """Metadata-only scan (S3): the read transfers each file once and
    parses headers executor-side; one row per observation."""
    return scan_files(spark, paths, parse_metafits, METAFITS_SCHEMA)


# ---------------------------------------------------------------- gpubox

#: schema for the raw correlator dump reader ('fits' format): one row
#: per (time, baseline, chan, pol) sample, no flags (raw data has none)
GPUBOX_SCHEMA = (
    "file string, time_unix double, time_idx int, ant1 int, ant2 int, "
    "chan int, pol string, re double, im double"
)


def write_gpubox(
    pdf: pd.DataFrame, path: str, time_unix: dict[int, float]
) -> None:
    """Write a gpubox-style raw correlator FITS dump: header-only
    primary HDU, then one IMAGE extension per integration. Each HDU is
    a (nbl, nchan*npol*2) int32 array ([chan][pol][re, im] fastest),
    BSCALE-scaled so the dyadic visibility values store losslessly as
    integers, with TIME/MILLITIM cards per integration — the layout
    family mwalib handles for the reference (processors.py fits path),
    reduced to its FITS-standard mechanics."""
    times = sorted(time_unix)
    chans = np.sort(pdf["chan"].unique())
    pols, pi = pol_axis(pdf["pol"])
    nant = int(max(pdf["ant1"].max(), pdf["ant2"].max())) + 1
    a1, a2 = np.triu_indices(nant)  # ant1 <= ant2, autos included
    nbl, nc, npol = len(a1), len(chans), len(pols)
    scale = 0.125  # dyadic fixture grid: value = BSCALE * int

    cell = (
        cell_index(np.asarray(times), pdf["time_idx"], "time"),
        cell_index((a1, a2), (pdf["ant1"], pdf["ant2"]), "baseline"),
        cell_index(chans, pdf["chan"], "channel"),
        pi,
    )
    data = np.zeros((len(times), nbl, nc, npol, 2), dtype=">i4")
    data[cell + (0,)] = np.round(pdf["re"].to_numpy() / scale).astype("i8")
    data[cell + (1,)] = np.round(pdf["im"].to_numpy() / scale).astype("i8")
    with open(path, "wb") as f:
        f.write(
            write_header(
                [
                    ("SIMPLE", True),
                    ("BITPIX", 8),
                    ("NAXIS", 0),
                    ("EXTEND", True),
                    ("NANT", nant),
                    ("NPOL", npol),
                    ("POLS", ",".join(POL_NAME[c] for c in pols)),
                    ("NCHAN", nc),
                ]
            )
        )
        for ti, t in enumerate(times):
            secs = time_unix[t]
            f.write(
                write_header(
                    [
                        ("XTENSION", "IMAGE"),
                        ("BITPIX", 32),
                        ("NAXIS", 2),
                        ("NAXIS1", nc * npol * 2),
                        ("NAXIS2", nbl),
                        ("PCOUNT", 0),
                        ("GCOUNT", 1),
                        ("BSCALE", scale),
                        ("BZERO", 0.0),
                        ("TIME", int(secs)),
                        ("MILLITIM", int(round((secs % 1) * 1000))),
                    ]
                )
            )
            raw = data[ti].tobytes()
            f.write(raw + b"\x00" * _pad(len(raw)))


def parse_gpubox(name: str, buf: bytes) -> pd.DataFrame:
    """Parse a gpubox-style dump: iterate IMAGE HDUs to EOF, apply
    BSCALE/BZERO, decode the triangular baseline ordering."""
    prim, off = parse_header(buf)
    nant = _hcard(prim, "NANT", name)
    npol = _hcard(prim, "NPOL", name)
    nc = _hcard(prim, "NCHAN", name)
    if "POLS" not in prim:
        raise ValueError(f"{name}: missing header card POLS")
    pols = np.array(str(prim["POLS"]).split(","), dtype=object)
    if len(pols) != npol:
        raise ValueError(
            f"{name}: POLS lists {len(pols)} names but NPOL={npol}"
        )
    a1, a2 = np.triu_indices(nant)
    nbl = len(a1)
    frames = []
    ti = 0
    while off < len(buf):
        h, off = parse_header(buf, off)
        if str(h.get("XTENSION", "")).strip() != "IMAGE":
            raise ValueError(f"{name}: unexpected extension at HDU {ti + 1}")
        if _hcard(h, "BITPIX", name) != 32:
            raise ValueError(f"{name}: only BITPIX=32 gpubox supported")
        n1 = _hcard(h, "NAXIS1", name)
        n2 = _hcard(h, "NAXIS2", name)
        count = n1 * n2
        data = np.frombuffer(buf, dtype=">i4", count=count, offset=off)
        off += count * 4 + _pad(count * 4)
        phys = float(h.get("BZERO", 0.0)) + float(
            h.get("BSCALE", 1.0)
        ) * data.astype("f8")
        phys = phys.reshape(nbl, nc, npol, 2)
        t = float(h.get("TIME", 0)) + float(h.get("MILLITIM", 0)) / 1000.0
        b, c, s = cube_rows((nbl, nc, npol))
        flat = phys.reshape(nbl * nc * npol, 2)
        frames.append(
            pd.DataFrame(
                {
                    "file": name,
                    "time_unix": t,
                    "time_idx": ti,
                    "ant1": a1[b].astype("i4"),
                    "ant2": a2[b].astype("i4"),
                    "chan": c.astype("i4"),
                    "pol": pols[s],
                    "re": flat[:, 0],
                    "im": flat[:, 1],
                }
            )
        )
        ti += 1
    return pd.concat(frames, ignore_index=True)
