"""MWAB: a packed binary visibility container + a native PySpark
Python DataSource that reads it.

SURVEY.md §4 concludes the idiomatic Spark extension for gpubox-FITS
ingest is a custom DataSource (``spark.dataSource.register``), not a
driver-side read loop (reference processors.py:154-198). Real FITS
parsing needs astropy/mwalib, which this container lacks, so MWAB is a
deterministic stand-in container with the same shape as one gpubox
payload — but the DataSource mechanics are fully real: byte-range
partition planning, scan-level filter pushdown (time/chan bounds),
Arrow-batched reads, dense-grid → long-format explosion on executors.
Swapping ``read_header``/``_slice_payload`` for astropy calls turns
this into the genuine FITS source without touching the Spark surface.

Layout (little-endian)::

    b"MWAB1\\n" | uint64 header_len | JSON header | payload
    payload = re float64[T,BL,C,P] | im float64[T,BL,C,P]
              | flag uint8[T,BL,C,P]        (C-order)

header: obsid, ants (list), pols (list), n_times, n_chans, freq0_hz,
chan_width_hz, times_jd (explicit per-step JD grid — MWA time arrays
are explicit, and deriving from a step width loses ulps). baselines =
(a1, a2) for a1 <= a2 in ``ants`` order — matching the hypercube
fixture grid (FIXTURES.md §B).
"""

from __future__ import annotations

import glob as _glob
import json
import struct as _struct
from dataclasses import dataclass

import numpy as np
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from mwa_uvdata_pipeline_spark.codec import cell_index, cube_rows

MAGIC = b"MWAB1\n"

SCHEMA = (
    "obsid long, time_idx int, time_jd double, ant1 int, ant2 int, "
    "chan int, freq_hz double, pol string, "
    "vis struct<re: double, im: double>, flag boolean, nsample float"
)

# default partition granularity in time steps — the reference's
# read(step_size=4) chunking (processors.py:60) becomes partition
# planning instead of a sequential loop
DEFAULT_TIME_BLOCK = 4


def baselines_of(ants: list[int]) -> list[tuple[int, int]]:
    return [(a1, a2) for i, a1 in enumerate(ants) for a2 in ants[i:]]


def write_mwab(
    path: str,
    header: dict,
    re: np.ndarray,
    im: np.ndarray,
    flag: np.ndarray,
) -> None:
    """Write one MWAB file; arrays shaped (T, BL, C, P) C-order."""
    shape = (
        header["n_times"],
        len(baselines_of(header["ants"])),
        header["n_chans"],
        len(header["pols"]),
    )
    for arr in (re, im, flag):
        assert tuple(arr.shape) == shape, (arr.shape, shape)
    hjson = json.dumps(header, sort_keys=True).encode()
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(_struct.pack("<Q", len(hjson)))
        f.write(hjson)
        f.write(np.ascontiguousarray(re, dtype="<f8").tobytes())
        f.write(np.ascontiguousarray(im, dtype="<f8").tobytes())
        f.write(np.ascontiguousarray(flag, dtype="u1").tobytes())


def _committed_files(pattern: str) -> list[str]:
    """Resolve a read path/glob to the COMMITTED file set. If the
    target directory carries a writer ``_MANIFEST.json``, the listing
    comes from it (filtered by the glob's basename pattern), so orphan
    files from failed or retried write attempts are never read back as
    duplicate dense slabs. Manifest entries are BASENAMES rejoined
    against the reader's resolved directory (older manifests stored
    writer-relative paths, so any directory part is stripped), so the
    same directory reached via a different spelling — relative vs
    absolute, different cwd — still resolves. Directories without a
    manifest (fixture packers, hand-placed files) fall back to a plain
    glob, UNLESS in-progress write temps are present: that is a
    crashed first-ever commit, where the glob could see a partial or
    duplicate file set the manifest protocol exists to mask."""
    import fnmatch
    import os

    d = os.path.dirname(pattern) or "."
    manifest_path = os.path.join(d, "_MANIFEST.json")
    if os.path.isfile(manifest_path) and not _glob.has_magic(d):
        with open(manifest_path) as f:
            files = json.load(f).get("files", [])
        base = os.path.basename(pattern)
        return sorted(
            os.path.join(d, os.path.basename(p))
            for p in files
            if fnmatch.fnmatch(os.path.basename(p), base)
        )
    # Two temp spellings mark an uncommitted write: dotted data temps
    # (.{name}.inprogress) and the manifest temp
    # (_MANIFEST.json.inprogress — NO leading dot). A crash after the
    # part renames but before the manifest publish leaves only the
    # latter, and a plain glob would surface orphan/duplicate parts.
    if not _glob.has_magic(d) and (
        _glob.glob(os.path.join(d, ".*.inprogress"))
        or os.path.exists(os.path.join(d, "_MANIFEST.json.inprogress"))
    ):
        raise ValueError(
            f"{d}: in-progress write attempts present and no "
            "_MANIFEST.json — refusing to glob a partially committed "
            "directory"
        )
    return sorted(_glob.glob(pattern))


def read_header(path: str) -> tuple[dict, int]:
    """Returns (header, payload_offset). The metadata-only open the
    reference does with read_data=False (processors.py:163-165)."""
    with open(path, "rb") as f:
        magic = f.read(len(MAGIC))
        if magic != MAGIC:
            raise ValueError(f"{path}: not an MWAB file")
        (hlen,) = _struct.unpack("<Q", f.read(8))
        header = json.loads(f.read(hlen))
    return header, len(MAGIC) + 8 + hlen


@dataclass(frozen=True)
class MWABPartition(InputPartition):
    path: str
    t0: int
    t1: int


class MWABReader(DataSourceReader):
    """One partition per (file, time block); pushed time_idx/chan
    predicates shrink the planned byte ranges before any task runs."""

    def __init__(self, options: dict) -> None:
        self.paths = _committed_files(options["path"])
        if not self.paths:
            raise ValueError(f"no files match {options['path']}")
        self.time_block = int(options.get("time_block", DEFAULT_TIME_BLOCK))
        self.t_lo: int | None = None
        self.t_hi: int | None = None  # inclusive bounds on time_idx
        self.c_lo: int | None = None
        self.c_hi: int | None = None  # inclusive bounds on chan

    def pushFilters(self, filters: list[Filter]) -> list[Filter]:
        unsupported: list[Filter] = []
        for f in filters:
            attr = f.attribute[0] if len(f.attribute) == 1 else None
            if attr not in ("time_idx", "chan") or not isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                unsupported.append(f)  # Spark evaluates these post-scan
                continue
            v = int(f.value)
            lo, hi = None, None
            if isinstance(f, EqualTo):
                lo = hi = v
            elif isinstance(f, GreaterThan):
                lo = v + 1
            elif isinstance(f, GreaterThanOrEqual):
                lo = v
            elif isinstance(f, LessThan):
                hi = v - 1
            else:
                hi = v
            if attr == "time_idx":
                if lo is not None:
                    self.t_lo = lo if self.t_lo is None else max(self.t_lo, lo)
                if hi is not None:
                    self.t_hi = hi if self.t_hi is None else min(self.t_hi, hi)
            else:
                if lo is not None:
                    self.c_lo = lo if self.c_lo is None else max(self.c_lo, lo)
                if hi is not None:
                    self.c_hi = hi if self.c_hi is None else min(self.c_hi, hi)
        return unsupported

    def partitions(self):
        parts = []
        for path in self.paths:
            header, _ = read_header(path)
            n_times = header["n_times"]
            # a multi-file set stores each block's global offset in
            # time0; pushed time_idx bounds are global, so shift them
            # into file-local coordinates before planning byte ranges
            time0 = header.get("time0", 0)
            lo = 0 if self.t_lo is None else max(0, self.t_lo - time0)
            hi = n_times - 1 if self.t_hi is None else min(n_times - 1, self.t_hi - time0)
            t = lo
            while t <= hi:
                t1 = min(t + self.time_block, hi + 1)
                parts.append(MWABPartition(path=path, t0=t, t1=t1))
                t = t1
        # empty after pruning → Spark still needs one partition object
        return parts or [MWABPartition(path=self.paths[0], t0=0, t1=0)]

    def read(self, part: MWABPartition):
        import pyarrow as pa

        header, off = read_header(part.path)
        ants = header["ants"]
        pols = header["pols"]
        bls = baselines_of(ants)
        T, BL, C, P = header["n_times"], len(bls), header["n_chans"], len(pols)
        nsel = part.t1 - part.t0
        if nsel <= 0:
            return
        cells_per_t = BL * C * P
        itemsize = 8
        plane = T * cells_per_t * itemsize

        def slab(section: int, dtype, isize: int):
            offset = off + section * plane if dtype != "u1" else off + 2 * plane
            offset += part.t0 * cells_per_t * isize
            return np.fromfile(
                part.path, dtype=dtype, count=nsel * cells_per_t,
                offset=offset,
            ).reshape(nsel, BL, C, P)

        re = slab(0, "<f8", itemsize)
        im = slab(1, "<f8", itemsize)
        fl = slab(2, "u1", 1)

        c0 = 0 if self.c_lo is None else max(0, self.c_lo)
        c1 = C - 1 if self.c_hi is None else min(C - 1, self.c_hi)
        if c1 < c0:
            return
        re, im, fl = (a[:, :, c0 : c1 + 1, :] for a in (re, im, fl))
        csel = c1 - c0 + 1
        n = nsel * BL * csel * P

        time0 = header.get("time0", 0)
        t, b, c, p = cube_rows((nsel, BL, csel, P))
        time_idx = (t + part.t0).astype(np.int32)
        bl = np.asarray(bls, dtype=np.int32)
        ant1, ant2 = bl[b, 0], bl[b, 1]
        chan = (c + c0).astype(np.int32)
        pol = np.asarray(pols, dtype=object)[p]

        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(n, header["obsid"], dtype=np.int64)),
                pa.array(time_idx + np.int32(time0)),
                pa.array(
                    np.asarray(header["times_jd"], dtype=np.float64)[time_idx],
                    type=pa.float64(),
                ),
                pa.array(ant1),
                pa.array(ant2),
                pa.array(chan),
                pa.array(
                    header["freq0_hz"] + chan * header["chan_width_hz"],
                    type=pa.float64(),
                ),
                pa.array(pol, type=pa.string()),
                pa.StructArray.from_arrays(
                    [pa.array(re.reshape(-1)), pa.array(im.reshape(-1))],
                    ["re", "im"],
                ),
                pa.array(fl.reshape(-1).astype(bool)),
                pa.array(np.ones(n, dtype=np.float32)),
            ],
            names=[
                "obsid", "time_idx", "time_jd", "ant1", "ant2", "chan",
                "freq_hz", "pol", "vis", "flag", "nsample",
            ],
        )
        yield batch


class MWABCommit(WriterCommitMessage):
    """Per-task commit message: (temp, final) rename pairs + row count.
    Task output lands under dot-prefixed temp names (invisible to the
    ``*.mwab`` glob); only commit() renames them to final names, so a
    failed or speculatively-retried task attempt can never leak a
    half-visible file into a later read."""

    def __init__(self, renames: list[tuple[str, str]], n_rows: int) -> None:
        self.renames = renames
        self.n_rows = n_rows


class MWABWriter(DataSourceWriter):
    """Write half of the Python DataSource (Spark 4 writer API):
    ``df.write.format("mwa_vis").mode(...).save(dir)`` packs each
    task's rows into one MWAB file PER INTEGRATION (time_idx).

    CONTRACT: rows of one time_idx must be co-located in one task —
    ``df.repartition(n, "time_idx")`` before the write. MWAB is a
    DENSE container (unwritten cells zero-fill, the interferometer
    data model), so an integration split across tasks would produce
    several overlapping dense files and the reader would explode the
    full grid once PER FILE. This is the same discipline any dense
    scientific container demands (one writer per hypercube slab); the
    hive-style alternative of open-file handles per key inside a
    task is exactly what the per-integration grouping inside write()
    provides for free once the shuffle key is right.

    Commit protocol (the all-or-nothing visibility point, enforced on
    BOTH paths): tasks write to dot-prefixed temp names and report
    (temp, final) pairs; commit() renames the winners, then publishes
    _MANIFEST.json (atomically, via os.replace), and only THEN — in
    overwrite mode — deletes the previous commit's files, so a failed
    overwrite never destroys readable data. Append mode merges the
    prior manifest's file list and row count instead of clobbering it.
    abort() removes only this attempt's temp files. Final names carry
    a per-job token, so two jobs' outputs can never collide even if
    task-attempt ids repeat across applications."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        import uuid

        self.dir = options["path"]
        self.overwrite = overwrite
        # chosen driver-side, serialized into every task: names from
        # different jobs (or a re-run of this one) can never collide
        self.job_token = uuid.uuid4().hex[:8]

    def write(self, iterator):
        import os

        import pandas as pd
        from pyspark import TaskContext

        os.makedirs(self.dir, exist_ok=True)
        task = TaskContext.get().taskAttemptId()
        # stream the iterator once, bucketing scalar columns per
        # integration — never a whole-partition row list + row-wise
        # pandas copy held simultaneously (executor-memory discipline:
        # peak extra memory is one integration's small frame)
        cols = (
            "obsid", "time_idx", "time_jd", "ant1", "ant2",
            "chan", "freq_hz", "pol", "vis", "flag",
        )
        buckets: dict[int, dict[str, list]] = {}
        for row in iterator:
            b = buckets.get(row["time_idx"])
            if b is None:
                b = buckets[row["time_idx"]] = {c: [] for c in cols}
            for c in cols:
                b[c].append(row[c])
        renames: list[tuple[str, str]] = []
        n_rows = 0
        for t in sorted(buckets):
            sub = pd.DataFrame(buckets.pop(t))
            n_rows += len(sub)
            ants = sorted(set(sub["ant1"]) | set(sub["ant2"]))
            pols = sorted(sub["pol"].unique())
            chans = np.sort(sub["chan"].unique())
            if not (chans == np.arange(len(chans))).all():
                raise ValueError("chan grid must be dense 0..C-1")
            freqs = np.sort(sub["freq_hz"].unique())
            width = float(freqs[1] - freqs[0]) if len(freqs) > 1 else 0.0
            name = f"part-{self.job_token}-{task:06d}-t{int(t):06d}.mwab"
            tmp = os.path.join(self.dir, f".{name}.inprogress")
            _pack_dense(
                sub,
                ants,
                pols,
                n_chans=len(chans),
                times_jd=[float(sub["time_jd"].iloc[0])],
                time0=int(t),
                obsid=int(sub["obsid"].iloc[0]),
                freq0_hz=float(freqs[0]),
                chan_width_hz=width,
                path=tmp,
            )
            renames.append((tmp, os.path.join(self.dir, name)))
        return MWABCommit(renames, n_rows)

    def commit(self, messages) -> None:
        import os

        manifest_path = os.path.join(self.dir, "_MANIFEST.json")
        prior: dict = {"files": [], "n_rows": 0}
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                prior = json.load(f)
        # 1. make the winners visible
        new_files: list[str] = []  # manifest entries are BASENAMES:
        for m in messages:  # the reader rejoins them against ITS
            for tmp, final in m.renames:  # resolved directory, so a
                os.replace(tmp, final)  # later read naming the same
                new_files.append(os.path.basename(final))  # dir via a
        # different spelling (relative vs absolute) still resolves
        # 2. publish the manifest atomically (merge prior on append)
        if self.overwrite:
            files = sorted(new_files)
            n_rows = int(sum(m.n_rows for m in messages))
        else:
            prior_files = {
                os.path.basename(p) for p in prior.get("files", [])
            }  # basename() also migrates pre-basename manifests
            files = sorted(prior_files | set(new_files))
            n_rows = int(prior.get("n_rows", 0)) + int(
                sum(m.n_rows for m in messages)
            )
        tmp_manifest = manifest_path + ".inprogress"
        with open(tmp_manifest, "w") as f:
            json.dump({"files": files, "n_rows": n_rows}, f, sort_keys=True)
        os.replace(tmp_manifest, manifest_path)
        # 3. only now retire the previous commit's data (overwrite):
        #    a crash before this point leaves BOTH generations on disk
        #    but the manifest — the read path's source of truth —
        #    already names only the new one
        if self.overwrite:
            keep = set(new_files)
            for p in _glob.glob(os.path.join(self.dir, "part-*.mwab")):
                if os.path.basename(p) not in keep:
                    os.remove(p)

    def abort(self, messages) -> None:
        import contextlib
        import os

        for m in messages:
            for tmp, _final in m.renames:
                with contextlib.suppress(OSError):
                    os.remove(tmp)


class MWAVisDataSource(DataSource):
    """``spark.read.format("mwa_vis").option("path", glob)`` →
    long-format visibility hypercube; ``df.write.format("mwa_vis")``
    → per-integration MWAB files + commit manifest."""

    @classmethod
    def name(cls) -> str:
        return "mwa_vis"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> MWABReader:
        return MWABReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> MWABWriter:
        # nothing is deleted here: overwrite's deletion of the prior
        # commit is deferred to MWABWriter.commit(), after the new
        # generation is durable and the manifest republished
        return MWABWriter(dict(self.options), overwrite)


def register_mwa_source(spark) -> None:
    """Register the source; ships the package zip to python workers so
    the reader class resolves in sessions launched outside the repo."""
    from mwa_uvdata_pipeline_spark.session import ship_package

    ship_package(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MWAVisDataSource)


def _pack_dense(
    pdf,
    ants: list[int],
    pols: list[str],
    n_chans: int,
    times_jd: list[float],
    time0: int,
    obsid: int,
    freq0_hz: float,
    chan_width_hz: float,
    path: str,
) -> None:
    """Pack long-format pandas rows whose time_idx lies in
    [time0, time0 + len(times_jd)) into one dense (T, BL, C, P) MWAB
    file. Shared by the driver-side fixture helper and the
    executor-side distributed packer."""
    a1, a2 = np.asarray(baselines_of(ants)).reshape(-1, 2).T
    T, BL, C, P = len(times_jd), len(a1), n_chans, len(pols)
    cell = (
        cell_index(np.arange(time0, time0 + T), pdf["time_idx"], "time"),
        cell_index((a1, a2), (pdf["ant1"], pdf["ant2"]), "baseline"),
        cell_index(np.arange(C), pdf["chan"], "channel"),
        cell_index(np.asarray(pols), pdf["pol"], "polarisation"),
    )
    re = np.zeros((T, BL, C, P))
    im = np.zeros((T, BL, C, P))
    fl = np.zeros((T, BL, C, P), dtype="u1")
    re[cell] = [v["re"] for v in pdf["vis"]]
    im[cell] = [v["im"] for v in pdf["vis"]]
    fl[cell] = pdf["flag"].to_numpy().astype("u1")
    header = {
        "obsid": int(obsid),
        "ants": [int(a) for a in ants],
        "pols": [str(p) for p in pols],
        "n_times": int(T),
        "n_chans": int(C),
        "freq0_hz": float(freq0_hz),
        "chan_width_hz": float(chan_width_hz),
        "times_jd": [float(j) for j in times_jd],
    }
    if time0:
        header["time0"] = int(time0)
    write_mwab(path, header, re, im, fl)


def long_to_mwab(pdf, path: str) -> None:
    """Pack a long-format pandas hypercube (fixture-shaped, dense grid)
    into one MWAB file — test/fixture helper, driver-side by design."""
    ants = sorted(set(pdf["ant1"]) | set(pdf["ant2"]))
    pols = sorted(pdf["pol"].unique())
    chans = np.sort(pdf["chan"].unique())
    assert (chans == np.arange(len(chans))).all(), "chan grid must be 0..C-1"
    freqs = np.sort(pdf["freq_hz"].unique())
    jds = np.sort(pdf["time_jd"].unique())
    _pack_dense(
        pdf,
        ants,
        pols,
        n_chans=len(chans),
        times_jd=[float(j) for j in jds],
        time0=0,
        obsid=int(pdf["obsid"].iloc[0]),
        freq0_hz=float(freqs[0]),
        chan_width_hz=float(freqs[1] - freqs[0]) if len(chans) > 1 else 0.0,
        path=path,
    )


def long_to_mwab_distributed(df, out_dir: str, time_block: int = DEFAULT_TIME_BLOCK):
    """Executor-side MWAB packing: the long frame is grouped into time
    blocks and each block's (T_blk, BL, C, P) slab is packed and written
    BY THE EXECUTOR that holds it (``applyInPandas``, one file per
    block; ``out_dir`` must be shared storage on a real cluster). The
    driver touches only grid metadata — the antenna/pol/channel axes and
    the JD time grid, O(T + C + n_ants) rows — never the visibility
    payload, unlike the driver-side ``long_to_mwab`` fixture helper.

    Returns the lazy manifest frame (blk, path, n_rows); collecting it
    triggers the write.
    """
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    ants = sorted(
        r[0]
        for r in df.select(F.col("ant1").alias("a"))
        .union(df.select("ant2"))
        .distinct()
        .collect()
    )
    pols = sorted(r[0] for r in df.select("pol").distinct().collect())
    times = df.select("time_idx", "time_jd").distinct().orderBy("time_idx").collect()
    if [r["time_idx"] for r in times] != list(range(len(times))):
        raise ValueError("time grid must be dense 0..T-1")
    times_jd_all = [float(r["time_jd"]) for r in times]
    chans = df.select("chan", "freq_hz").distinct().orderBy("chan").collect()
    if [r["chan"] for r in chans] != list(range(len(chans))):
        raise ValueError("chan grid must be dense 0..C-1")
    n_chans = len(chans)
    freq0 = float(chans[0]["freq_hz"])
    chan_width = float(chans[1]["freq_hz"]) - freq0 if n_chans > 1 else 0.0
    obsid = df.select("obsid").first()["obsid"]

    def pack(key, pdf):
        blk = int(key[0])
        t0 = blk * time_block
        jd = times_jd_all[t0 : t0 + time_block]
        path = os.path.join(out_dir, f"part-{blk:05d}.mwab")
        _pack_dense(
            pdf, ants, pols, n_chans, jd, t0, obsid, freq0, chan_width, path
        )
        return pd.DataFrame({"blk": [blk], "path": [path], "n_rows": [len(pdf)]})

    return (
        df.withColumn("_blk", (F.col("time_idx") / time_block).cast("int"))
        .groupBy("_blk")
        .applyInPandas(pack, "blk int, path string, n_rows long")
    )
