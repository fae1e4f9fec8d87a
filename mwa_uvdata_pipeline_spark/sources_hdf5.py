"""Native minimal HDF5 codec + UVH5 visibility reader/writer — pure
numpy, no h5py/libhdf5.

The reference ingests ``uvh5`` through pyuvdata/h5py
(``/root/reference/src/mwa_utils/processors.py:70-76``; format list
``configurators.py:43-48``); this container ships neither, so — as with
the round-5 native FITS work (sources_fits.py) — the container format is
implemented from its PUBLIC specifications instead of stubbed:

- HDF5 file format v0 (the HDF5 File Format Specification): version-0
  superblock, version-1 object headers, version-1 group B-trees, local
  heaps, symbol-table nodes, contiguous (layout class 1, message
  version 3) datasets, and the datatype classes UVH5 needs —
  fixed-point (class 0), IEEE float (class 1), and the 2-member
  compound (class 6) ``(r, i)`` convention h5py uses for complex data.
- the UVH5 memo (public spec of the pyuvdata HDF5 archive format):
  ``/Header`` scalars + per-blt/per-freq arrays and ``/Data``
  visdata/flags/nsamples cubes shaped (Nblts, Nfreqs, Npols), AIPS
  polarization codes (xx=-5, yy=-6, xy=-7, yx=-8).

Deviations from a full implementation, documented: datasets only (no
attributes) and boolean flags stored as int8 0/1 rather than
libhdf5's TRUE/FALSE enum-of-int8. Contiguous AND chunked layouts are
supported (gzip + byte-shuffle filters undone on read, gzip written),
object-header continuations are followed, and the UVH5 memo's string
header items are written as class-3 fixed-length ASCII datasets.
Files are written strictly to the v0 spec so a libhdf5 build should
read them; that cross-check needs h5py, which this container lacks —
the codec is instead gated byte-level (golden layout tests) and
end-to-end (write → Spark binaryFile read → aggregate equality vs the
parquet original, plan ``s_uvh5_native``).

The UVH5 layer keeps its own (time, ant1, ant2) blt order; the
polarisation table, the row-to-cell indexer, the cell-to-row explosion
and the Spark file scan (one task per file: MWA-style archives shard
one file per observation or coarse channel) are shared with the other
codecs (:mod:`codec`).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

from mwa_uvdata_pipeline_spark.codec import (
    POL_NAME,
    cell_index,
    cube_rows,
    pol_axis,
)

UNDEF = 0xFFFFFFFFFFFFFFFF
SIGNATURE = b"\x89HDF\r\n\x1a\n"

# --------------------------------------------------------------- writer


class _Buf:
    """Append-only file image with 8-byte-aligned allocation."""

    def __init__(self) -> None:
        self.b = bytearray()

    def alloc(self, size: int) -> int:
        while len(self.b) % 8:
            self.b.append(0)
        addr = len(self.b)
        self.b.extend(b"\x00" * size)
        return addr

    def put(self, addr: int, data: bytes) -> None:
        self.b[addr : addr + len(data)] = data


def _dtype_message(dt: np.dtype) -> bytes:
    """Encode one datatype message body for the supported classes."""
    dt = np.dtype(dt)
    if dt.kind in ("i", "u"):
        size = dt.itemsize
        bits0 = 0x08 if dt.kind == "i" else 0x00  # bit 3: signed
        head = bytes([0x10 | 0, bits0, 0, 0]) + struct.pack("<I", size)
        return head + struct.pack("<HH", 0, size * 8)
    if dt.kind == "f":
        size = dt.itemsize
        # bits: byte order LE (bit0=0), mantissa normalization =
        # 2 (implied MSB, bits 4-5), sign location in byte 1
        bits0 = 0x20
        sign = size * 8 - 1
        head = bytes([0x10 | 1, bits0, sign, 0]) + struct.pack("<I", size)
        if size == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        elif size == 4:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        else:
            raise ValueError(f"unsupported float size {size}")
        return head + props
    if dt.kind == "S":
        # fixed-length ASCII string, null-padded (h5py's convention
        # for numpy 'S' arrays)
        head = bytes([0x10 | 3, 0x01, 0, 0]) + struct.pack(
            "<I", dt.itemsize
        )
        return head
    if dt.kind == "c":
        # h5py convention: compound {r, i} of the element float type
        half = np.dtype(f"<f{dt.itemsize // 2}")
        base = _dtype_message(half)
        head = bytes([0x10 | 6, 2, 0, 0]) + struct.pack("<I", dt.itemsize)
        members = b""
        for name, off in (("r", 0), ("i", dt.itemsize // 2)):
            nm = name.encode() + b"\x00"
            nm += b"\x00" * (-len(nm) % 8)
            members += nm
            members += struct.pack("<I", off)
            members += bytes([0, 0, 0, 0])  # dimensionality + reserved
            members += struct.pack("<I", 0)  # dim permutation
            members += struct.pack("<I", 0)  # reserved
            members += struct.pack("<IIII", 0, 0, 0, 0)  # dim sizes
            members += base
        return head + members
    raise ValueError(f"unsupported dtype {dt}")


def _message(mtype: int, body: bytes) -> bytes:
    body = body + b"\x00" * (-len(body) % 8)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _object_header(messages: list[bytes]) -> bytes:
    block = b"".join(messages)
    return (
        struct.pack("<BxHII", 1, len(messages), 1, len(block))
        + b"\x00" * 4  # pad so messages start 8-aligned after prologue
        + block
    )


def _chunk_btree(buf: _Buf, arr: np.ndarray,
                 chunk: tuple[int, ...]) -> int:
    """Write gzip-compressed chunks + a single-level v1 chunk B-tree
    (node type 1) and return the tree address. Chunks are emitted in
    row-major order of their grid coordinates, matching the key order
    libhdf5 requires."""
    import itertools
    import zlib

    rank = arr.ndim
    grids = [range(0, arr.shape[d], chunk[d]) for d in range(rank)]
    entries = []
    for origin in itertools.product(*grids):
        sl = tuple(
            slice(o, min(o + chunk[d], arr.shape[d]))
            for d, o in enumerate(origin)
        )
        block = np.zeros(chunk, dtype=arr.dtype)
        block[tuple(slice(0, s.stop - s.start) for s in sl)] = arr[sl]
        raw = zlib.compress(np.ascontiguousarray(block).tobytes())
        caddr = buf.alloc(len(raw))
        buf.put(caddr, raw)
        entries.append((origin, len(raw), caddr))
    node = bytearray(
        b"TREE" + struct.pack("<BBHQQ", 1, 0, len(entries), UNDEF, UNDEF)
    )
    # keys: chunk byte size, filter mask, rank+1 chunk offsets
    for origin, csize, caddr in entries:
        node += struct.pack("<II", csize, 0)
        node += b"".join(struct.pack("<Q", o) for o in origin)
        node += struct.pack("<Q", 0)  # element-offset dimension
        node += struct.pack("<Q", caddr)
    # final key: one past the last chunk in every dimension
    node += struct.pack("<II", 0, 0)
    node += b"".join(struct.pack("<Q", d) for d in arr.shape)
    node += struct.pack("<Q", 0)
    addr = buf.alloc(len(node))
    buf.put(addr, bytes(node))
    return addr


def _dataset_oh(
    buf: _Buf, arr: np.ndarray, chunk: tuple[int, ...] | None = None
) -> int:
    space = struct.pack("<BBBx4x", 1, arr.ndim, 0) + b"".join(
        struct.pack("<Q", d) for d in arr.shape
    )
    messages = [
        _message(0x0001, space),
        _message(0x0003, _dtype_message(arr.dtype)),
    ]
    if chunk is None:
        data = np.ascontiguousarray(arr).tobytes()
        daddr = buf.alloc(len(data))
        buf.put(daddr, data)
        layout = struct.pack("<BBQQ", 3, 1, daddr, len(data))
    else:
        # filter pipeline v1: one mandatory filter, deflate (id 1),
        # one client value (aggression 6) + pad to even value count
        pl = struct.pack("<BB2x4x", 1, 1) + struct.pack(
            "<HHHH", 1, 0, 0, 1
        ) + struct.pack("<II", 6, 0)
        messages.append(_message(0x000B, pl))
        btree = _chunk_btree(buf, arr, chunk)
        # spec byte order (HDF5 File Format Spec IV.A.2.i, v3 chunked):
        # version, class, dimensionality, THEN the B-tree address
        layout = struct.pack(
            "<BBBQ", 3, 2, arr.ndim + 1, btree
        ) + b"".join(
            struct.pack("<I", c) for c in chunk
        ) + struct.pack("<I", arr.dtype.itemsize)
    messages.append(_message(0x0008, layout))
    oh = _object_header(messages)
    addr = buf.alloc(len(oh))
    buf.put(addr, oh)
    return addr


_K_LEAF = 16  # superblock "group leaf node k" (2K = 32 links/SNOD)


def _group(buf: _Buf, entries: dict[str, int]) -> tuple[int, int, int]:
    """Write heap + SNOD + B-tree + object header for one group whose
    children (name -> object header address) are ``entries``.
    Returns (oh_addr, btree_addr, heap_addr)."""
    names = sorted(entries)
    if len(names) > 2 * _K_LEAF:
        raise ValueError("single-SNOD writer: too many links in a group")
    # local heap data: offset 0 holds the empty name, then each link
    # name nul-terminated at an 8-aligned offset
    heap_data = bytearray(b"\x00" * 8)
    offs = {}
    for n in names:
        offs[n] = len(heap_data)
        nm = n.encode() + b"\x00"
        heap_data.extend(nm + b"\x00" * (-len(nm) % 8))
    hdata_addr = buf.alloc(len(heap_data))
    buf.put(hdata_addr, bytes(heap_data))
    heap_addr = buf.alloc(32)
    buf.put(
        heap_addr,
        b"HEAP"
        + struct.pack("<B3xQQQ", 0, len(heap_data), UNDEF, hdata_addr),
    )
    # symbol table node: one leaf, entries sorted by name
    snod = bytearray(b"SNOD" + struct.pack("<BBH", 1, 0, len(names)))
    for n in names:
        snod += struct.pack("<QQI4x16x", offs[n], entries[n], 0)
    snod_size = 8 + 2 * _K_LEAF * 40
    snod_addr = buf.alloc(snod_size)
    buf.put(snod_addr, bytes(snod))
    # group B-tree: one leaf node pointing at the SNOD
    btree = bytearray(
        b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, UNDEF, UNDEF)
    )
    btree += struct.pack("<Q", 0)  # key 0: before first name
    btree += struct.pack("<Q", snod_addr)
    btree += struct.pack("<Q", offs[names[-1]] if names else 0)
    btree_size = 24 + (2 * _K_LEAF + 1) * 8 + 2 * _K_LEAF * 8
    btree_addr = buf.alloc(btree_size)
    buf.put(btree_addr, bytes(btree))
    oh = _object_header(
        [_message(0x0011, struct.pack("<QQ", btree_addr, heap_addr))]
    )
    oh_addr = buf.alloc(len(oh))
    buf.put(oh_addr, oh)
    return oh_addr, btree_addr, heap_addr


def write_hdf5(
    path: str,
    tree: dict[str, dict[str, np.ndarray]],
    chunks: dict[str, tuple[int, ...]] | None = None,
) -> None:
    """Write ``{group_name: {dataset_name: array}}`` as an HDF5 file
    (one level of groups under the root, the UVH5 shape). Datasets
    named in ``chunks`` ("Group/name" -> chunk shape) are written
    CHUNKED with the gzip (deflate) filter — the layout real h5py
    archives use for large cubes; everything else is contiguous."""
    buf = _Buf()
    buf.alloc(96)  # superblock placeholder at address 0
    chunks = chunks or {}
    root_entries: dict[str, int] = {}
    for gname in sorted(tree):
        children = {
            dname: _dataset_oh(
                buf, np.asarray(arr), chunks.get(f"{gname}/{dname}")
            )
            for dname, arr in tree[gname].items()
        }
        root_entries[gname], _, _ = _group(buf, children)
    root_oh, root_btree, root_heap = _group(buf, root_entries)
    eof = len(buf.b)
    sb = bytearray()
    sb += SIGNATURE
    sb += bytes([0, 0, 0, 0, 0, 8, 8, 0])  # versions + offset/length sizes
    sb += struct.pack("<HHI", _K_LEAF, 16, 0)  # leaf K, internal K, flags
    sb += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    # root symbol table entry (cache type 1: scratch = btree + heap)
    sb += struct.pack("<QQI4xQQ", 0, root_oh, 1, root_btree, root_heap)
    buf.put(0, bytes(sb))
    with open(path, "wb") as f:
        f.write(bytes(buf.b))


# --------------------------------------------------------------- reader


def _parse_dtype(body: bytes) -> np.dtype:
    ver_class = body[0]
    cls = ver_class & 0x0F
    size = struct.unpack_from("<I", body, 4)[0]
    if cls == 0:
        signed = body[1] & 0x08
        return np.dtype(f"<{'i' if signed else 'u'}{size}")
    if cls == 1:
        return np.dtype(f"<f{size}")
    if cls == 3:
        return np.dtype(f"S{size}")
    if cls == 6:
        nmembers = body[1] | (body[2] << 8)
        if nmembers == 2:
            return np.dtype(f"<c{size}")  # the (r, i) complex convention
        raise ValueError(f"unsupported compound with {nmembers} members")
    raise ValueError(f"unsupported datatype class {cls}")


def _parse_object_header(buf: bytes, addr: int) -> dict[int, bytes]:
    """Parse a v1 object header into {message type: body}. Handles the
    continuation message (0x0010) libhdf5 emits when a header outgrows
    its first block — the remaining messages live in a separate block
    whose (address, length) the continuation body carries. NIL
    messages are skipped; unknown types are collected and ignored by
    the callers, which keeps the reader tolerant of fill-value /
    modification-time messages real writers add."""
    ver, nmsgs, _refs, _size = struct.unpack_from("<BxHII", buf, addr)
    if ver != 1:
        raise ValueError(f"unsupported object header version {ver}")
    out: dict[int, bytes] = {}
    pos, end = addr + 16, addr + 16 + _size
    seen = 0
    while seen < nmsgs:
        if pos >= end:
            raise ValueError("object header overran its block")
        mtype, msize, _flags = struct.unpack_from("<HHB3x", buf, pos)
        body = buf[pos + 8 : pos + 8 + msize]
        seen += 1
        if mtype == 0x0010:  # continuation: jump to the next block
            cont_addr, cont_len = struct.unpack_from("<QQ", body)
            pos, end = cont_addr, cont_addr + cont_len
            continue
        if mtype != 0x0000:
            out.setdefault(mtype, body)
        pos += 8 + msize
    return out


def _heap_name(buf: bytes, heap_addr: int, off: int) -> str:
    if buf[heap_addr : heap_addr + 4] != b"HEAP":
        raise ValueError("bad local heap signature")
    data_addr = struct.unpack_from("<Q", buf, heap_addr + 24)[0]
    end = buf.index(b"\x00", data_addr + off)
    return buf[data_addr + off : end].decode()


def _group_links(buf: bytes, oh: dict[int, bytes]) -> dict[str, int]:
    btree_addr, heap_addr = struct.unpack_from("<QQ", oh[0x0011])
    if buf[btree_addr : btree_addr + 4] != b"TREE":
        raise ValueError("bad B-tree signature")
    level = buf[btree_addr + 5]
    nentries = struct.unpack_from("<H", buf, btree_addr + 6)[0]
    if level != 0:
        raise ValueError("multi-level group B-trees not supported")
    links: dict[str, int] = {}
    for i in range(nentries):
        child = struct.unpack_from(
            "<Q", buf, btree_addr + 24 + 8 + i * 16
        )[0]
        if buf[child : child + 4] != b"SNOD":
            raise ValueError("bad symbol table node signature")
        nsyms = struct.unpack_from("<H", buf, child + 6)[0]
        for s in range(nsyms):
            base = child + 8 + s * 40
            name_off, child_oh = struct.unpack_from("<QQ", buf, base)
            links[_heap_name(buf, heap_addr, name_off)] = child_oh
    return links


def _pipeline_filters(body: bytes) -> list[int]:
    """Parse a v1 filter pipeline message into the ordered filter id
    list (1 = deflate, 2 = shuffle). Raises on filters this codec
    cannot undo."""
    nfilters = body[1]
    pos = 8
    filters = []
    for _ in range(nfilters):
        fid, namelen, _flags, nclient = struct.unpack_from(
            "<HHHH", body, pos
        )
        pos += 8 + namelen + (-namelen % 8 if namelen else 0)
        pos += 4 * nclient + (4 if nclient % 2 else 0)
        if fid not in (1, 2):  # deflate, shuffle
            raise ValueError(f"unsupported filter id {fid}")
        filters.append(fid)
    return filters


def _read_chunked(
    buf: bytes,
    btree_addr: int,
    dims: tuple[int, ...],
    chunk: tuple[int, ...],
    dt: np.dtype,
    filters: list[int],
) -> np.ndarray:
    """Assemble a chunked dataset by walking the v1 chunk B-tree
    (node type 1, any level) and pasting each chunk into place,
    clipping edge chunks. The filter pipeline is undone in reverse
    order: deflate (zlib), then the byte-shuffle de-interleave h5py
    pairs with it."""
    import zlib

    rank = len(dims)
    out = np.zeros(dims, dtype=dt)
    key_size = 8 + 8 * (rank + 1)

    def walk_node(addr: int) -> None:
        if buf[addr : addr + 4] != b"TREE" or buf[addr + 4] != 1:
            raise ValueError("bad chunk B-tree node")
        level = buf[addr + 5]
        nentries = struct.unpack_from("<H", buf, addr + 6)[0]
        pos = addr + 24
        for _ in range(nentries):
            csize, _mask = struct.unpack_from("<II", buf, pos)
            origin = struct.unpack_from(f"<{rank}Q", buf, pos + 8)
            child = struct.unpack_from("<Q", buf, pos + key_size)[0]
            if level > 0:
                walk_node(child)
            else:
                raw = bytes(buf[child : child + csize])
                for fid in reversed(filters):
                    if fid == 1:
                        raw = zlib.decompress(raw)
                    else:  # shuffle: bytes stored plane-per-byte-lane
                        raw = (
                            np.frombuffer(raw, dtype="u1")
                            .reshape(dt.itemsize, -1)
                            .T.tobytes()
                        )
                block = np.frombuffer(raw, dtype=dt).reshape(chunk)
                sl = tuple(
                    slice(o, min(o + chunk[d], dims[d]))
                    for d, o in enumerate(origin)
                )
                out[sl] = block[
                    tuple(slice(0, s.stop - s.start) for s in sl)
                ]
            pos += key_size + 8
    walk_node(btree_addr)
    return out


def read_hdf5_bytes(buf: bytes) -> dict[str, np.ndarray]:
    """Parse an HDF5 byte image → flat {"/Group/dataset": ndarray}."""
    if buf[:8] != SIGNATURE:
        raise ValueError("not an HDF5 file")
    if len(buf) < 72:
        raise ValueError("truncated HDF5 superblock")
    if buf[8] != 0:
        raise ValueError(f"unsupported superblock version {buf[8]}")
    root_oh_addr = struct.unpack_from("<Q", buf, 64)[0]

    out: dict[str, np.ndarray] = {}

    def walk(oh_addr: int, prefix: str) -> None:
        oh = _parse_object_header(buf, oh_addr)
        if 0x0011 in oh:
            for name, child in sorted(_group_links(buf, oh).items()):
                walk(child, f"{prefix}/{name}")
            return
        space = oh[0x0001]
        if space[0] != 1:
            raise ValueError("unsupported dataspace version")
        rank = space[1]
        dims = struct.unpack_from(f"<{rank}Q", space, 8) if rank else ()
        dt = _parse_dtype(oh[0x0003])
        layout = oh[0x0008]
        if layout[0] != 3:
            raise ValueError("only layout message v3 supported")
        if layout[1] == 1:  # contiguous
            daddr, dsize = struct.unpack_from("<QQ", layout, 2)
            arr = np.frombuffer(buf, dtype=dt, count=dsize // dt.itemsize,
                                offset=daddr).reshape(dims)
        elif layout[1] == 2:  # chunked (v1 chunk B-tree, filters)
            crank = layout[2]  # rank + 1 (element-size dimension)
            btree_addr = struct.unpack_from("<Q", layout, 3)[0]
            chunk = struct.unpack_from(f"<{crank - 1}I", layout, 11)
            filters = (
                _pipeline_filters(oh[0x000B]) if 0x000B in oh else []
            )
            arr = _read_chunked(
                buf, btree_addr, dims, chunk, dt, filters
            )
        else:
            raise ValueError(f"unsupported layout class {layout[1]}")
        out[prefix] = arr

    # Corrupt or truncated bytes surface from the structure walk as
    # short unpacks, dangling addresses, mangled dtype codes, missing
    # required messages, or broken deflate chunks — all FILE
    # corruption, folded into the clean ValueError every native
    # reader raises so a bad object fails its Spark task row cleanly.
    # (TypeError is deliberately NOT caught: corrupt bytes produce
    # short unpacks / bad indices / bogus dtype codes / broken
    # deflate, never type confusion — a TypeError here is a reader
    # bug and should surface as one.)
    try:
        walk(root_oh_addr, "")
    except (struct.error, IndexError, KeyError,
            OverflowError, zlib.error) as exc:
        raise ValueError(
            "corrupt or truncated HDF5 stream "
            f"({type(exc).__name__}: {exc})"
        ) from exc
    return out


def read_hdf5(path: str) -> dict[str, np.ndarray]:
    with open(path, "rb") as f:
        return read_hdf5_bytes(f.read())


# ----------------------------------------------------------------- UVH5

def write_uvh5(pdf: pd.DataFrame, path: str) -> None:
    """Pack a long-format visibility frame (time_jd, ant1, ant2, chan,
    pol, freq_hz, re, im, nsample, flag, uu, vv, ww) into one UVH5
    file: /Header scalars + blt/freq/pol axes, /Data cubes shaped
    (Nblts, Nfreqs, Npols) with h5py's compound (r, i) complex. The
    file lists its frequencies, so any channel selection writes: a row
    lands at its channel's position on the frequency axis."""
    blts = (
        pdf[["time_jd", "ant1", "ant2", "uu", "vv", "ww"]]
        .drop_duplicates(subset=["time_jd", "ant1", "ant2"])
        .sort_values(["time_jd", "ant1", "ant2"])
        .reset_index(drop=True)
    )
    freqs = np.sort(pdf["freq_hz"].unique())
    chan_of = pdf[["chan", "freq_hz"]].drop_duplicates().sort_values("chan")
    if not np.array_equal(chan_of["freq_hz"].to_numpy(), freqs):
        raise ValueError("chan order must follow frequency order")
    pols, pi = pol_axis(pdf["pol"])
    nblts, nfreqs, npols = len(blts), len(freqs), len(pols)
    bi = cell_index(
        (blts["time_jd"], blts["ant1"], blts["ant2"]),
        (pdf["time_jd"], pdf["ant1"], pdf["ant2"]),
        "baseline-time",
    )
    ci = cell_index(chan_of["chan"], pdf["chan"], "channel")
    vis = np.zeros((nblts, nfreqs, npols), dtype="<c16")
    flags = np.zeros((nblts, nfreqs, npols), dtype="<i1")
    nsamples = np.zeros((nblts, nfreqs, npols), dtype="<f8")
    vis[bi, ci, pi] = pdf["re"].to_numpy() + 1j * pdf["im"].to_numpy()
    flags[bi, ci, pi] = pdf["flag"].to_numpy().astype("i1")
    nsamples[bi, ci, pi] = pdf["nsample"].to_numpy()
    ants = np.unique(
        np.concatenate([blts["ant1"].to_numpy(), blts["ant2"].to_numpy()])
    )
    cw = float(freqs[1] - freqs[0]) if nfreqs > 1 else 0.0
    header = {
        "Nants_data": np.int64(len(ants)),
        "Nants_telescope": np.int64(len(ants)),
        "Nbls": np.int64(
            len(blts[["ant1", "ant2"]].drop_duplicates())
        ),
        "Nblts": np.int64(nblts),
        "Nfreqs": np.int64(nfreqs),
        "Npols": np.int64(npols),
        "Nspws": np.int64(1),
        "Ntimes": np.int64(pdf["time_jd"].nunique()),
        "ant_1_array": blts["ant1"].to_numpy("<i8"),
        "ant_2_array": blts["ant2"].to_numpy("<i8"),
        "time_array": blts["time_jd"].to_numpy("<f8"),
        "integration_time": np.full(nblts, 2.0, dtype="<f8"),
        "freq_array": freqs.astype("<f8"),
        "channel_width": np.full(nfreqs, cw, dtype="<f8"),
        "polarization_array": pols.astype("<i8"),
        "spw_array": np.array([0], dtype="<i8"),
        "uvw_array": blts[["uu", "vv", "ww"]].to_numpy("<f8"),
        # the UVH5 memo's required string items (fixed-length ASCII
        # datasets, class-3 null-padded — the h5py layout)
        "telescope_name": np.array(b"MWA", dtype="S8"),
        "instrument": np.array(b"MWA", dtype="S8"),
        "object_name": np.array(b"zenith", dtype="S8"),
        "phase_type": np.array(b"drift", dtype="S8"),
        "version": np.array(b"1.0", dtype="S4"),
        "history": np.array(b"mwa_uvdata_pipeline_spark", dtype="S32"),
    }
    write_hdf5(
        path,
        {
            "Header": header,
            "Data": {"visdata": vis, "flags": flags, "nsamples": nsamples},
        },
    )


def parse_uvh5(name: str, buf: bytes) -> pd.DataFrame:
    """Parse one UVH5 byte image to long-format rows (UVFITS_SCHEMA
    columns, shared with the uvfits reader)."""
    t = read_hdf5_bytes(bytes(buf))
    h = {k.split("/")[-1]: v for k, v in t.items() if k.startswith("/Header")}
    for ds in ("/Data/visdata", "/Data/flags", "/Data/nsamples"):
        if ds not in t:
            raise ValueError(f"{name}: missing dataset {ds}")
    for key in ("Nblts", "Nfreqs", "polarization_array", "time_array",
                "ant_1_array", "ant_2_array", "freq_array", "uvw_array"):
        if key not in h:
            raise ValueError(f"{name}: missing header dataset {key}")
    vis = t["/Data/visdata"]
    flags = t["/Data/flags"]
    nsamples = t["/Data/nsamples"]
    if vis.ndim != 3:
        raise ValueError(f"{name}: visdata is not (Nblts, Nfreqs, Npols)")
    nblts, nfreqs, npols = vis.shape
    if int(h["Nblts"]) != nblts or int(h["Nfreqs"]) != nfreqs:
        raise ValueError(f"{name}: header/data shape mismatch")
    try:
        pols = [POL_NAME[int(c)] for c in h["polarization_array"]]
    except KeyError as exc:
        raise ValueError(
            f"{name}: unknown polarization code {exc}"
        ) from exc
    bi, ci, pi = cube_rows(vis.shape)
    return pd.DataFrame(
        {
            "file": name,
            "time_jd": h["time_array"][bi],
            "ant1": h["ant_1_array"][bi].astype("i4"),
            "ant2": h["ant_2_array"][bi].astype("i4"),
            "chan": ci.astype("i4"),
            "freq_hz": h["freq_array"][ci],
            "pol": np.array(pols, dtype=object)[pi],
            "re": vis.real.ravel(),
            "im": vis.imag.ravel(),
            "nsample": nsamples.ravel(),
            "flag": flags.ravel().astype(bool),
            "uu": h["uvw_array"][bi, 0],
            "vv": h["uvw_array"][bi, 1],
            "ww": h["uvw_array"][bi, 2],
        }
    )
