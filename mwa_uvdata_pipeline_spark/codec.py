"""Layout rules shared by the native visibility codecs.

Each native format keeps its own byte layout and its own axis order
(sources_fits: the uvfits sorted baselines and the gpubox ``triu``
table; sources_hdf5: the uvh5 (time, ant1, ant2) blts; mwab:
``baselines_of``). What they have in common lives here once:

- the AIPS polarisation-code table and the one rule that maps names
  onto it;
- the row-to-cell indexer every writer scatters long-format rows into
  its cube with, and the cell-to-row explosion every reader gathers
  rows from a C-order cube with;
- the Spark file scan every native reader runs.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd

#: AIPS polarisation codes of the linear feeds (negative by convention)
POL_CODE = {"XX": -5, "YY": -6, "XY": -7, "YX": -8}
POL_NAME = {v: k for k, v in POL_CODE.items()}


def pol_axis(pol: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """The polarisation axis of long-format rows and each row's place on
    it. The axis holds the AIPS codes present, in the XX, YY, XY, YX
    (descending code) order every writer stores. Names match in any
    case, so the lower-case names of MWAB and the pipeline write like
    the readers' upper-case ones; an unknown name raises ``ValueError``.
    """
    table = {p: POL_CODE.get(str(p).upper()) for p in pol.unique()}
    unknown = [p for p, code in table.items() if code is None]
    if unknown:
        raise ValueError(
            f"unknown polarisation {unknown[0]!r}; "
            f"expected one of {', '.join(POL_CODE)} in any case"
        )
    neg = -pol.map(table).to_numpy(np.int64)
    axis = np.unique(neg)
    return -axis, np.searchsorted(axis, neg)


def _find(levels: np.ndarray, values) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``values`` in the sorted ``levels`` and whether each
    value is there."""
    values = np.asarray(values)
    pos = np.searchsorted(levels, values)
    hit = pos < len(levels)
    hit[hit] = levels[pos[hit]] == values[hit]
    return pos, hit


def cell_index(axis, rows, what: str) -> np.ndarray:
    """Row-to-cell: the position of each long-format row on one axis of
    a cube.

    ``axis`` is one column of axis values, or a tuple of columns for a
    compound axis ((ant1, ant2) baselines, (time, ant1, ant2) blts),
    with its entries sorted and unique (lexicographically for a tuple).
    ``rows`` holds the rows' values in the same shape. A row that is
    not on the axis raises ``ValueError`` instead of being dropped or
    scattered into a wrong cell.
    """
    if not isinstance(axis, tuple):
        axis, rows = (axis,), (rows,)
    # mixed-radix key per entry: each column's rank among its own levels
    axis_key = row_key = 0
    on = True
    for a, r in zip(axis, rows):
        levels = np.unique(a)
        pos, hit = _find(levels, r)
        axis_key = axis_key * len(levels) + np.searchsorted(levels, a)
        row_key = row_key * len(levels) + pos
        on = on & hit
    if (np.diff(axis_key) <= 0).any():
        raise ValueError(f"the {what} axis is not sorted and unique")
    pos, hit = _find(np.asarray(axis_key), row_key)
    off = ~(on & hit)
    if off.any():
        first = tuple(np.asarray(r)[off][0] for r in rows)
        raise ValueError(
            f"{int(off.sum())} row(s) off the {what} axis, first {first}"
        )
    return pos


def cube_rows(shape: tuple[int, ...]) -> np.ndarray:
    """Cell-to-row: for every cell of a C-order cube of ``shape``, its
    index along each axis (``cube_rows(shape)[k]`` gathers axis ``k``'s
    values), so a flattened payload explodes to one row per cell."""
    return np.indices(shape).reshape(len(shape), -1)


def scan_files(
    spark,
    paths: list[str],
    parse: Callable[[str, bytes], pd.DataFrame],
    schema: str,
):
    """Read native files as rows of ``schema``. Spark's ``binaryFile``
    source lists and distributes the files; ``mapInPandas`` runs
    ``parse(basename, content)`` on each whole file inside one task, so
    the driver never holds a payload and the scan scales with the file
    count (MWA ships one file per coarse channel or observation)."""

    def parse_all(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                yield parse(os.path.basename(path), content)

    return (
        spark.read.format("binaryFile")
        .load(paths)
        .select("path", "content")
        .mapInPandas(parse_all, schema)
    )
