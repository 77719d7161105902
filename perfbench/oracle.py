"""Oracles that never go through ``ReplayEngine`` or ``LakeTable``.

The change-log oracle reads the staged parquet with pyarrow and resolves
last-writer-wins with a sort, decoding the winners' big-endian payloads with
numpy. The CSV oracle regenerates the rows each object was built from.
Both return the mismatch count of a per-row comparison: 0 means correct.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

CORE = ["doc_id", "tokens", "n_tok", "source"]


class ChangeLog:
    """The staged change log, held as Arrow columns for the oracle."""

    def __init__(self, log_dir: str):
        t = ds.dataset(log_dir, format="parquet").to_table(
            columns=["op", "commit_lsn", "seq_no", "doc_id", "n_tok", "source",
                     "offset", "payload"]
        )
        self.t = t
        self.offset = t["offset"].to_numpy()
        plen = pc.fill_null(pc.binary_length(t["payload"]), -1).to_numpy()
        n_tok = pc.fill_null(t["n_tok"], -1).to_numpy().astype(np.int64)
        iu = pc.is_in(t["op"], pa.array(["I", "U"])).to_numpy(
            zero_copy_only=False
        )
        # the change-log contract: an I/U event's payload holds n_tok int32s
        self.dirty = iu & (plen != 4 * n_tok)

    def window(self, lo: int, hi: int) -> np.ndarray:
        return (self.offset >= lo) & (self.offset <= hi)

    def keys_in(self, lo: int, hi: int) -> np.ndarray:
        """Distinct doc ids delivered in an offset window."""
        sel = self.t["doc_id"].filter(pa.array(self.window(lo, hi)))
        return np.asarray(pc.unique(sel).to_pylist(), dtype=object)

    def dirty_in(self, lo: int, hi: int) -> int:
        return int((self.dirty & self.window(lo, hi)).sum())


def _decode(payload: pa.Array) -> pa.Array:
    """binary big-endian int32 payloads -> list<int32>, via numpy."""
    arr = payload.combine_chunks() if isinstance(payload, pa.ChunkedArray) else payload
    n = len(arr)
    if n == 0:
        return pa.array([], pa.list_(pa.int32()))
    _validity, off_buf, data_buf = arr.buffers()
    offs = np.frombuffer(off_buf, np.int32, count=n + 1, offset=arr.offset * 4)
    lo, hi = int(offs[0]), int(offs[-1])
    vals = (
        np.frombuffer(data_buf, np.uint8, count=hi)[lo:].view(">i4").astype(np.int32)
        if hi > lo else np.zeros(0, np.int32)
    )
    return pa.ListArray.from_arrays(pa.array((offs - lo) // 4), pa.array(vals))


def expected_state(
    log: ChangeLog, seed_dir: str, windows: list[tuple[int, int]]
) -> tuple[pa.Table, int]:
    """Final table rows after the given delivered offset windows, and the exact
    dirty count (a window delivered twice counts its dirty events twice)."""
    applied = np.zeros(len(log.offset), bool)
    dirty = 0
    for lo, hi in windows:
        applied |= log.window(lo, hi)
        dirty += log.dirty_in(lo, hi)
    ev = log.t.filter(pa.array(applied & ~log.dirty))
    ev = ev.sort_by([("doc_id", "ascending"), ("commit_lsn", "ascending"),
                     ("seq_no", "ascending")])
    d = ev["doc_id"].to_numpy(zero_copy_only=False)
    last = np.ones(len(d), bool)
    if len(d) > 1:
        last[:-1] = d[:-1] != d[1:]
    win = ev.filter(pa.array(last))
    live = win.filter(pc.not_equal(win["op"], "D"))
    survivors = pa.table({
        "doc_id": live["doc_id"],
        "tokens": _decode(live["payload"]),
        "n_tok": live["n_tok"].cast(pa.int32()),
        "source": live["source"],
    })
    seed = ds.dataset(seed_dir, format="parquet").to_table(columns=CORE)
    untouched = seed.filter(pc.invert(pc.is_in(seed["doc_id"], win["doc_id"])))
    untouched = untouched.cast(survivors.schema)
    out = pa.concat_tables([survivors, untouched]).combine_chunks()
    return out.sort_by("doc_id"), dirty


def _rows_equal(a: pa.Table, b: pa.Table, cols: list[str]) -> np.ndarray:
    """Per-row equality of two key-aligned tables over ``cols``."""
    ok = np.ones(a.num_rows, bool)
    for c in cols:
        x, y = a[c].combine_chunks(), b[c].combine_chunks()
        if pa.types.is_list(x.type):
            lx = pc.fill_null(pc.list_value_length(x), -1).to_numpy()
            ly = pc.fill_null(pc.list_value_length(y), -1).to_numpy()
            same_len = lx == ly
            ok &= same_len
            rows = np.flatnonzero(same_len & (lx > 0))
            if len(rows):
                fx = pc.list_flatten(x.take(pa.array(rows))).to_numpy()
                fy = pc.list_flatten(y.take(pa.array(rows))).to_numpy()
                owner = np.repeat(rows, lx[rows])
                bad = np.unique(owner[fx != fy])
                ok[bad] = False
        else:
            eq = pc.fill_null(pc.equal(x, y), False).to_numpy(zero_copy_only=False)
            both_null = pc.and_(pc.is_null(x), pc.is_null(y)).to_numpy(
                zero_copy_only=False
            )
            ok &= eq | both_null
    return ok


def mismatches(actual: pa.Table, expected: pa.Table, key: str = "doc_id") -> int:
    """Rows present on one side only plus key-matched rows that differ in any
    column of ``expected``."""
    cols = [c for c in expected.column_names if c != key]
    actual = actual.select(expected.column_names).cast(expected.schema)
    a_in = pc.is_in(actual[key], expected[key])
    e_in = pc.is_in(expected[key], actual[key])
    one_side = (actual.num_rows - pc.sum(a_in).as_py()) + (
        expected.num_rows - pc.sum(e_in).as_py()
    )
    a = actual.filter(a_in).sort_by(key)
    e = expected.filter(e_in).sort_by(key)
    if a.num_rows != e.num_rows:  # duplicated keys on one side
        return one_side + abs(a.num_rows - e.num_rows) + min(a.num_rows, e.num_rows)
    dup = a[key].to_numpy(zero_copy_only=False) != e[key].to_numpy(zero_copy_only=False)
    ok = _rows_equal(a, e, cols) & ~dup
    return int(one_side + (~ok).sum())


def expected_csv(seed: int, loads: list[int], files_per_load: int,
                 rows_per_file: int) -> pa.Table:
    """The rows of every CSV object in ``loads``, as the loader should type
    them (the timestamp stays in its text form for comparison)."""
    from .inputs import csv_rows

    parts = [
        csv_rows(seed, load, part, rows_per_file)
        for load in loads for part in range(files_per_load)
    ]
    return pa.concat_tables(parts).sort_by("doc_id")
