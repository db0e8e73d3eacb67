"""10x key-offset scale tier for the ``scale_x10`` workload.

The tier is N key-offset copies of a source scale-factor directory,
built with pyarrow (no Spark session, so it costs nothing inside the
benchmark's timed region or its ``setup_s``).  The scheme is the
FK-consistent one of ``tools/scale_probe.py``: every copy shifts the
same logical key by the same offset in every table that carries it, so
join and group cardinalities scale linearly; document text is
consonant-rotated and embedding signs are flipped per copy, so the
dedup and similarity queries see a bigger corpus rather than exact
duplicates.  Dimension tables (region, nation, customer, supplier,
part) are copied once.  That module is deliberately not imported: it
raises the driver heap for the whole process at import time.

The tier is cached under the work directory, keyed by a hash of the
source files and of this file, and its row counts are checked against
the source every time it is used.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# key columns to offset per copy, per table (same as tools/scale_probe.py)
OFFSETS = {
    "orders": {"o_orderkey": 10**9},
    "lineitem": {"l_orderkey": 10**9},
    "events": {"user_id": 10**7},
    "documents": {"doc_id": 10**7},
    "embeddings": {"vec_id": 10**7},
}
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
_MANIFEST = "_tier.json"


def source_key(src: str) -> str:
    """Hash of the source tables and of this generator's code."""
    h = hashlib.sha1()
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    for name in TABLES:
        h.update(name.encode())
        with open(os.path.join(src, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _rotate_text(col: pa.ChunkedArray, i: int) -> pa.Array:
    # two rotated consonant alphabets: 10 x 10 = 100 distinct transforms
    alpha, beta = "bcdfghjklm", "npqrstvwxz"
    ra = alpha[i % 10 :] + alpha[: i % 10]
    rb = beta[(i // 10) % 10 :] + beta[: (i // 10) % 10]
    table = str.maketrans(alpha + beta, ra + rb)
    return pa.array(
        [None if s is None else s.translate(table) for s in col.to_pylist()],
        type=col.type,
    )


def _flip_signs(col: pa.ChunkedArray, i: int) -> pa.Array:
    # copy-specific sign flip of ~half the dimensions; the multiplier is
    # never 0 mod 101, so no copy degenerates to the no-flip pattern
    arr = col.combine_chunks()
    if arr.null_count:
        raise ValueError("embeddings with null vectors are not supported")
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False)
    pos = np.arange(len(values)) - np.repeat(offsets[:-1], np.diff(offsets))
    keep = ((pos + 1) * ((i % 100) + 1)) % 101 < 51
    flipped = np.where(keep, values, -values).astype(values.dtype)
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(flipped, arr.type.value_type)
    )


def _copy(t: pa.Table, name: str, i: int) -> pa.Table:
    for col, step in OFFSETS[name].items():
        j = t.schema.get_field_index(col)
        t = t.set_column(j, t.schema.field(j), pc.add(t[col], pa.scalar(i * step, t[col].type)))
    if i > 0 and name == "documents":
        j = t.schema.get_field_index("text")
        t = t.set_column(j, t.schema.field(j), _rotate_text(t["text"], i))
    if i > 0 and name == "embeddings":
        j = t.schema.get_field_index("embedding")
        t = t.set_column(j, t.schema.field(j), _flip_signs(t["embedding"], i))
    return t


def expected_rows(src: str, copies: int) -> dict[str, int]:
    return {
        name: pq.read_metadata(os.path.join(src, f"{name}.parquet")).num_rows
        * (copies if name in OFFSETS else 1)
        for name in TABLES
    }


def _check(dst: str, src: str, copies: int) -> None:
    want = expected_rows(src, copies)
    got = {
        name: pq.read_metadata(os.path.join(dst, f"{name}.parquet")).num_rows
        for name in TABLES
    }
    if got != want:
        raise RuntimeError(f"tier {dst}: row counts {got} != expected {want}")


def ensure(src: str, root: str, copies: int = 10) -> str:
    """Return the tier directory for ``src``, building it if needed."""
    dst = os.path.join(root, f"tier_x{copies}_{source_key(src)}")
    if not os.path.exists(os.path.join(dst, _MANIFEST)):
        tmp = f"{dst}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name in TABLES:
            t = pq.read_table(os.path.join(src, f"{name}.parquet"))
            if name in OFFSETS:
                t = pa.concat_tables([_copy(t, name, i) for i in range(copies)])
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, _MANIFEST), "w") as fh:
            json.dump({"source": os.path.basename(src), "copies": copies,
                       "rows": expected_rows(src, copies)}, fh)
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(tmp, dst)
    _check(dst, src, copies)
    return dst

