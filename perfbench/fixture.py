"""Seeded, byte-stable tokens fixture for the benchmark.

The generator is the benchmark's own copy of the regime mix in
``parquet_to_arrow_spark/sources/synth.py`` (small vocab / long PAD runs /
constant / narrow range / full int32 range / periodic text / zipf vocab /
empty rows, zipf-skewed ``source``), so a change to the program cannot move
the inputs it is measured on. Every value is a pure function of
(seed, global row id).

Files are written by this one process with pyarrow under fixed names, so the
same (version, seed, rows, avg_tokens) always gives byte-identical files and
the encoded chunk ids (which carry the file name) repeat exactly. The output
is cached under a key of those four values; a manifest stores each file's
SHA-256 and is checked before every use.
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

GEN_VERSION = 1
CHUNK_ROWS = 8192  # matches the program's default chunk (Arrow batch) size

SOURCES = ["web", "books", "code", "wiki", "forum"]
_SOURCE_CDF = np.array([0.62, 0.82, 0.92, 0.98, 1.0]) * float(2**64)
_DOC_PREFIX = b"doc-"
_DOC_DIGITS = 12


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """Vectorised splitmix64 finaliser: uint64 -> uint64."""
    z = x.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _doc_ids(ids: np.ndarray) -> pa.Array:
    """``doc-%012d`` strings built as one fixed-width byte matrix."""
    width = len(_DOC_PREFIX) + _DOC_DIGITS
    mat = np.empty((len(ids), width), dtype=np.uint8)
    mat[:, : len(_DOC_PREFIX)] = np.frombuffer(_DOC_PREFIX, dtype=np.uint8)
    rest = ids.astype(np.int64)
    for c in range(width - 1, len(_DOC_PREFIX) - 1, -1):
        mat[:, c] = 48 + rest % 10
        rest //= 10
    offsets = np.arange(len(ids) + 1, dtype=np.int32) * width
    return pa.Array.from_buffers(
        pa.string(), len(ids), [None, pa.py_buffer(offsets), pa.py_buffer(mat.tobytes())]
    )


def gen_batch(ids: np.ndarray, avg_tokens: int, seed: int) -> pa.RecordBatch:
    """Rows ``ids`` of the ``(doc_id, tokens, n_tok, source)`` table."""
    n = len(ids)
    u = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x0000_0001_0000_0001)
    regime = (_mix(u, 2) % np.uint64(8)).astype(np.int64)
    lengths = (_mix(u, 3) % np.uint64(2 * avg_tokens)).astype(np.int64) + 1
    lengths[regime == 6] = 0
    total = int(lengths.sum())

    row_of = np.repeat(np.arange(n, dtype=np.int64), lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    within = np.arange(total, dtype=np.int64) - offsets[:-1][row_of]
    g = u[row_of] * np.uint64(0x1FFFF) + within.astype(np.uint64)
    h = _mix(g, 7)

    r = regime[row_of]
    vals = np.empty(total, dtype=np.int64)
    vals[r == 0] = (h[r == 0] % np.uint64(256)).astype(np.int64)  # small vocab
    m1 = r == 1  # long PAD runs with sparse non-PAD values
    v1 = (h[m1] % np.uint64(50000)).astype(np.int64)
    v1[(_mix(g[m1], 11) % np.uint64(16)) != 0] = 0
    vals[m1] = v1
    vals[r == 2] = 0  # constant
    vals[r == 3] = 10_000_000 + (h[r == 3] % np.uint64(128)).astype(np.int64)  # narrow
    vals[r == 4] = h[r == 4].view(np.int64) >> np.int64(32)  # full int32 range
    vals[r == 5] = 1000 + (within[r == 5] % 17)  # periodic text-like
    m6 = r >= 6  # zipf-ish vocab (squared uniform)
    f = (h[m6] % np.uint64(1 << 16)).astype(np.float64) / float(1 << 16)
    vals[m6] = (f * f * 50257.0).astype(np.int64)

    src_idx = np.searchsorted(_SOURCE_CDF, _mix(u, 5).astype(np.float64))
    src_idx = np.clip(src_idx, 0, len(SOURCES) - 1)
    source = pa.DictionaryArray.from_arrays(
        pa.array(src_idx, type=pa.int32()), pa.array(SOURCES)
    ).cast(pa.string())
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(vals.astype(np.int32), type=pa.int32())
    )
    return pa.RecordBatch.from_arrays(
        [_doc_ids(ids), tokens, pa.array(lengths.astype(np.int32)), source],
        names=["doc_id", "tokens", "n_tok", "source"],
    )


def raw_bytes(batch: pa.RecordBatch) -> int:
    """Logical bytes of a batch: int32 tokens and n_tok, utf-8 strings."""
    tokens = batch.column(1)
    return (
        4 * len(tokens.flatten())
        + 4 * batch.num_rows
        + sum(len(batch.column(i).buffers()[2] or b"") for i in (0, 3))
    )


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def write_fixture(
    out_dir: str, seed: int, files: int, chunks_per_file: int, avg_tokens: int
) -> dict:
    """Write ``files`` parquet files of ``chunks_per_file`` full chunks each;
    return the manifest (rows, tokens, raw bytes, per-file size and hash)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = tokens = raw = 0
    entries = []
    for fi in range(files):
        name = f"part-{fi:05d}.parquet"
        path = os.path.join(out_dir, name)
        schema = gen_batch(np.zeros(0, np.int64), 1, 0).schema
        with pq.ParquetWriter(path, schema, compression="snappy") as w:
            for ci in range(chunks_per_file):
                start = (fi * chunks_per_file + ci) * CHUNK_ROWS
                ids = np.arange(start, start + CHUNK_ROWS, dtype=np.int64)
                batch = gen_batch(ids, avg_tokens, seed)
                w.write_table(pa.Table.from_batches([batch]), row_group_size=CHUNK_ROWS)
                rows += batch.num_rows
                tokens += int(pc.sum(batch.column(2)).as_py())
                raw += raw_bytes(batch)
        entries.append({"name": name, "size": os.path.getsize(path), "sha256": _sha256(path)})
    return {"rows": rows, "tokens": tokens, "raw_bytes": raw,
            "chunks": files * chunks_per_file, "files": entries}


def fixture(
    cache_root: str, seed: int, files: int, chunks_per_file: int, avg_tokens: int
) -> tuple[str, dict]:
    """Cached fixture directory and manifest; regenerated when missing or
    when any file's hash no longer matches its manifest."""
    key = f"v{GEN_VERSION}-s{seed}-r{files * chunks_per_file * CHUNK_ROWS}-t{avg_tokens}"
    path = os.path.join(cache_root, key)
    data = os.path.join(path, "data")
    mpath = os.path.join(path, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            man = json.load(f)
        names = sorted(e["name"] for e in man["files"])
        if names == sorted(os.listdir(data)) and all(
            _sha256(os.path.join(data, e["name"])) == e["sha256"] for e in man["files"]
        ):
            return data, man
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    man = write_fixture(os.path.join(tmp, "data"), seed, files, chunks_per_file, avg_tokens)
    man["key"] = key
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, path)
    return data, man
