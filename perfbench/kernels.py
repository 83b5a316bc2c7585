"""Single-core kernel probes (no Spark) on one fixed sample chunk.

The sample is the first chunk of the workload's fixture. Each probe times a
kernel of the program on it several times and reports the median in ms.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parquet_to_arrow_spark import column, encode, hashing, selector, stats
from parquet_to_arrow_spark.session import DEFAULT_CHUNK_ROWS

REPEATS = 5


def _median_ms(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


def sample_chunk(path: str):
    """First ``DEFAULT_CHUNK_ROWS`` rows of the parquet file ``path``."""
    return next(pq.ParquetFile(path).iter_batches(batch_size=DEFAULT_CHUNK_ROWS))


def _token_groups(values: np.ndarray, lengths: np.ndarray):
    """The encoder's token groups: (values, vmin, vmax) after clustering."""
    order, labels, rmin, rmax = encode._cluster_order(values, lengths)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    starts, stops = offsets[:-1][order], offsets[1:][order]
    ordered = np.concatenate([values[a:b] for a, b in zip(starts, stops)] or [values[:0]])
    new_lengths = lengths[order]
    new_offsets = np.zeros(len(order) + 1, dtype=np.int64)
    np.cumsum(new_lengths, out=new_offsets[1:])
    cut = np.flatnonzero(labels[1:] != labels[:-1]) + 1
    row_bounds = np.concatenate(([0], cut, [len(labels)]))
    rmin, rmax = rmin[order], rmax[order]
    groups = []
    for ra, rb in zip(row_bounds[:-1], row_bounds[1:]):
        lo, hi = new_offsets[ra], new_offsets[rb]
        mask = new_lengths[ra:rb] > 0
        vmin = int(rmin[ra:rb][mask].min()) if mask.any() else None
        vmax = int(rmax[ra:rb][mask].max()) if mask.any() else None
        groups.append((ordered[lo:hi], vmin, vmax))
    return groups


def probe(path: str) -> dict:
    """``l0.*`` timings in ms and the ``selector.fsst_probes`` count."""
    batch = sample_chunk(path)
    tokens = batch.column(batch.schema.get_field_index("tokens"))
    values = tokens.flatten().to_numpy(zero_copy_only=False).astype(np.int32)
    lengths = pc.list_value_length(tokens).to_numpy(zero_copy_only=False).astype(np.int32)
    strings = [batch.column(batch.schema.get_field_index(c)) for c in ("doc_id", "source")]
    groups = _token_groups(values, lengths)

    def select():
        return [selector.rank_int_codecs(stats.int_stats(v, vmin=a, vmax=b)) for v, a, b in groups]

    fsst_probes = sum(any(name == "fsst" for _, name in ranked) for ranked in select())
    enc = encode.encode_batch(batch, chunk_id="probe")
    meta, payload = enc.column(8)[0].as_py(), enc.column(9)[0].as_py()
    checksum = enc.column(7)[0].as_py()
    return {
        "l0.cluster_order_ms": _median_ms(lambda: encode._cluster_order(values, lengths)),
        "l0.int_codec_ms": _median_ms(
            lambda: [column.encode_int_array(v, vmin=a, vmax=b) for v, a, b in groups]
        ),
        "l0.string_codec_ms": _median_ms(lambda: [column.encode_string_array(s) for s in strings]),
        "l0.select_ms": _median_ms(select),
        "selector.fsst_probes": fsst_probes,
        "l0.checksum_ms": _median_ms(lambda: hashing.chunk_checksum(values, lengths)),
        "l0.decode_ms": _median_ms(
            lambda: encode.decode_chunk_row(meta, payload, batch.num_rows, checksum,
                                            ("doc_id", "n_tok"))
        ),
        "l0.row_hash_ms": _median_ms(lambda: hashing.row_token_hashes(values, lengths)),
    }
