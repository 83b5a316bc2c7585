"""The three timed phases (encode, decode, verify), untraced and traced.

Untraced phases call only the program's public pipeline functions. Traced
phases build the same Spark plans, but the ``mapInArrow`` worker loops are
the benchmark's own: they call ``io.open_parquet``, ``iter_batches``,
``encode.encode_batch``, ``encode.decode_chunk_row`` and
``hashing.row_token_hashes`` in the program's order, each inside a span.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import functions as F

from parquet_to_arrow_spark import decode, encode, hashing
from parquet_to_arrow_spark.session import DEFAULT_CHUNK_ROWS
from parquet_to_arrow_spark.sources import io

import spans

COLUMNS = ("doc_id", "tokens", "n_tok", "source")
DECODE_COLUMNS = ("doc_id", "n_tok")


class Phases:
    """Phase runners bound to one session and workload."""

    def __init__(self, spark, keyed: bool, buckets: int, chunk_rows: int) -> None:
        self.spark = spark
        self.keyed = keyed
        self.buckets = buckets
        self.chunk_rows = chunk_rows

    # --- untraced: public functions only ---------------------------------

    def encode_df(self, data: str):
        if self.keyed:
            return encode.encode_tokens_df(
                self.spark.read.parquet(data), by_key=True, n_buckets=self.buckets,
                chunk_rows=self.chunk_rows,
            )
        return io.encode_parquet_dir(self.spark, data, chunk_rows=self.chunk_rows)

    def encode(self, data: str, out: str) -> None:
        self.encode_df(data).write.mode("overwrite").parquet(out)

    def encode_noop(self, data: str) -> None:
        """The encode job ending in a sink that writes nothing."""
        self.encode_df(data).write.format("noop").mode("overwrite").save()

    def decode(self, out: str) -> tuple[int, int]:
        dec = decode.decode_chunks_df(
            self.spark.read.parquet(out), verify_checksum=True, columns=DECODE_COLUMNS
        )
        return _totals(dec)

    def verify(self, data: str, out: str) -> dict:
        return io.verify_hashes(
            io.token_hashes_from_parquet(self.spark, data),
            io.token_hashes_from_encoded(self.spark.read.parquet(out)),
        )

    # --- traced: same plans, benchmark-owned worker loops ----------------

    def encode_traced(self, data: str, out: str, drv: spans.DriverSpans, acc) -> None:
        if self.keyed:
            src = drv.call("spark.plan", self.spark.read.parquet, data)
            keyed = (
                src.withColumn(
                    "pkey", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(self.buckets)).cast("int")
                )
                .repartition(self.buckets, "pkey")
                .sortWithinPartitions("pkey", "doc_id")
            )
            df = keyed.mapInArrow(_encode_buckets(acc, self.chunk_rows), encode.ENCODED_SCHEMA_DDL)
        else:
            files = drv.call("io.plan", io.files_df, self.spark, data)
            df = files.mapInArrow(_encode_files(acc, self.chunk_rows), encode.ENCODED_SCHEMA_DDL)
        drv.call("spark.driver", df.write.mode("overwrite").parquet, out)

    def decode_traced(self, out: str, drv: spans.DriverSpans, acc) -> tuple[int, int]:
        enc = drv.call("spark.plan", self.spark.read.parquet, out)
        ddl = ", ".join(f"{c} {'string' if c == 'doc_id' else 'int'}" for c in DECODE_COLUMNS)
        dec = enc.mapInArrow(_decode_chunks(acc), ddl)
        return drv.call("spark.driver", _totals, dec)

    def verify_traced(self, data: str, out: str, drv: spans.DriverSpans, acc) -> dict:
        files = drv.call("io.plan", io.files_df, self.spark, data)
        left = files.mapInArrow(_hash_files(acc), io.HASH_SCHEMA_DDL)
        enc = drv.call("spark.plan", self.spark.read.parquet, out)
        right = enc.mapInArrow(_hash_encoded(acc), io.HASH_SCHEMA_DDL)
        return drv.call("spark.driver", io.verify_hashes, left, right)


def _totals(dec) -> tuple[int, int]:
    row = dec.agg(F.count(F.lit(1)).alias("rows"), F.sum("n_tok").alias("tokens")).collect()[0]
    return int(row["rows"]), int(row["tokens"] or 0)


# --- worker loops (run inside Python workers) ------------------------------


def _task_spans() -> spans.WorkerSpans:
    return spans.WorkerSpans(TaskContext.get().taskAttemptId())


def _encode_files(acc, chunk_rows: int):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rec = _task_spans()
        for pdf in batches:
            for fpath in pdf.column(0).to_pylist():
                pf = rec.call("io.scan", io.open_parquet, fpath)
                base = os.path.splitext(os.path.basename(fpath))[0]
                it = iter(pf.iter_batches(batch_size=chunk_rows, columns=list(COLUMNS)))
                seq = 0
                while (batch := rec.next("io.scan", it)) is not None:
                    if batch.num_rows:
                        yield rec.call(
                            "encode.encode_batch", encode.encode_batch, batch,
                            chunk_id=f"{base}.{seq:05d}",
                        )
                    seq += 1
        acc.add(rec.rows)

    return run


def _encode_buckets(acc, chunk_rows: int):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rec = _task_spans()
        seq: dict[int, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pk = batch.column(batch.schema.get_field_index("pkey")).to_numpy()
            body = batch.drop_columns(["pkey"])
            change = np.flatnonzero(pk[1:] != pk[:-1])
            bounds = np.concatenate(([0], change + 1, [len(pk)]))
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                pkey = int(pk[lo])
                for start in range(int(lo), int(hi), chunk_rows):
                    sub = body.slice(start, min(chunk_rows, int(hi) - start))
                    i = seq.get(pkey, 0)
                    seq[pkey] = i + 1
                    yield rec.call(
                        "encode.encode_batch", encode.encode_batch, sub,
                        chunk_id=f"k{pkey:06d}.{i:05d}", pkey=pkey,
                    )
        acc.add(rec.rows)

    return run


def _chunk_rows(batch: pa.RecordBatch):
    col = batch.schema.get_field_index
    metas, payloads = batch.column(col("meta")), batch.column(col("payload"))
    n_rows, checks = batch.column(col("n_rows")), batch.column(col("checksum"))
    for i in range(batch.num_rows):
        yield metas[i].as_py(), payloads[i].as_py(), n_rows[i].as_py(), checks[i].as_py()


def _decode_chunks(acc):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rec = _task_spans()
        for batch in batches:
            for meta, payload, n_rows, check in _chunk_rows(batch):
                yield rec.call(
                    "encode.decode_chunk_row", decode.decode_chunk_row,
                    meta, payload, n_rows, check, DECODE_COLUMNS,
                )
        acc.add(rec.rows)

    return run


def _row_hashes(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(doc_id, n_tok, tok_hash) rows of a tokens batch."""
    tokens = batch.column(batch.schema.get_field_index("tokens"))
    values = tokens.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    lengths = pc.list_value_length(tokens).to_numpy(zero_copy_only=False).astype(np.int32)
    h = hashing.row_token_hashes(values, lengths)
    return pa.RecordBatch.from_arrays(
        [batch.column(batch.schema.get_field_index("doc_id")), pa.array(lengths),
         pa.array(h, type=pa.int64())],
        names=["doc_id", "n_tok", "tok_hash"],
    )


def _hash_files(acc):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rec = _task_spans()
        for pdf in batches:
            for fpath in pdf.column(0).to_pylist():
                pf = rec.call("io.scan", io.open_parquet, fpath)
                it = iter(pf.iter_batches(batch_size=DEFAULT_CHUNK_ROWS,
                                          columns=["doc_id", "tokens"]))
                while (batch := rec.next("io.scan", it)) is not None:
                    if batch.num_rows:
                        yield rec.call("hashing.row_token_hashes", _row_hashes, batch)
        acc.add(rec.rows)

    return run


def _hash_encoded(acc):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rec = _task_spans()
        for batch in batches:
            for meta, payload, n_rows, _ in _chunk_rows(batch):
                dec = rec.call(
                    "encode.decode_chunk_row", decode.decode_chunk_row,
                    meta, payload, n_rows, columns=("doc_id", "tokens"),
                )
                yield rec.call("hashing.row_token_hashes", _row_hashes, dec)
        acc.add(rec.rows)

    return run
