"""Self-tests of the benchmark.

    python3 perfbench/selftest.py

- BENCHMARK.json and layers.json declare exactly the metrics run.py prints;
- the fixture is byte-identical when generated twice;
- a byte flipped in one encoded payload makes the decode phase count a
  failed operation (ok_frac < 1), caught by the stored chunk checksum;
- the layer self times plus ``unexplained`` add up to each phase's wall
  time, on a hand-built timeline and on a real traced cycle.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import sys

import run as bench  # noqa: I001  (sets up paths; benchmark-local module)

K = bench.K
TMP = os.path.join(bench.WORK, "selftest")


def test_fixture_identical() -> None:
    import fixture

    a, b = os.path.join(TMP, "fx_a"), os.path.join(TMP, "fx_b")
    da, ma = fixture.fixture(a, 7, 2, 2, 64)
    db, mb = fixture.fixture(b, 7, 2, 2, 64)
    names = sorted(os.listdir(da))
    assert names == sorted(os.listdir(db)) and names, names
    for n in names:
        assert filecmp.cmp(os.path.join(da, n), os.path.join(db, n), shallow=False), n
    assert ma == mb


def test_declarations() -> None:
    """BENCHMARK.json and layers.json name exactly the metrics run.py prints."""
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        decl = json.load(f)
    with open(os.path.join(bench.HERE, "layers.json")) as f:
        moves = json.load(f)
    assert {m["name"]: m["unit"] for m in decl["end_to_end"]} == bench.E2E_UNITS
    layers = bench.per_layer_units()
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == layers
    assert {w["name"] for w in decl["workloads"]} <= set(bench.WORKLOADS)
    assert set(moves) == set(layers), set(moves) ^ set(layers)
    for name, m in moves.items():
        assert set(m["moves"]) <= set(bench.E2E_UNITS), name
        assert set(m["workloads"]) <= set(bench.WORKLOADS), name


def test_attribution_synthetic() -> None:
    import spans

    # phase 0..10 s; driver plan 0..1, action 1..10; two tasks 2..6 and 2..8;
    # task 1 runs Python 3..5, task 2 runs Python 2..4
    share = spans.attribute(
        0.0, 10.0,
        [("io.plan", 0.0, 1.0), ("spark.driver", 1.0, 10.0)],
        {1: (2.0, 6.0), 2: (2.0, 8.0)},
        [(1, "encode.encode_batch", 3.0, 5.0, 0.0), (2, "io.scan", 2.0, 4.0, 0.0)],
    )
    want = {
        "io.plan": 1.0, "spark.driver": 1.0 + 2.0, "encode.encode_batch": 1.0,
        "io.scan": 1.0, spans.TASK_JVM: 1.0 + 1.0 + 2.0, spans.UNEXPLAINED: 0.0,
    }
    assert all(abs(share.get(k, 0.0) - v) < 1e-9 for k, v in want.items()), share
    assert abs(sum(share.values()) - 10.0) < 1e-9


def _flip_payload_byte(out: str) -> None:
    """Flip one byte inside a plain or bit-packed token part of one chunk,
    so the chunk still decodes but to other values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = bench.parquet_files(out)[0]
    t = pq.read_table(path)
    metas, payloads = t.column("meta").to_pylist(), t.column("payload").to_pylist()
    part = next(p for name, p in json.loads(metas[0])["parts"].items()
                if name.startswith("tokens_g") and p["codec"] in ("plain", "bitpack")
                and p["length"] > 0)
    pos = part["offset"] + part["length"] // 2
    body = bytearray(payloads[0])
    body[pos] ^= 0x01
    payloads[0] = bytes(body)
    t = t.set_column(t.schema.get_field_index("payload"), "payload",
                     pa.array(payloads, type=pa.binary()))
    pq.write_table(t, path)
    crc = os.path.join(out, f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # Hadoop's file checksum would otherwise catch it first


def test_spark(args) -> None:
    """Corruption is counted, and real traced phases add up."""
    import eventlog
    import fixture
    import phases
    import spans
    from parquet_to_arrow_spark.session import get_spark

    wl = bench.Workload(avg_tokens=256, files=K, chunks_per_file=1, keyed=False)
    run = bench.Run(args)
    data, man = fixture.fixture(os.path.join(TMP, "fx"), 3, wl.files, 1, wl.avg_tokens)
    log = os.path.join(run.run_dir, "eventlog")
    spark = get_spark(app="perfbench-selftest", cores=K, extra=bench.spark_conf(run.run_dir, log))
    try:
        ph = phases.Phases(spark, False, bench.KEYED_BUCKETS, bench.CHUNK_ROWS)
        run.expected_chunks = man["chunks"]
        run.traced_cycle(spark, ph, data, man, "t0")
        assert not run.ledger.failures, run.ledger.failures
        _flip_payload_byte(run.out)
        rec = run.ledger.attempt("corrupt.decode", lambda: ph.decode(run.out),
                                 run.check_decode(man))
    finally:
        bench.stop_spark(spark)
    assert not rec["ok"], rec
    ok_frac = 1 - len(run.ledger.failures) / run.ledger.attempted
    assert ok_frac < 1, ok_frac
    assert "checksum mismatch" in run.ledger.failures[-1], run.ledger.failures

    stages = eventlog.parse(eventlog.find_log(log))
    for phase in bench.PHASES:
        r = run.records[f"traced.{phase}"][0]
        tasks = {t.task_id: (t.launch, t.finish)
                 for ts in eventlog.group_tasks(stages, r["tag"]).values() for t in ts}
        assert tasks, f"no tasks found for {r['tag']}"
        share = spans.attribute(r["t0"], r["t1"], r["driver"], tasks, r["worker"])
        total, wall = sum(share.values()), r["t1"] - r["t0"]
        assert abs(total - wall) < 1e-6, (phase, total, wall)
        assert any(k.startswith(("encode.", "hashing.", "io.scan")) for k in share), share


def main() -> int:
    bench.prepare_env()
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    args = argparse.Namespace(workload="selftest", seed=0, seconds=0, trace=1)
    tests = [
        ("declarations", test_declarations),
        ("fixture_identical", test_fixture_identical),
        ("attribution_synthetic", test_attribution_synthetic),
        ("corruption_counted_and_layers_add_up", lambda: test_spark(args)),
    ]
    failed = 0
    for name, fn in tests:
        try:
            fn()
            print(f"PASS {name}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {name}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
