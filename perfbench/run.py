"""Encode -> decode -> verify benchmark of the columnar encode engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload encode_long --seed 1 --seconds 20 --trace 0

Each run builds (or reuses) a seeded fixture, starts one Spark session at
``local[k]``, warms every Python worker, runs one untimed warm-up cycle, then
repeats cycles of three timed phases until ``--seconds`` have passed:

- encode: the input parquet -> encoded chunks, written as parquet;
- decode: every chunk decoded with its checksum checked (doc_id, n_tok out);
- verify: per-row token hashes of input and encoded output, joined.

Every phase execution is checked (chunk count; decoded rows and token sum;
verify verdict ``equal``). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs traced phases beside untraced ones and prints the
per-layer metrics. The last stdout line is one JSON object; a detailed
record, with the load context of every phase, goes to
``.perfbench_work/results/``. Exit status 2 means the program under test
could not be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

import procstat  # noqa: E402  (benchmark-local module beside this file)

GIB = float(1 << 30)
MIB = float(1 << 20)
CHUNK_ROWS = 8192
# one slot stays free for the driver JVM and this process on small boxes
K = max(1, min(3, (os.cpu_count() or 2) - 1))
# fixed for every box: the keyed encode's chunk layout depends on it
KEYED_BUCKETS = 6
MIN_CYCLES = 3
# traced cycles run three phase sets each; two give the per-layer medians
MIN_TRACED_CYCLES = 2
MAX_CYCLES = 12
PHASES = ("encode", "decode", "verify")
INT_CODECS = ("plain", "bitpack", "for", "delta", "rle", "dict", "fsst")
STRING_MODES = ("str_dict", "str_flat")
LAYERS = (
    "io.plan", "spark.plan", "spark.driver", "io.scan", "encode.encode_batch",
    "encode.decode_chunk_row", "hashing.row_token_hashes", "spark.task_jvm",
)
SPARK_STAGE_UNITS = {
    "boundary_s": "s", "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mib": "MiB", "shuffle_fetch_wait_s": "s", "spill_mib": "MiB",
    "peak_exec_mib": "MiB", "tasks": "count",
}


@dataclass(frozen=True)
class Workload:
    avg_tokens: int
    files: int
    chunks_per_file: int
    keyed: bool


WORKLOADS = {
    "encode_long": Workload(avg_tokens=256, files=12, chunks_per_file=2, keyed=False),
    "encode_short": Workload(avg_tokens=16, files=12, chunks_per_file=6, keyed=False),
    "encode_keyed": Workload(avg_tokens=256, files=12, chunks_per_file=2, keyed=True),
}

E2E_UNITS = {
    "setup_s": "s", "encode_gib_s": "GiB/s", "encode_cpu_s_per_gib": "s/GiB",
    "decode_gib_s": "GiB/s", "verify_gib_s": "GiB/s", "ratio": "x",
    "size_vs_parquet": "x", "worker_peak_rss_mib": "MiB", "ok_frac": "frac",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit (the same on each workload)."""
    u = {
        "session.start_s": "s", "io.plan_s": "s", "io.tasks": "count", "io.task_skew": "x",
        "io.scan.cpu_s_per_gib": "s/GiB", "encode.encode_batch.cpu_s_per_gib": "s/GiB",
        "encode.encode_batch.p50_ms": "ms", "encode.encode_batch.p99_ms": "ms",
        "encode.decode_chunk_row.cpu_s_per_gib": "s/GiB", "encode.decode_chunk_row.p99_ms": "ms",
        "hashing.row_token_hashes.cpu_s_per_gib": "s/GiB",
        "l0.cluster_order_ms": "ms", "l0.int_codec_ms": "ms", "l0.string_codec_ms": "ms",
        "l0.select_ms": "ms", "selector.fsst_probes": "count", "l0.checksum_ms": "ms",
        "l0.decode_ms": "ms", "l0.row_hash_ms": "ms",
    }
    for name in INT_CODECS + STRING_MODES:
        u[f"codec.{name}.values"] = "count"
        u[f"codec.{name}.bytes"] = "bytes"
    u.update({"write.s": "s", "write.mib": "MiB", "trace.overhead_frac": "frac"})
    for p in PHASES:
        u[f"phase.{p}.wall_s"] = "s"
        u[f"phase.{p}.unexplained_s"] = "s"
        u[f"phase.{p}.worker_rss_mib"] = "MiB"
        for layer in LAYERS:
            u[f"phase.{p}.self.{layer}_s"] = "s"
        for m, unit in SPARK_STAGE_UNITS.items():
            u[f"phase.{p}.spark.{m}"] = unit
    return u


# --- session lifecycle --------------------------------------------------------


def spark_conf(run_dir: str, event_log: str | None) -> dict:
    """Session settings that keep every file the JVM writes under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait until every process
    it started (the JVM, the PySpark daemon and its workers) has ended."""
    from pyspark import SparkContext

    pids = procstat.descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while (alive := [p for p in pids if procstat.alive(p)]) and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(procstat.alive(p) for p in alive):
        time.sleep(0.1)


# --- helpers --------------------------------------------------------------------


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    )


def chunk_count(out: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(out))


def disk_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def encoded_totals(out: str) -> dict:
    """Exact byte counts and per-codec counts of an encoded output."""
    import pyarrow.parquet as pq

    t = pq.read_table(out, columns=["raw_bytes", "enc_bytes", "meta"])
    codec = {f"codec.{n}.{k}": 0 for n in INT_CODECS + STRING_MODES for k in ("values", "bytes")}
    unknown: dict[str, int] = {}
    for meta in t.column("meta").to_pylist():
        for name, part in json.loads(meta)["parts"].items():
            if name.startswith("tokens_g") or name in ("doc_id", "source"):
                key = f"codec.{part['codec']}"
                if f"{key}.values" in codec:
                    codec[f"{key}.values"] += part["n"]
                    codec[f"{key}.bytes"] += part["length"]
                else:
                    unknown[part["codec"]] = unknown.get(part["codec"], 0) + part["length"]
    return {
        "raw_bytes": sum(t.column("raw_bytes").to_pylist()),
        "enc_bytes": sum(t.column("enc_bytes").to_pylist()),
        "disk_bytes": disk_bytes(out),
        "codec": codec,
        "unknown_codec_bytes": unknown,
    }


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def pct(xs, q: float) -> float:
    """Nearest-rank percentile ``q`` (0..1) of ``xs``."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))] if xs else float("nan")


def _cause(e: Exception) -> str:
    """The line naming the root error (a Python worker's traceback ends in
    it), else the first line."""
    lines = [ln.strip() for ln in str(e).splitlines() if ln.strip()]
    named = [ln for ln in lines if "Error:" in ln or "Exception:" in ln]
    return ((named or lines or [""])[-1 if named else 0])[:300]


class Ledger:
    """Phase executions: attempted, failed (with reasons), and per success
    its wall time, epoch bounds, CPU of the Spark process tree and load."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def attempt(self, label: str, fn, check=None) -> dict:
        """Run ``fn()``, then ``check(result)`` (an error string or None)."""
        self.attempted += 1
        load = procstat.LoadWindow()
        cpu0, t0, p0 = procstat.tree_cpu_s(), time.time(), time.perf_counter()
        err = None
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 - a failed job is a measured outcome
            result, err = None, f"{type(e).__name__}: {_cause(e)}"
        rec = {"label": label, "wall": time.perf_counter() - p0, "t0": t0, "t1": time.time(),
               "cpu": procstat.tree_cpu_s() - cpu0, "load": load.close(), "result": result}
        if err is None and check is not None:
            err = check(result)
        rec["ok"] = err is None
        if err:
            self.failures.append(f"{label}: {err}")
        return rec


class Run:
    """One benchmark run of one workload."""

    def __init__(self, args) -> None:
        self.args = args
        self.ledger = Ledger()
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(os.path.join(self.run_dir, "tmp"))
        # temporary files of this process, the JVM launcher and the workers
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        self.out = os.path.join(self.run_dir, "encoded")
        self.records: dict[str, list[dict]] = {}
        self.expected_chunks: int | None = None

    # checks -------------------------------------------------------------------

    @staticmethod
    def check_encode(out: str, expected: int | None):
        """Chunk count check; ``None`` only asks for a non-empty output."""
        def check(_):
            n = chunk_count(out)
            ok = n > 0 if expected is None else n == expected
            return None if ok else f"{n} chunks, expected {expected}"
        return check

    @staticmethod
    def check_decode(man: dict):
        def check(res):
            want = (man["rows"], man["tokens"])
            return None if tuple(res) == want else f"decoded (rows, tokens) {res}, expected {want}"
        return check

    @staticmethod
    def check_verify(man: dict):
        def check(rep):
            ok = rep["equal"] and rep["n_left"] == man["rows"]
            return None if ok else f"verify report {rep}"
        return check

    def keyed_chunks(self, spark, data: str) -> int:
        """Chunks the keyed encode must produce. A row's bucket is
        xxhash64(doc_id) mod the bucket count; buckets are hash-partitioned
        (Murmur3, as ``repartition`` does) and sorted within a partition,
        which reaches Python in ``CHUNK_ROWS``-row Arrow batches. Each
        (batch, bucket) piece becomes one chunk."""
        from pyspark.sql import functions as F

        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(KEYED_BUCKETS)).cast("int")
        counts = (
            spark.read.parquet(data).select(bucket.alias("b"))
            .groupBy(F.pmod(F.hash("b"), F.lit(KEYED_BUCKETS)).alias("p"), "b")
            .count().collect()
        )
        chunks, filled = 0, {}
        for r in sorted(counts, key=lambda r: (r["p"], r["b"])):
            start = filled.get(r["p"], 0)
            end = start + r["count"]
            chunks += (end - 1) // CHUNK_ROWS - start // CHUNK_ROWS + 1
            filled[r["p"]] = end
        return chunks

    # cycles ---------------------------------------------------------------------

    def keep(self, kind: str, rec: dict) -> None:
        self.records.setdefault(kind, []).append(rec)

    def untraced_cycle(self, ph, data: str, man: dict, label: str) -> None:
        self.keep("encode", self.ledger.attempt(
            f"{label}.encode", lambda: ph.encode(data, self.out),
            self.check_encode(self.out, self.expected_chunks)))
        self.keep("decode", self.ledger.attempt(
            f"{label}.decode", lambda: ph.decode(self.out), self.check_decode(man)))
        self.keep("verify", self.ledger.attempt(
            f"{label}.verify", lambda: ph.verify(data, self.out), self.check_verify(man)))

    def traced_cycle(self, spark, ph, data: str, man: dict, label: str) -> None:
        import spans

        sc = spark.sparkContext
        for phase, fn, check in (
            ("encode", lambda d, a: ph.encode_traced(data, self.out, d, a),
             self.check_encode(self.out, self.expected_chunks)),
            ("decode", lambda d, a: ph.decode_traced(self.out, d, a), self.check_decode(man)),
            ("verify", lambda d, a: ph.verify_traced(data, self.out, d, a), self.check_verify(man)),
        ):
            tag = f"{label}.{phase}"
            sc.setJobGroup(tag, tag)
            acc = sc.accumulator([], spans.SpanListParam())
            drv = spans.DriverSpans()
            procstat.reset_worker_peaks()
            rec = self.ledger.attempt(tag, lambda fn=fn: fn(drv, acc), check)
            rec.update(tag=tag, driver=drv.rows, worker=list(acc.value),
                       rss_mib=procstat.worker_peak_rss_mib())
            self.keep(f"traced.{phase}", rec)
        sc.setLocalProperty("spark.jobGroup.id", None)

    def measure(self, spark, ph, data: str, man: dict, traced: bool) -> None:
        """A warm-up cycle, then timed cycles until ``--seconds`` have passed
        since the warm-up began, and at least the minimum. The warm-up is
        checked but not timed: it runs the decode and verify plans for the
        first time, and the JVM is still compiling their hot paths."""
        start, n = time.perf_counter(), 0
        self.untraced_cycle(ph, data, man, "w")
        for kind in PHASES:
            self.records[f"warm.{kind}"] = self.records.pop(kind)
        while n < MAX_CYCLES:
            c0 = time.perf_counter()
            if traced and n % 2:
                # alternate the order, so run-long drift (JIT warm-up) does
                # not bias the traced-vs-untraced comparison
                self.traced_cycle(spark, ph, data, man, f"t{n}")
            self.untraced_cycle(ph, data, man, f"c{n}")
            if traced and not n % 2:
                self.traced_cycle(spark, ph, data, man, f"t{n}")
            if traced:
                self.keep("noop", self.ledger.attempt(f"c{n}.noop", lambda: ph.encode_noop(data)))
            n += 1
            spent, last = time.perf_counter() - start, time.perf_counter() - c0
            least = MIN_TRACED_CYCLES if traced else MIN_CYCLES
            if n >= least and spent + last > self.args.seconds:
                break

    # metrics --------------------------------------------------------------------

    def ok_times(self, kind: str, key: str = "wall") -> list[float]:
        return [r[key] for r in self.records.get(kind, []) if r["ok"]]

    def e2e(self, raw_gib: float, setup_s: float, exact: dict, peak_rss: float) -> dict:
        ok = self.ledger.attempted - len(self.ledger.failures)
        return {
            "setup_s": setup_s,
            "encode_gib_s": raw_gib / median(self.ok_times("encode")),
            "encode_cpu_s_per_gib": median(self.ok_times("encode", "cpu")) / raw_gib,
            "decode_gib_s": raw_gib / median(self.ok_times("decode")),
            "verify_gib_s": raw_gib / median(self.ok_times("verify")),
            "ratio": exact["raw_bytes"] / exact["enc_bytes"],
            "size_vs_parquet": exact["disk_bytes"] / exact["input_disk_bytes"],
            "worker_peak_rss_mib": peak_rss,
            "ok_frac": ok / max(self.ledger.attempted, 1),
        }

    def per_layer(self, raw_gib: float, stages, exact: dict, l0: dict, session_s: float) -> dict:
        import eventlog
        import spans

        m: dict[str, float] = {"session.start_s": session_s, **l0, **exact["codec"]}
        m["write.mib"] = exact["disk_bytes"] / MIB
        m["write.s"] = median(self.ok_times("encode")) - median(self.ok_times("noop"))
        untraced = sum(median(self.ok_times(p)) for p in PHASES)
        traced = sum(median(self.ok_times(f"traced.{p}")) for p in PHASES)
        m["trace.overhead_frac"] = traced / untraced - 1

        def layer_cpu(rec, layer):
            return sum(s[4] for s in rec["worker"] if s[1] == layer)

        recs = {p: [r for r in self.records[f"traced.{p}"] if r["ok"]] for p in PHASES}

        def walls(phase, layer):
            return [(s[3] - s[2]) * 1000 for r in recs[phase] for s in r["worker"] if s[1] == layer]

        m["encode.encode_batch.cpu_s_per_gib"] = median(
            [layer_cpu(r, "encode.encode_batch") for r in recs["encode"]]) / raw_gib
        m["encode.encode_batch.p50_ms"] = pct(walls("encode", "encode.encode_batch"), 0.5)
        m["encode.encode_batch.p99_ms"] = pct(walls("encode", "encode.encode_batch"), 0.99)
        m["encode.decode_chunk_row.cpu_s_per_gib"] = median(
            [layer_cpu(r, "encode.decode_chunk_row") for r in recs["decode"]]) / raw_gib
        m["encode.decode_chunk_row.p99_ms"] = pct(walls("decode", "encode.decode_chunk_row"), 0.99)
        m["hashing.row_token_hashes.cpu_s_per_gib"] = median(
            [layer_cpu(r, "hashing.row_token_hashes") for r in recs["verify"]]) / raw_gib
        m["io.scan.cpu_s_per_gib"] = median(
            [layer_cpu(e, "io.scan") + layer_cpu(v, "io.scan")
             for e, v in zip(recs["encode"], recs["verify"])]) / raw_gib

        for p in PHASES:
            # the execution with the median wall time speaks for the phase, so
            # its layer times add up to the wall time it reports
            rec = sorted(recs[p], key=lambda r: r["wall"])[(len(recs[p]) - 1) // 2]
            stage_tasks = eventlog.group_tasks(stages, rec["tag"])
            tasks = {t.task_id: (t.launch, t.finish) for ts in stage_tasks.values() for t in ts}
            wall = rec["t1"] - rec["t0"]
            share = spans.attribute(rec["t0"], rec["t1"], rec["driver"], tasks, rec["worker"])
            m[f"phase.{p}.wall_s"] = wall
            m[f"phase.{p}.unexplained_s"] = share.pop(spans.UNEXPLAINED)
            m[f"phase.{p}.worker_rss_mib"] = rec["rss_mib"]
            for layer in LAYERS:
                m[f"phase.{p}.self.{layer}_s"] = share.pop(layer, 0.0)
            rec["other_layers"] = share
            m.update({f"phase.{p}.spark.{k}": v
                      for k, v in stage_metrics(stage_tasks, rec["worker"]).items()})
            if p == "encode":
                m["io.plan_s"] = sum(b - a for layer, a, b in rec["driver"]
                                     if layer in ("io.plan", "spark.plan"))
                first = stage_tasks[min(stage_tasks)] if stage_tasks else []
                runs = [t.finish - t.launch for t in first]
                m["io.tasks"] = len(first)
                m["io.task_skew"] = max(runs) / median(runs) if runs else float("nan")
        return m


def stage_metrics(stage_tasks, worker_spans) -> dict:
    """Spark task metrics of one phase execution, summed over its stages.
    ``boundary_s`` is executor run time minus Python span time, over the
    tasks that ran Python spans."""
    tasks = [t for ts in stage_tasks.values() for t in ts]
    py_time: dict[int, float] = {}
    for s in worker_spans:
        py_time[s[0]] = py_time.get(s[0], 0.0) + (s[3] - s[2])
    return {
        "boundary_s": sum(t.run_s - py_time[t.task_id] for t in tasks if t.task_id in py_time),
        "executor_run_s": sum(t.run_s for t in tasks),
        "executor_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_write_mib": sum(t.shuffle_write_bytes for t in tasks) / MIB,
        "shuffle_fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
        "spill_mib": sum(t.spill_bytes for t in tasks) / MIB,
        "peak_exec_mib": max((t.peak_exec_bytes for t in tasks), default=0) / MIB,
        "tasks": len(tasks),
    }


def load_summary(records: dict[str, list[dict]]) -> dict:
    """Per phase kind: the median of each load-context field."""
    out = {}
    for kind, recs in records.items():
        keys = recs[0]["load"].keys() if recs else ()
        out[kind] = {k: median([r["load"][k] for r in recs]) for k in keys}
    return out


def prepare_env() -> None:
    """Make the program and these modules importable here and in workers."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = procstat.process_start_time()

    prepare_env()
    try:
        import kernels
        import phases
        from parquet_to_arrow_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    import eventlog
    import fixture

    wl = WORKLOADS[args.workload]
    run = Run(args)

    f0 = time.time()
    cache = os.path.join(WORK, "fixtures")
    data, man = fixture.fixture(cache, args.seed, wl.files, wl.chunks_per_file, wl.avg_tokens)
    warm_data, _ = fixture.fixture(cache, args.seed, K, 1, wl.avg_tokens)
    fixture_s = time.time() - f0
    raw_gib = man["raw_bytes"] / GIB

    event_log = os.path.join(run.run_dir, "eventlog") if args.trace else None
    s0 = time.time()
    spark = get_spark(app=f"perfbench-{args.workload}", cores=K,
                      extra=spark_conf(run.run_dir, event_log))
    session_s = time.time() - s0
    try:
        ph = phases.Phases(spark, wl.keyed, KEYED_BUCKETS, CHUNK_ROWS)
        warm_out = os.path.join(run.run_dir, "warm")
        # set-up ends once every worker has imported the package and encoded
        run.ledger.attempt("setup.encode", lambda: ph.encode(warm_data, warm_out),
                           run.check_encode(warm_out, None if wl.keyed else K))
        setup_s = time.time() - t_proc - fixture_s
        run.expected_chunks = run.keyed_chunks(spark, data) if wl.keyed else man["chunks"]
        l0 = kernels.probe(os.path.join(data, man["files"][0]["name"])) if args.trace else {}
        run.measure(spark, ph, data, man, traced=bool(args.trace))
        peak_rss = procstat.worker_peak_rss_mib()
    finally:
        stop_spark(spark)

    exact = encoded_totals(run.out) if os.path.isdir(run.out) else None
    if exact:
        exact["input_disk_bytes"] = sum(f["size"] for f in man["files"])
    correct = not run.ledger.failures and exact is not None
    if args.trace:
        metrics = {}
        if correct:
            stages = eventlog.parse(eventlog.find_log(event_log))
            metrics = run.per_layer(raw_gib, stages, exact, l0, session_s)
        units = per_layer_units()
    else:
        metrics = run.e2e(raw_gib, setup_s, exact, peak_rss) if exact else {}
        units = E2E_UNITS
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "k": K, "fixture": man["key"],
        "fixture_s": fixture_s, "session_s": session_s, "raw_bytes": man["raw_bytes"],
        "failures": run.ledger.failures, "load": load_summary(run.records),
        "phases": {kind: [{k: v for k, v in r.items() if k not in ("result", "worker", "driver")}
                          for r in recs] for kind, recs in run.records.items()},
        "exact": exact, "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", os.path.basename(run.run_dir) + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    # keep the event log and the results; the bulky outputs would pile up
    # over a series of seeds
    for sub in ("encoded", "warm", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(run.run_dir, sub), ignore_errors=True)
    print(json.dumps({"context": {k: detail[k] for k in ("nproc", "k", "fixture", "load")},
                      "failures": run.ledger.failures[:5]}))
    values = {name: metrics.get(name, float("nan")) for name in units}
    # a metric the run could not measure makes the run incorrect
    correct = correct and all(math.isfinite(v) for v in values.values())
    print(json.dumps({
        "correct": bool(correct),
        "attempted": run.ledger.attempted,
        "failed": len(run.ledger.failures),
        "metrics": {name: {"value": v if math.isfinite(v) else 0.0, "unit": units[name]}
                    for name, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
