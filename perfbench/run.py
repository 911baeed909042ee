#!/usr/bin/env python3
"""Closed-loop benchmark of bids2table_spark: ingest and read-back.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_encode --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload scan_lookup --seed 1 --seconds 12 --trace 1

One client drives one workload on ``local[N]`` (N = the first CORES usable
cores); the whole process tree -- this driver, the Spark JVM and its Python
workers -- is pinned to those N cores.  The input is a synthetic transcript
table generated from ``--seed``; the program under test only ever sees that
table.  Every op's output is checked against the input.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics are
the end-to-end ones, measured untraced; with ``--trace 1`` they are the
per-layer ones from a traced run (``layers.py``).  The exit code is 1 when an
output check failed.  See ``perfbench/README.md`` for the metric definitions
and the steadiness controls.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

CORES = 4
# Spark local mode keeps the executor inside the driver JVM; the session's
# own default (48g) does not fit a 15 GB host.
DRIVER_MEM = "2g"
# ~465k turns.  On a 4-core host an encode op (stats pass + encode_job) costs
# about 2.0 s fixed plus 5.3 us per turn (sizes of 117k, 465k and 697k turns
# interleaved in one JVM), so per-turn work is about 55% of the op here.
N_CONV = 16000
STATS_FRACTION = 0.05
# Nominal wall time of one bulk_encode op or one scan_lookup cycle on a
# 4-core host; a run measures round(--seconds / OP_SECONDS) of them.
OP_SECONDS = 10.0
DECODES_PER_CYCLE = 2
POINTS_PER_CYCLE = 5
RANGES_PER_CYCLE = 4
RANGE_DAYS = 1
N_KEYS = 16
N_RANGES = 8
FP_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts", "pt")


def configure_process(work: str) -> int:
    """Pin the process tree and fix the environment every child inherits.

    Must run before the first Spark import starts a JVM.  Returns N."""
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    os.sched_setaffinity(0, cpus)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.pop("B2T_TIMING", None)  # phase prints would perturb timing
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(len(cpus))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}' "
        "pyspark-shell"
    )
    sys.path.insert(0, ROOT)
    return len(cpus)


def start_session(n: int):
    from bids2table_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ timing


def _cpu_ticks(cpus) -> tuple[int, int]:
    """(busy, steal) clock ticks summed over ``cpus``, from /proc/stat."""
    names = {f"cpu{c}" for c in cpus}
    busy = steal = 0
    with open("/proc/stat") as fh:
        for line in fh:
            f = line.split()
            if f and f[0] in names:
                user, nice, system, _idle, _iowait, irq, softirq, stolen = map(int, f[1:9])
                busy += user + nice + system + irq + softirq
                steal += stolen
    return busy, steal


class Stopwatch:
    """Wall time of an interval.

    ``steal_share`` is the share of the pinned CPUs' clock ticks that the
    hypervisor stole over the interval (/proc/stat); runs print it as a
    diagnostic next to the figures, it does not change ``seconds``."""

    def __init__(self) -> None:
        self.cpus = os.sched_getaffinity(0)
        self.t0, self.c0 = time.perf_counter(), _cpu_ticks(self.cpus)
        self.seconds = self.steal_share = 0.0

    def stop(self) -> float:
        self.seconds = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, _cpu_ticks(self.cpus)))
        self.steal_share = steal / (busy + steal) if busy + steal else 0.0
        return self.seconds


def host_probe_s() -> float:
    """Median of 3 timings of a fixed single-core Python loop: a diagnostic
    of how fast the host runs at the moment, printed with the figures."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for k in range(1_000_000):
            acc += k
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ----------------------------------------------------------------- tracing


class NullTracer:
    """Tracing off: spans cost nothing."""

    @contextlib.contextmanager
    def span(self, name: str, op_id=None):
        yield {}


class Tracer:
    """In-memory spans around calls into the program's public functions.

    Each span runs under its own Spark job group, so the jobs and tasks a
    call scheduled are counted at the same boundary via ``statusTracker``.
    Spans are written out once, by ``dump``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id=None):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op_id": op_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            # job-start events reach the status store through the listener
            # bus; drain it so the counts below are exact
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"perfbench-{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def total(self, rec: dict, key: str) -> int:
        """``key`` ('jobs' or 'tasks') of a span including its children."""
        return rec[key] + sum(
            self.total(s, key) for s in self.spans if s["parent"] == rec["id"]
        )

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **extra}, fh, indent=1)


# ------------------------------------------------------------------ checks


def _row_hash():
    from pyspark.sql import functions as F

    # shifted so the sum over ~10^6 rows cannot overflow a long
    return F.shiftright(F.xxhash64(*FP_COLS), 24)


def fingerprint(df) -> tuple[int, int]:
    """Order-independent (row count, content hash) of a transcript frame."""
    from pyspark.sql import functions as F

    row = df.agg(F.count("*"), F.coalesce(F.sum(_row_hash()), F.lit(0))).collect()[0]
    return int(row[0]), int(row[1])


def filtered_fingerprint(df, pred) -> tuple[int, int, int]:
    """(rows scanned, rows the exact predicate keeps, their content hash)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*"),
        F.count(F.when(pred, 1)),
        F.coalesce(F.sum(F.when(pred, _row_hash())), F.lit(0)),
    ).collect()[0]
    return int(row[0]), int(row[1]), int(row[2])


def tree_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    )


def worker_hwm_mb() -> list[float]:
    """VmHWM of each Python worker process (``pyspark.daemon`` and the
    workers it forks) descended from this process."""
    parent, cmd = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd[int(pid)] = fh.read()
        except OSError:  # the process exited while we looked
            continue
    me, hwm = os.getpid(), []
    for pid, line in cmd.items():
        if b"pyspark.daemon" not in line:
            continue
        up = parent.get(pid)
        while up not in (None, 0, 1, me):
            up = parent.get(up)
        if up != me:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for field in fh:
                    if field.startswith("VmHWM:"):
                        hwm.append(int(field.split()[1]) / 1024.0)
        except OSError:
            continue
    return sorted(hwm)


# ---------------------------------------------------------------- the input


class Transcripts:
    """The seeded transcript table, cached, with the expected answers of
    every lookup the workloads may issue."""

    def __init__(self, spark, seed: int, n_conv: int):
        import pandas as pd
        from pyspark.sql import functions as F

        from bids2table_spark.synth import synth_transcripts

        df = synth_transcripts(spark, n_conv=n_conv, seed=seed)
        # Real transcripts rarely repeat a turn's text; the generator repeats
        # about 60% of its texts, and at that share the selector picks dict
        # for ``text`` on most partitions.  A per-turn suffix makes every text
        # distinct, which puts FSST on nearly every partition (README.md).
        suffix = F.lower(F.hex(F.xxhash64(F.lit(seed), "conv_id", "turn_idx")))
        self.df = df.withColumn("text", F.concat("text", F.lit(" #"), suffix)).cache()
        ts = F.unix_seconds(F.col("ts"))
        row = self.df.agg(
            F.count("*"), F.coalesce(F.sum(_row_hash()), F.lit(0)), F.min(ts), F.max(ts)
        ).collect()[0]
        self.n_rows, self.hash, t_min, t_max = (int(v) for v in row)
        rng = random.Random(seed)
        self.keys = [f"conv-{rng.randrange(n_conv):012d}" for _ in range(N_KEYS)]
        # windows inside the table's time span, so every range scan hits data
        width = RANGE_DAYS * 86400
        self.ranges = []
        for _ in range(N_RANGES):
            lo = t_min + rng.randrange(max(t_max - t_min - width, 1))
            self.ranges.append((lo, lo + width))
        self.key_preds = [F.col("conv_id") == k for k in self.keys]
        self.range_preds = [ts.between(lo, hi) for lo, hi in self.ranges]
        self.range_bounds = [
            (pd.Timestamp(lo, unit="s"), pd.Timestamp(hi, unit="s"))
            for lo, hi in self.ranges
        ]
        preds = self.key_preds + self.range_preds
        aggs = []
        for p in preds:
            aggs += [F.count(F.when(p, 1)), F.coalesce(F.sum(F.when(p, F.col("_h"))), F.lit(0))]
        row = self.df.withColumn("_h", _row_hash()).agg(*aggs).collect()[0]
        want = [(int(row[2 * i]), int(row[2 * i + 1])) for i in range(len(preds))]
        self.key_want, self.range_want = want[:N_KEYS], want[N_KEYS:]


# --------------------------------------------------------------- workloads


class Workload:
    """Shared bookkeeping: op checks, latency samples, fault injection.

    ``fault`` is set only by the self-test: ``"corrupt_value"`` rewrites one
    decoded value, ``"drop_block"`` deletes one committed block file."""

    name = ""
    primary = ""
    warmup_ops = 1  # discarded ops (or cycles), charged to setup_s

    def __init__(self, spark, seed: int, n_conv: int, work: str, tracer=None):
        self.spark, self.seed, self.n_conv, self.work = spark, seed, n_conv, work
        self.tr = tracer or NullTracer()
        self.fault: str | None = None
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.steal_shares: list[float] = []
        self.turns = 0
        self.turn_seconds = 0.0
        self.disk_bytes = 0
        self.out = ""

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def sample(self, name: str, watch: Stopwatch, timed: bool) -> None:
        if timed:
            self.samples.setdefault(name, []).append(watch.seconds)
            self.steal_shares.append(watch.steal_share)

    def decode(self, out: str, **kw):
        from pyspark.sql import functions as F

        from bids2table_spark.manifest import decode_job

        with self.tr.span("manifest.decode_job"):
            df = decode_job(self.spark, out, **kw)
        if self.fault == "corrupt_value":
            first = (F.col("conv_id") == self.table.keys[0]) & (F.col("turn_idx") == 0)
            df = df.withColumn("text", F.when(first, F.lit("<corrupt>")).otherwise(F.col("text")))
        return df

    def drop_one_block(self, out: str) -> None:
        files = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(out, "blocks"))
            for f in fs
            if f.endswith(".parquet")
        )
        os.remove(files[0])

    def encode(self, out: str, run_id: str) -> tuple[dict, Stopwatch]:
        from bids2table_spark.manifest import encode_job
        from bids2table_spark.stats import plan_from_stats

        watch = Stopwatch()
        with self.tr.span("stats.plan_from_stats"):
            plan = plan_from_stats(self.table.df, fraction=STATS_FRACTION)
        with self.tr.span("manifest.encode_job"):
            summary = encode_job(self.spark, self.table.df, out, run_id=run_id, plan=plan)
        watch.stop()
        return summary, watch

    def lookup(self, kind: str, idx: int, timed: bool, out: str = "") -> tuple[int, int]:
        """One checked point (``kind="point"``) or ``ts`` range lookup on
        ``out`` (default: the workload's table); returns (rows decoded, rows
        the exact predicate keeps)."""
        t = self.table
        if kind == "point":
            k = t.keys[idx % N_KEYS]
            pred, want, kw = t.key_preds[idx % N_KEYS], t.key_want[idx % N_KEYS], {"key_range": (k, k)}
        else:
            j = idx % N_RANGES
            pred, want, kw = t.range_preds[j], t.range_want[j], {"col_ranges": {"ts": t.range_bounds[j]}}
        watch = Stopwatch()
        scanned, kept, h = filtered_fingerprint(self.decode(out or self.out, **kw), pred)
        watch.stop()
        self.sample(kind, watch, timed)
        self.check((kept, h) == want, f"{kind} lookup {idx}: got {(kept, h)}, want {want}")
        return scanned, kept

    def ref_bytes(self) -> int:
        ref = os.path.join(self.work, "ref")
        self.table.df.write.mode("overwrite").option("compression", "zstd").parquet(ref)
        return tree_bytes(ref)


class BulkEncode(Workload):
    """Op: stats pass + full encode of the table into a fresh out_dir, then
    RANGES_PER_CYCLE range scans of the fresh table (one in the warm-up),
    each timed on its own."""

    name = "bulk_encode"
    primary = "encode"

    def setup(self) -> None:
        self.table = Transcripts(self.spark, self.seed, self.n_conv)

    def op(self, i: int, timed: bool) -> None:
        from pyspark.sql import functions as F

        from bids2table_spark.manifest import committed_blocks

        self.out = os.path.join(self.work, f"enc{i}")
        summary, watch = self.encode(self.out, run_id=f"op{i}")
        self.sample("encode", watch, timed)
        if self.fault == "drop_block":
            self.drop_one_block(self.out)
        col_bytes = (
            committed_blocks(self.spark, self.out)
            .groupBy("column").agg(F.sum("enc_bytes").alias("b"))
            .agg(F.sum("b")).collect()[0][0]
        )
        self.check(
            summary["n_rows"] == self.table.n_rows
            and summary["groups_failed"] == 0
            and col_bytes == summary["enc_bytes"],
            f"encode {i}: summary {summary}, per-column enc_bytes {col_bytes}",
        )
        if timed:
            self.turns += summary["n_rows"]
            self.turn_seconds += watch.seconds
        self.disk_bytes = tree_bytes(os.path.join(self.out, "blocks"))
        for j in range(RANGES_PER_CYCLE if timed else 1):
            self.lookup("range", i * RANGES_PER_CYCLE + j, timed)
        shutil.rmtree(self.out)


class ScanLookup(Workload):
    """Read-only cycle over a table encoded during setup: DECODES_PER_CYCLE
    full checksum-verified decodes, POINTS_PER_CYCLE key lookups and
    RANGES_PER_CYCLE ``ts`` range scans (one lookup of each kind in the
    warm-up)."""

    name = "scan_lookup"
    primary = "point"

    def setup(self) -> None:
        self.table = Transcripts(self.spark, self.seed, self.n_conv)
        self.out = os.path.join(self.work, "table")
        summary, _ = self.encode(self.out, run_id="setup")
        self.check(
            summary["n_rows"] == self.table.n_rows and summary["groups_failed"] == 0,
            f"setup encode: {summary}",
        )
        self.disk_bytes = tree_bytes(os.path.join(self.out, "blocks"))
        if self.fault == "drop_block":
            self.drop_one_block(self.out)

    def op(self, i: int, timed: bool) -> None:
        for _ in range(DECODES_PER_CYCLE):
            watch = Stopwatch()
            got = fingerprint(self.decode(self.out, verify=True))
            watch.stop()
            self.sample("decode", watch, timed)
            self.check(got == (self.table.n_rows, self.table.hash), f"full decode {i}: {got}")
            if timed:
                self.turns += got[0]
                self.turn_seconds += watch.seconds
        for j in range(POINTS_PER_CYCLE if timed else 1):
            self.lookup("point", i * POINTS_PER_CYCLE + j, timed)
        for j in range(RANGES_PER_CYCLE if timed else 1):
            self.lookup("range", i * RANGES_PER_CYCLE + j, timed)


WORKLOADS = {w.name: w for w in (BulkEncode, ScanLookup)}


def n_ops(seconds: float) -> int:
    """Ops that fill ``seconds`` at the workload's nominal op time.  The
    count is fixed by ``seconds`` alone, so every run -- and both sides of a
    comparison -- measures the same ops, however fast the host is today."""
    return max(1, round(seconds / OP_SECONDS))


def measure(wl: Workload, seconds: float) -> float:
    """Closed loop: issue the next op only after the previous one returned.
    Returns the highest worker VmHWM seen, read after every op (a worker
    that exits takes its VmHWM with it)."""
    peak = 0.0
    for i in range(wl.warmup_ops, wl.warmup_ops + n_ops(seconds)):
        wl.op(i, timed=True)
        peak = max([peak, *worker_hwm_mb()])
    return peak


def end_to_end(wl: Workload, setup_s: float, peak_rss: float) -> dict:
    ref = wl.ref_bytes()
    med = statistics.median
    metrics = {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (wl.turns / wl.turn_seconds, "turns/s"),
        "op_p50_s": (med(wl.samples[wl.primary]), "s"),
        "range_p50_s": (med(wl.samples["range"]), "s"),
        "disk_bytes_per_turn": (wl.disk_bytes / wl.table.n_rows, "B/turn"),
        "vs_ref_ratio": (wl.disk_bytes / ref, "ratio"),
        "peak_worker_rss_mb": (peak_rss, "MB"),
        "ops_ok_frac": (1.0 - wl.failed / wl.attempted, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        n_conv: int = N_CONV, setup_watch: Stopwatch | None = None,
        session_start_s: float = 0.0, fault: str | None = None) -> dict:
    """One benchmark run on an existing session; returns the result object."""
    setup_watch = setup_watch or Stopwatch()
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=work)
    tracer = Tracer(spark) if trace else None
    warm_s = 0.0
    if trace:
        from layers import warm_session

        warm_s = warm_session(spark, work)
    wl = WORKLOADS[workload](spark, seed, n_conv, work, tracer)
    wl.fault = fault
    phases = {"session": session_start_s}
    t0 = time.perf_counter()
    wl.setup()
    phases["input"] = time.perf_counter() - t0
    for i in range(wl.warmup_ops):
        wl.op(i, timed=False)
    setup_s = setup_watch.stop()
    phases["warmup"] = time.perf_counter() - t0 - phases["input"]
    if trace:
        from layers import layer_metrics

        metrics = layer_metrics(wl, seconds, session_start_s, warm_s, OUT_ROOT)
    else:
        metrics = end_to_end(wl, setup_s, measure(wl, seconds))
    wl.table.df.unpersist()
    print("setup phases (s):", {k: round(v, 2) for k, v in phases.items()})
    print("op samples (s):", {k: [round(x, 3) for x in v] for k, v in wl.samples.items()})
    print(f"steal share: setup {setup_watch.steal_share:.3f}, timed ops median "
          f"{statistics.median(wl.steal_shares or [0.0]):.3f}")
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    setup_watch = Stopwatch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    try:
        n = configure_process(work)
        import bids2table_spark  # noqa: F401  fail fast without the program

        print(f"host probe (s): {host_probe_s():.4f}")

        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        t0 = time.perf_counter()
        spark = start_session(n)
        session_start_s = time.perf_counter() - t0
        try:
            result = run(
                spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
                setup_watch=setup_watch, session_start_s=session_start_s,
            )
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)  # only if no other run is using it
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
