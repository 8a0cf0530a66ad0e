"""The benchmark's workloads; ``run.py`` runs one per process.

Each workload builds its inputs from the seed, measures for the given
number of seconds, checks the program's outputs against values the
benchmark computes itself, and writes a result JSON. ``README.md`` in this
directory explains each workload and metric.

Spans are recorded around calls into the package's public functions, from
these files only; nothing is traced inside the package.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

import numpy as np

import fixture
import keyspace
import loadgen

HERE = os.path.dirname(os.path.abspath(__file__))

# live_ingest: the offered load. The query runs on a fixed TRIGGER_S
# processing-time trigger and the generator's file times sit half a file
# interval after each trigger boundary, so every batch holds exactly
# TRIGGER_S / FILE_INTERVAL_S files whatever the previous batch cost. (With
# back-to-back triggers a slow batch makes the next one bigger, and runs of
# two or three batches scatter by the phase.) A run of TRIGGER_S seconds is
# one batch; with two 4 s batches the medians scattered twice as wide, as the
# second batch's start waits on the first.
RATE = 2000
FILE_INTERVAL_S = 0.5
TRIGGER_S = 8
WARM_BATCH_ID = 1_000_000
# Isolated calls of the traced live_ingest run, on one captured batch
# (a backlog-sized batch would not fit the run's time budget).
ISO_EVENTS = 10_000
# Band for HLL reads: the store's hll_sketch_agg uses the default lgConfigK=12
# (RSE 1.63%); the repository's approx-key gates use the same 5% band.
HLL_BAND = 0.05
HEAVY_HITTER_PHI = 0.0075
# catalog_batch: one key per catalog module (operators.metrics for reference
# parity, relational, text, dedup, similarity, classifier and
# streaming.stateful through the replay harness), weighted to the iterative
# loops and eager pins; sized so a cold pass fits one run.
CATALOG_KEYS = [
    "w2_uniques_per_experiment_variant_minute",
    "q3_shipping_priority",
    "text_tfidf_top_terms",
    "dedup_pagerank_centrality",
    "kmeans_exact_centroids",
    "quality_perceptron_model",
    "stream_stateful_uniques_per_variant",
]
READS = [
    "visits",
    "uniques_minute",
    "uniques_variant",
    "uniques_variant_exact",
    "overlap",
    "heavy_hitters",
]

END_TO_END = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ops_per_s": "1/s",
    "setup_s": "s",
}
PER_LAYER = {
    "session.first_start_s": "s",
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "batch.n": "count",
    "batch.rows_p50": "count",
    "batch.trigger_s": "s",
    "batch.add_s": "s",
    "batch.planning_s": "s",
    "batch.offsets_s": "s",
    "batch.wal_s": "s",
    "gen.late_s": "s",
    "source.pending_files": "count",
    "source.scans_per_batch": "ratio",
    "parse.rows_in": "count",
    "parse.rows_dropped": "count",
    "sink.redis_s": "s",
    "sink.store_s": "s",
    "sink.redis_cmds_per_event": "count",
    "keyspace.busy_s": "s",
    "iso.parse_s": "s",
    "iso.commands_s": "s",
    "iso.send_s": "s",
    "iso.keyspace_s": "s",
    "iso.store_s": "s",
    "scale.iso_1core_ratio": "ratio",
    **{f"read.{r}_s": "s" for r in READS},
    "store.files": "count",
    "store.mb": "MB",
    **{f"{m}.{k}": u for k in CATALOG_KEYS for m, u in
       (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))},
}


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def minute_key(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime("%Y_%m_%dT%H_%M")


class Run:
    """One run's measurements: spans (traced runs only), checks, counts."""

    def __init__(self, trace: bool, log_prefix: str):
        self.trace = trace
        self.log_prefix = log_prefix
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.checks: list[dict] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        t0 = time.monotonic()
        try:
            yield
        finally:
            if self.trace:
                self.spans.append((name, t0, time.monotonic(), parent))

    def span_p50(self, name: str) -> float:
        return pct([e - s for n, s, e, _ in self.spans if n == name], 50)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr, flush=True)

    def operation(self, fn):
        """Run one workload operation; an exception counts as a failed
        operation, is logged and is not retried."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:  # noqa: BLE001 - a failed operation is a measured outcome
            self.failed += 1
            traceback.print_exc()
            return False

    def write_spans(self) -> None:
        if not self.trace:
            return
        with open(self.log_prefix + "-spans.jsonl", "w") as f:
            for name, start, end, parent in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end, "parent": parent}) + "\n")


# --- session ------------------------------------------------------------------
def start_session(run: Run, reps: int = 3):
    """Start the engine session ``reps`` times (the first also launches the
    JVM) and report the median as the session part of set-up."""
    from redis_dataflow_realtime_analytics_spark.session import get_spark

    times, spark = [], None
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.monotonic()
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
        times.append(time.monotonic() - t0)
    run.layer["session.first_start_s"] = times[0]
    run.layer["session.start_s"] = statistics.median(times)
    return spark, statistics.median(times)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


# --- helper processes ------------------------------------------------------------
class KeyspaceServer:
    def __init__(self, work: str):
        port_file = os.path.join(work, "keyspace.port")
        self.proc = subprocess.Popen([sys.executable, os.path.join(HERE, "keyspace.py"), port_file])
        deadline = time.monotonic() + 20
        while not os.path.exists(port_file):
            if time.monotonic() > deadline or self.proc.poll() is not None:
                self.stop()
                raise RuntimeError("keyspace server did not start")
            time.sleep(0.02)
        with open(port_file) as f:
            self.port = int(f.read())

    def client_factory(self):
        return functools.partial(keyspace.KeyspaceClient, "127.0.0.1", self.port)

    def control(self, request: str) -> dict:
        return keyspace.control(self.port, request)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait(timeout=10)


def text_frame(spark, path: str):
    """Wire lines → the normalized columns the sinks consume (the live
    query's own chain: parse, then rename uid→user_id, timestamp→ts)."""
    from redis_dataflow_realtime_analytics_spark.sources import parse_wire_events

    return normalize(parse_wire_events(spark.read.text(path)))


def normalize(parsed):
    return parsed.withColumnRenamed("uid", "user_id").withColumnRenamed("timestamp", "ts")


def write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


# --- expected values ------------------------------------------------------------
class Expected:
    """What the program should produce, from the benchmark's own events."""

    def __init__(self):
        self.n = 0
        self.visits: Counter = Counter()  # minute epoch -> events
        self.minute_users: dict[int, set] = defaultdict(set)
        self.variant_users: dict[str, set] = defaultdict(set)
        self.user_counts: Counter = Counter()
        self.keys: dict[str, set] = defaultdict(set)  # "S:key"/"P:key" -> members
        self.counters: Counter = Counter()

    def add(self, valid) -> None:
        for uid, exp, var, sec, _ in valid:
            minute = sec - sec % 60
            mk = minute_key(sec)
            self.n += 1
            self.visits[minute] += 1
            self.minute_users[minute].add(uid)
            self.variant_users[var].add(uid)
            self.user_counts[uid] += 1
            self.counters["visitCounter_" + mk] += 1
            k = self.keys
            k[f"P:evcounter_e_{exp}_v_{var}_{mk}"].add(uid)
            for pre in ("P:hll", "S:set"):
                k[f"{pre}_var_{var}"].add(uid)
                k[f"{pre}_exp_{exp}"].add(uid)
                k[f"{pre}_experiments_experiments_{mk}"].add(exp)
                k[f"{pre}_variants_variants_{mk}"].add(var)
                k[f"{pre}_dthr_{mk}"].add(uid)

    def check_keyspace(self, run: Run, dump: dict) -> None:
        run.check("keyspace.counters", dump["counters"] == dict(self.counters),
                  f"{len(dump['counters'])} counters vs {len(self.counters)} expected")
        want = {k: len(v) for k, v in self.keys.items()}
        diff = [k for k in want.keys() | dump["cards"].keys() if want.get(k) != dump["cards"].get(k)]
        run.check("keyspace.cardinalities", not diff, f"{len(diff)} keys differ, e.g. {diff[:3]}")

    def check_visits(self, run: Run, rows) -> None:
        got = {int(r["m"]): int(r["visits"]) for r in rows}
        bad = [m for m in got.keys() | self.visits.keys() if got.get(m) != self.visits.get(m)]
        run.check("read_visits", not bad, f"{len(bad)} of {len(self.visits)} minutes differ")

    def check_exact_variants(self, run: Run, rows) -> None:
        got = {r["variant"]: int(r["unique_users"]) for r in rows}
        want = {v: len(u) for v, u in self.variant_users.items()}
        run.check("read_uniques_per_variant_exact", got == want, f"{got} vs {want}")

    def check_band(self, run: Run, name: str, got: dict, want: dict) -> None:
        worst = max((abs(got.get(k, 0) - w) / w for k, w in want.items()), default=1.0)
        run.check(name, got.keys() == want.keys() and worst <= HLL_BAND,
                  f"{len(got)} groups vs {len(want)}, worst relative error {worst:.4f}")


def read_calls(spark, store: str):
    """The dashboard's read mix; each ends in ``collect()``."""
    from pyspark.sql import functions as F

    from redis_dataflow_realtime_analytics_spark.operators import timeseries
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as P

    minute = lambda df: df.select(F.unix_timestamp("minute").alias("m"), *df.columns[1:])  # noqa: E731
    return {
        "visits": lambda: minute(P.read_visits(spark, store)).collect(),
        "uniques_minute": lambda: minute(P.read_uniques_per_minute(spark, store)).collect(),
        "uniques_variant": lambda: P.read_uniques_per_variant(spark, store).collect(),
        "uniques_variant_exact": lambda: P.read_uniques_per_variant_exact(spark, store).collect(),
        "overlap": lambda: timeseries.variant_overlap(
            spark.read.parquet(f"{store}/user_set_variant")).collect(),
        "heavy_hitters": lambda: P.read_heavy_hitters(spark, store, HEAVY_HITTER_PHI).collect(),
    }


def check_reads(run: Run, exp: Expected, results: dict) -> None:
    """Check the last result of each read type that ran."""
    if "visits" in results:
        exp.check_visits(run, results["visits"])
    if "uniques_minute" in results:
        exp.check_band(run, "read_uniques_per_minute",
                       {int(r["m"]): r["unique_users"] for r in results["uniques_minute"]},
                       {m: len(u) for m, u in exp.minute_users.items()})
    if "uniques_variant" in results:
        exp.check_band(run, "read_uniques_per_variant",
                       {r["variant"]: r["unique_users"] for r in results["uniques_variant"]},
                       {v: len(u) for v, u in exp.variant_users.items()})
    if "uniques_variant_exact" in results:
        exp.check_exact_variants(run, results["uniques_variant_exact"])
    if "overlap" in results:
        vu = exp.variant_users
        want = {(a, b): len(vu[a] & vu[b]) for a in vu for b in vu if a < b and vu[a] & vu[b]}
        got = {(r["variant_a"], r["variant_b"]): r["overlap"] for r in results["overlap"]}
        run.check("variant_overlap", got == want, f"{got} vs {want}")
    if "heavy_hitters" in results:
        got = {str(r["user_id"]): r["est_count"] for r in results["heavy_hitters"]}
        true_hh = {u for u, c in exp.user_counts.items() if c >= HEAVY_HITTER_PHI * exp.n}
        under = [u for u, est in got.items() if est < exp.user_counts.get(u, 0)]
        run.check("read_heavy_hitters", true_hh <= got.keys() and not under,
                  f"{len(true_hh - got.keys())} true heavy hitters missing, {len(under)} underestimates")


# --- live_ingest ------------------------------------------------------------------
def progress_listener(events: list):
    """A ``StreamingQueryListener`` appending each progress to ``events``
    (traced runs only)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def consumed_files(checkpoint: str) -> dict[str, int]:
    """File name → id of the batch that read it, from the file source's
    metadata log in the query checkpoint."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def live_ingest(run: Run, spark, seed: int, seconds: float, work: str) -> float:
    from redis_dataflow_realtime_analytics_spark.sources import parse_wire_events
    from redis_dataflow_realtime_analytics_spark.streaming.pipeline import SketchStoreWriter
    from redis_dataflow_realtime_analytics_spark.streaming.redis_sink import RedisMetricsSink

    t_setup = time.monotonic()
    server = KeyspaceServer(work)
    gen = None
    try:
        redis_sink = RedisMetricsSink(client_factory=server.client_factory())
        store = os.path.join(work, "store")
        store_sink = SketchStoreWriter(store)

        # Warm both sinks and the dashboard reads on one earlier batch; its
        # store partition stays, its keyspace commands are flushed.
        warm_lines, warm_valid = loadgen.file_events(seed, 1_000_000, 2 * RATE, 2.0)
        write_lines(os.path.join(work, "warm", "part.json"), warm_lines)
        warm = text_frame(spark, os.path.join(work, "warm"))
        redis_sink(warm, WARM_BATCH_ID)
        store_sink(warm, WARM_BATCH_ID)
        reads = read_calls(spark, store)
        for name in ("visits", "uniques_minute"):
            reads[name]()
        server.control("FLUSH")

        watch, stage = os.path.join(work, "in"), os.path.join(work, "stage")
        ckpt = os.path.join(work, "ckpt")
        os.makedirs(watch)
        os.makedirs(stage)
        progress: list = []
        if run.trace:
            spark.streams.addListener(progress_listener(progress))
        events = normalize(parse_wire_events(spark.readStream.format("text").load(watch)))
        done: dict[int, float] = {}

        def on_batch(batch_df, batch_id: int) -> None:
            with run.span("sink.redis", f"batch{batch_id}"):
                redis_sink(batch_df, batch_id)
            with run.span("sink.store", f"batch{batch_id}"):
                store_sink(batch_df, batch_id)
            done[batch_id] = time.monotonic()

        query = (
            events.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{TRIGGER_S} seconds")
            .start()
        )
        setup_s = time.monotonic() - t_setup

        gen_log = os.path.join(work, "gen.jsonl")
        # Spark fires processing-time triggers at wall-clock multiples of the
        # interval; file j is due at t0 + (j+1) * FILE_INTERVAL_S (monotonic)
        boundary = (time.time() // TRIGGER_S + 1) * TRIGGER_S
        t0 = boundary - (time.time() - time.monotonic()) - FILE_INTERVAL_S / 2
        gen = subprocess.Popen([
            sys.executable, os.path.join(HERE, "loadgen.py"), "--dir", watch, "--stage", stage,
            "--log", gen_log, "--seed", str(seed), "--rate", str(RATE),
            "--interval", str(FILE_INTERVAL_S), "--seconds", str(seconds),
            "--t0", repr(t0),
        ])

        rc = gen.wait(timeout=TRIGGER_S + seconds + 60)
        if rc != 0:
            raise RuntimeError(f"load generator exited with {rc}")
        query.processAllAvailable()
        query.stop()

        files = [json.loads(line) for line in open(gen_log)]
        batch_of = consumed_files(ckpt)
        run.attempted += len(files)
        missing = [f["file"] for f in files if f["file"] not in batch_of]
        run.failed += len(missing)
        run.check("all files consumed", not missing, f"{len(missing)} files never consumed")

        exp, exp_store = Expected(), Expected()
        exp_store.add(warm_valid)
        valid_of, lines_of = Counter(), Counter()
        fresh = []  # per event: scheduled creation → return of the batch that committed it
        for j, f in enumerate(files):
            _, valid = loadgen.file_events(seed, j, f["lines"], FILE_INTERVAL_S)
            exp.add(valid)
            exp_store.add(valid)
            b = batch_of.get(f["file"])
            valid_of[b] += len(valid)
            lines_of[b] += f["lines"]
            if b is None:
                continue
            created = f["due"] - FILE_INTERVAL_S * (1 - np.array([v[4] for v in valid]) / f["lines"])
            fresh.extend((done[b] - created).tolist())
        lines = sum(f["lines"] for f in files)
        malformed = sum(f["malformed"] for f in files)

        # committed events per wall second, from the schedule start to the
        # return of the batch that committed the last event
        committed = sum(valid_of[b] for b in done)
        run.e2e.update({
            "latency_p50_s": pct(fresh, 50),
            "latency_p90_s": pct(fresh, 90),
            "ops_per_s": committed / (max(done.values()) - t0),
        })
        run.check("freshness samples", len(fresh) >= 1000, f"{len(fresh)} events in the window")

        stats = server.control("STATS")
        dump = server.control("DUMP")
        exp.check_keyspace(run, dump)
        kept = sum(dump["counters"].values())
        run.check("parse drops = malformed lines", lines - kept == malformed,
                  f"{lines - kept} lines dropped, {malformed} malformed injected")

        # the whole dashboard mix once on the final store, then check it
        results = {}
        for name, fn in reads.items():
            with run.span(f"read.{name}", "final"):
                run.operation(lambda: results.__setitem__(name, fn()))
        check_reads(run, exp_store, results)

        if run.trace:
            sink_s = sum(e - s for n, s, e, _ in run.spans if n == "sink.redis")
            run.check("keyspace busy is a minor share of the redis sink",
                      stats["busy_s"] < 0.5 * sink_s, f"{stats['busy_s']:.3f} s of {sink_s:.3f} s")
            dur = lambda k: pct([p.durationMs.get(k, 0) / 1000 for p in progress], 50)  # noqa: E731
            pending = []
            for b, t in done.items():
                written = sum(1 for f in files if f["written"] <= t)
                consumed = sum(1 for bb in batch_of.values() if bb <= b)
                pending.append(written - consumed)
            run.layer.update({
                "batch.n": len(done),
                "batch.rows_p50": pct([lines_of[b] for b in done], 50),
                "batch.trigger_s": dur("triggerExecution"),
                "batch.add_s": dur("addBatch"),
                "batch.planning_s": dur("queryPlanning"),
                "batch.offsets_s": pct([sum(p.durationMs.get(k, 0) for k in
                                            ("latestOffset", "getBatch", "commitOffsets")) / 1000
                                        for p in progress], 50),
                "batch.wal_s": dur("walCommit"),
                "gen.late_s": max(f["written"] - f["due"] for f in files),
                "source.pending_files": max(pending, default=0),
                "source.scans_per_batch": sum(p.numInputRows for p in progress) / lines,
                "parse.rows_in": lines,
                "parse.rows_dropped": lines - kept,
                "sink.redis_s": run.span_p50("sink.redis"),
                "sink.store_s": run.span_p50("sink.store"),
                "sink.redis_cmds_per_event": stats["commands"] / exp.n,
                "keyspace.busy_s": stats["busy_s"] / len(done),
                **{f"read.{r}_s": run.span_p50(f"read.{r}") for r in READS},
            })
            store_size(run, store)
            isolated_calls(run, spark, seed, work, ISO_EVENTS, server)
            run.layer["scale.iso_1core_ratio"] = iso_1core(run, seed, work)
        print(f"live_ingest: {len(files)} files, {len(done)} batches", file=sys.stderr)
        return setup_s
    finally:
        if gen is not None and gen.poll() is None:
            gen.terminate()
            gen.wait(timeout=10)
        server.stop()


def store_size(run: Run, store: str) -> None:
    files = [os.path.join(d, f) for d, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")]
    run.layer["store.files"] = len(files)
    run.layer["store.mb"] = sum(os.path.getsize(f) for f in files) / 2**20


def isolated_calls(run: Run, spark, seed: int, work: str, n: int,
                   server: KeyspaceServer | None) -> float:
    """Time each per-event layer alone on one captured batch of ``n``
    events. Returns the total."""
    from redis_dataflow_realtime_analytics_spark.sources import parse_wire_events
    from redis_dataflow_realtime_analytics_spark.streaming.pipeline import SketchStoreWriter
    from redis_dataflow_realtime_analytics_spark.streaming.redis_sink import (
        RedisMetricsSink,
        metric_commands,
    )

    path = os.path.join(work, "iso", "in", "part.json")
    lines, _ = loadgen.file_events(seed, 2_000_000, n, n / RATE)
    write_lines(path, lines)
    raw = spark.read.text(os.path.dirname(path))
    ev = normalize(parse_wire_events(raw))
    steps = {
        "iso.parse_s": lambda: parse_wire_events(raw).write.format("noop").mode("overwrite").save(),
        "iso.commands_s": lambda: metric_commands(ev).write.format("noop").mode("overwrite").save(),
        "iso.send_s": lambda: RedisMetricsSink(client_factory=keyspace.NullClient)(ev, 0),
        "iso.store_s": lambda: SketchStoreWriter(os.path.join(work, "iso", "store"))(ev, 0),
    }
    if server is not None:
        steps["iso.keyspace_s"] = lambda: RedisMetricsSink(client_factory=server.client_factory())(ev, 0)
    total = 0.0
    for name, step in steps.items():
        t0 = time.monotonic()
        with run.span(name):
            step()
        run.layer[name] = time.monotonic() - t0
        total += run.layer[name]
    return total


def iso_1core(run: Run, seed: int, work: str) -> float:
    """Repeat the isolated calls (keyspace excluded) in a ``local[1]``
    process; return its total over this process's total for the same calls."""
    here = sum(run.layer[k] for k in ("iso.parse_s", "iso.commands_s", "iso.send_s", "iso.store_s"))
    out = os.path.join(work, "iso1.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    subprocess.run([sys.executable, os.path.abspath(__file__), "--iso-1core", "--seed", str(seed),
                    "--work", os.path.join(work, "iso1"), "--result", out],
                   env=env, check=True, timeout=150)
    with open(out) as f:
        return json.load(f)["total"] / here


def iso_1core_main(args) -> None:
    run = Run(False, "")
    spark, _ = start_session(run, reps=1)
    os.makedirs(args.work, exist_ok=True)
    isolated_calls(run, spark, args.seed + 1, os.path.join(args.work, "warm"), ISO_EVENTS // 10, None)
    total = isolated_calls(run, spark, args.seed, args.work, ISO_EVENTS, None)
    with open(args.result, "w") as f:
        json.dump({"total": total}, f)
    spark.stop()


# --- catalog_batch -------------------------------------------------------------------
def catalog_batch(run: Run, spark, seed: int, seconds: float, work: str) -> float:
    from tests.oracle import compare

    from redis_dataflow_realtime_analytics_spark import registry

    sf = os.path.join(work, "sf")
    gen_times = []
    for _ in range(3):
        t0 = time.monotonic()
        fixture.write(seed, sf)
        gen_times.append(time.monotonic() - t0)
    t0 = time.monotonic()
    # warm the JVM on the fixture with a scan, a join and an aggregate
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    customer = spark.read.parquet(f"{sf}/customer.parquet")
    orders.join(customer, orders.o_custkey == customer.c_custkey).groupBy(
        "c_mktsegment").count().collect()
    setup_s = statistics.median(gen_times) + time.monotonic() - t0

    tracker = spark.sparkContext.statusTracker()
    lat, construct, execute, jobs = [], defaultdict(list), defaultdict(list), {}
    t_end = time.monotonic() + seconds
    passes = 0
    while passes == 0 or time.monotonic() < t_end:
        for key in CATALOG_KEYS:
            group = f"{key}#{passes}"
            spark.sparkContext.setJobGroup(group, key)
            state = {}

            def build(key=key, state=state):
                t0 = time.monotonic()
                with run.span(f"construct:{key}", key):
                    state["df"] = registry.QUERIES[key](spark, sf)
                t1 = time.monotonic()
                with run.span(f"execute:{key}", key):
                    state["df"].write.format("noop").mode("overwrite").save()
                t2 = time.monotonic()
                construct[key].append(t1 - t0)
                execute[key].append(t2 - t1)
                lat.append(t2 - t0)

            if run.operation(build):
                jobs[key] = len(tracker.getJobIdsForGroup(group))
                if passes == 0:  # outside the timed region, once per run
                    try:
                        compare(state["df"], registry.ORACLE[key], sf)
                        run.check(f"oracle:{key}", True)
                    except AssertionError as e:
                        run.check(f"oracle:{key}", False, str(e)[:300])
            spark.catalog.clearCache()
        passes += 1
    run.e2e.update({
        "latency_p50_s": pct(lat, 50),
        "latency_p90_s": pct(lat, 90),
        "ops_per_s": len(lat) / sum(lat),
    })
    for key in CATALOG_KEYS:
        run.layer[f"construct_s.{key}"] = pct(construct[key], 50)
        run.layer[f"execute_s.{key}"] = pct(execute[key], 50)
        run.layer[f"jobs.{key}"] = jobs.get(key, 0)
    return setup_s


WORKLOADS = {
    "live_ingest": live_ingest,
    "catalog_batch": catalog_batch,
}


def main() -> None:
    p = argparse.ArgumentParser(description="Run one benchmark workload in this process.")
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True, help="scratch directory for this run")
    p.add_argument("--result", required=True, help="where to write the result JSON")
    p.add_argument("--iso-1core", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.iso_1core:
        iso_1core_main(args)
        return

    run = Run(bool(args.trace), os.path.splitext(args.result)[0])
    spark, session_s = start_session(run)
    setup_s = session_s + WORKLOADS[args.workload](run, spark, args.seed, args.seconds, args.work)
    run.e2e["setup_s"] = setup_s
    run.layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    run.write_spans()
    spark.stop()

    names = PER_LAYER if run.trace else END_TO_END
    metrics = {k: {"value": float(run.layer.get(k, 0.0) if run.trace else run.e2e[k]), "unit": u}
               for k, u in names.items()}
    result = {
        "correct": run.failed == 0 and bool(run.checks),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
        "end_to_end": run.e2e,
        "checks": run.checks,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
