"""Landing workloads: drain a staged event backlog through
`streaming.land.run_landing_stream` and audit what landed.

One closed-loop client: the file source feeds one file per
micro-batch (AvailableNow), and the next batch starts when the
previous one committed. Finalized logdates are POSTed by the engine's
`RestNotifier` to an HTTP receiver owned by the benchmark.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import unquote

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import gen
from tracing import ProgressLog, cpu_seconds

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# Backlog shape: 2k-event files (the reference's batchSize order), one
# micro-batch each, about BATCH_S seconds of draining per file on a
# 4-core box, so `seconds` of draining is ceil(seconds / BATCH_S)
# files. SPAN_S does not divide the 300 s bucket, so file edges fall
# inside logdates.
ROWS_PER_FILE = 2_000
SPAN_S = 437.0
BATCH_S = 2.5
# progress phases in execution order → per-layer metric (their p50)
PHASES = {
    "latestOffset": "land.latest_offset_s",
    "walCommit": "land.wal_commit_s",
    "getBatch": "land.get_batch_s",
    "queryPlanning": "land.query_planning_s",
    "addBatch": "land.add_batch_s",
    "commitOffsets": "land.commit_offsets_s",
}


class Receiver:
    """Single-threaded HTTP endpoint recording `POST /<logid>/<logdate>`."""

    def __init__(self) -> None:
        posts = self.posts = []

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 — http.server API
                parts = self.path.strip("/").split("/")
                n = int(self.headers.get("Content-Length") or 0)
                if n:
                    self.rfile.read(n)
                posts.append((int(parts[-2]), unquote(parts[-1])))
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self.server = HTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self._thread = threading.Thread(
            target=self.server.serve_forever, kwargs={"poll_interval": 0.05}
        )
        self._thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join()


class TimedNotifier:
    """The `on_complete` seam: calls the engine's RestNotifier and
    records each call's start, end and logdate count."""

    def __init__(self, notifier) -> None:
        self.notifier = notifier
        self.calls: list[tuple[float, float, int]] = []

    def __call__(self, logdates: list[str]) -> None:
        t0 = time.perf_counter()
        self.notifier(logdates)
        t1 = time.perf_counter()
        self.calls.append((t0, t1, len(logdates)))


def _iso_to_perf(iso: str, wall_minus_perf: float) -> float:
    t = dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
    return t - wall_minus_perf


def _dir_stats(path: str) -> tuple[int, float]:
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / 2**20


class Landing:
    """One landing workload: generated backlog, warm-up, timed drain,
    readback audit and output checks."""

    def __init__(self, name: str, seed: int, seconds: float, work: str, spans) -> None:
        self.name = name
        self.work = work
        self.spans = spans
        self.backlog = gen.event_backlog(
            os.path.join(work, "backlog"), seed,
            n_files=max(3, math.ceil(seconds / BATCH_S)),
            rows_per_file=ROWS_PER_FILE, span_s=SPAN_S,
        )
        # the warm-up backlog shares nothing with the timed one
        self.warm_backlog = gen.event_backlog(
            os.path.join(work, "warm_backlog"), seed + 1_000_003,
            n_files=1, rows_per_file=ROWS_PER_FILE, span_s=SPAN_S,
        )
        self.receiver = Receiver()
        self.problems: list[str] = []
        self.layers: dict[str, float] = {}
        self._warm_n = 0
        self.job_group: str | None = None

    def inputs(self) -> dict:
        return {
            "files": len(self.backlog.files),
            "rows": self.backlog.rows,
            "logdates": len(self.backlog.per_logdate),
        }

    def close(self) -> None:
        self.receiver.close()

    def _cfg(self, table: str, logid: int):
        from flume_hive_batched_sink_spark.config import SinkConfig

        return SinkConfig(
            table=table,
            output_path=os.path.join(self.work, "warehouse"),
            notify_url=self.receiver.url,
            notify_logid=logid,
        )

    def warm(self, spark) -> None:
        """Set-up work: one fresh one-file drain into its own table."""
        from flume_hive_batched_sink_spark.streaming.land import run_landing_stream

        self._warm_n += 1
        cfg = self._cfg(f"warm{self._warm_n}", logid=1)
        run_landing_stream(
            spark, os.path.dirname(self.warm_backlog.files[0]), EVENTS_SCHEMA, cfg
        )

    def measure(self, spark, meters) -> dict:
        """The timed drain plus readback; returns end-to-end numbers."""
        from flume_hive_batched_sink_spark.streaming.land import (
            read_bookkeeping,
            route_and_parse,
            run_landing_stream,
        )
        from flume_hive_batched_sink_spark.streaming.notify import RestNotifier

        cfg = self._cfg("bench_land", logid=7)
        notifier = TimedNotifier(RestNotifier(cfg.notify_url, cfg.notify_logid))
        progress = ProgressLog()
        spark.streams.addListener(progress)
        n_batches = len(self.backlog.files)
        wall_minus_perf = time.time() - time.perf_counter()
        mark = meters.start() if meters else None
        drain_err = None
        with self.spans.span("workload", workload=self.name) as root:
            c0 = cpu_seconds()
            t0 = time.perf_counter()
            try:
                spark.sparkContext.setJobGroup("land.drain", "timed drain")
                run_landing_stream(
                    spark,
                    os.path.dirname(self.backlog.files[0]),
                    EVENTS_SCHEMA,
                    cfg,
                    on_complete=notifier,
                )
            except Exception as exc:  # a failed drain is a measured failure
                drain_err = f"{type(exc).__name__}: {exc}"
            drain_s = time.perf_counter() - t0
            drain_cpu_s = cpu_seconds() - c0
            try:
                progress.wait_terminated(timeout=30.0)
            except TimeoutError as exc:
                self.problems.append(str(exc))
            if meters:
                self.layers.update(meters.since(mark))
            batches = progress.batches()
            # the stream runs its jobs under its run id as job group
            self.job_group = batches[0]["runId"] if batches else None
            if self.spans.enabled:
                self._batch_spans(batches, notifier, root, wall_minus_perf)
            spark.streams.removeListener(progress)

            data_path = os.path.join(cfg.output_path, cfg.table)
            with self.spans.span("readback"):
                t0 = time.perf_counter()
                spark.sparkContext.setJobGroup("land.readback", "readback audit")
                landed = {}
                try:
                    landed = {
                        str(r[cfg.partition_col]): r["n"]
                        for r in spark.read.parquet(data_path)
                        .groupBy(cfg.partition_col)
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    }
                except Exception as exc:
                    self.problems.append(f"readback: {type(exc).__name__}: {exc}")
                readback_s = time.perf_counter() - t0

        done = len(batches)
        failed = n_batches - done if drain_err or done < n_batches else 0
        if drain_err:
            self.problems.append(f"drain: {drain_err}")
        elif done != n_batches:
            self.problems.append(f"drain: {done} batches ran, {n_batches} staged")
        audit_ok = self._check(landed, notifier)
        trig = [b["durationMs"]["triggerExecution"] / 1e3 for b in batches]

        # per-layer reads that are not part of the timed work
        t0 = time.perf_counter()
        book = {}
        try:
            book = {
                r[cfg.partition_col]: r["sinkcount"]
                for r in read_bookkeeping(spark, cfg).collect()
            }
        except Exception as exc:
            self.problems.append(f"bookkeeping: {type(exc).__name__}: {exc}")
        self.layers["land.read_bookkeeping_s"] = time.perf_counter() - t0
        self.layers["land.bookkeeping_mismatch_logdates"] = float(
            sum(1 for ld, n in landed.items() if book.get(ld) != n)
        )
        self.layers["land.rows_in"] = float(self.backlog.rows)
        self.layers["land.rows_landed"] = float(sum(landed.values()))
        for phase, name in PHASES.items():
            vals = [b["durationMs"].get(phase, 0) / 1e3 for b in batches]
            self.layers[name] = statistics.median(vals) if vals else 0.0
        self.layers["land.batch_drift"] = _drift(trig)
        files, mb = _dir_stats(data_path)
        self.layers["land.data_files"] = float(files)
        self.layers["land.data_mb"] = mb
        self.layers["land.book_files"] = float(
            _dir_stats(os.path.join(cfg.output_path, f"{cfg.table}__bookkeeping"))[0]
        )
        sent = [ld for logid, ld in self.receiver.posts if logid == 7]
        self.layers["notify.calls"] = float(len(notifier.calls))
        self.layers["notify.posts"] = float(len(sent))
        self.layers["notify.renotified"] = float(len(sent) - len(set(sent)))
        self.layers["notify.failed"] = float(len(notifier.notifier.failed))
        self.layers["notify.s"] = sum(b - a for a, b, _n in notifier.calls)
        if self.spans.enabled:
            self.layers["land.parse_route_s"] = self._parse_route(spark, cfg, route_and_parse)

        return {
            "attempted": n_batches + 1,
            "failed": failed + (0 if audit_ok and not self.problems else 1),
            "drain_s": drain_s,
            "readback_s": readback_s,
            "cpu_s": [drain_cpu_s],
            "batch_s": trig,
            "rows": self.backlog.rows,
        }

    def _check(self, landed: dict, notifier: TimedNotifier) -> bool:
        ok = True
        truth = self.backlog.per_logdate
        bad = sorted(ld for ld in truth.keys() | landed.keys() if truth.get(ld) != landed.get(ld))
        if bad:
            ok = False
            self.problems.append(
                f"landed rows differ from input on {len(bad)} logdates, e.g. "
                + ", ".join(f"{ld}: in {truth.get(ld)} landed {landed.get(ld)}" for ld in bad[:3])
            )
        posted = {ld for logid, ld in self.receiver.posts if logid == 7}
        missing = sorted(self.backlog.closed_logdates() - posted)
        if missing:
            ok = False
            self.problems.append(f"{len(missing)} closed logdates never POSTed, e.g. {missing[:3]}")
        unknown = sorted(posted - truth.keys())
        if unknown:
            ok = False
            self.problems.append(f"POSTs name unknown logdates {unknown[:3]}")
        if notifier.notifier.failed:
            ok = False
            self.problems.append(f"RestNotifier.failed: {notifier.notifier.failed[:3]}")
        return ok

    def _batch_spans(self, batches, notifier, root, wall_minus_perf) -> None:
        """workload → micro-batch → progress phases (laid end to end in
        execution order from the trigger start; progress gives only
        their durations) → the on_complete calls made during the batch,
        under its addBatch phase (foreachBatch runs there)."""
        for b in batches:
            start = _iso_to_perf(b["timestamp"], wall_minus_perf)
            end = start + b["durationMs"]["triggerExecution"] / 1e3
            bid = self.spans.add(
                "batch", start, end, root, batch_id=b["batchId"], rows=b["numInputRows"]
            )
            t = start
            for phase in PHASES:
                d = b["durationMs"].get(phase, 0) / 1e3
                pid = self.spans.add(f"batch.{phase}", t, t + d, bid)
                if phase == "addBatch":
                    for a, z, n in notifier.calls:
                        if start <= a <= end:
                            self.spans.add("notify", a, z, pid, logdates=n)
                t += d

    def _parse_route(self, spark, cfg, route_and_parse) -> float:
        """`route_and_parse` + a noop write per backlog file: the
        parse and time-bucket routing cost of one batch, alone."""
        times = []
        for path in self.backlog.files:
            t0 = time.perf_counter()
            df = route_and_parse(spark.read.schema(EVENTS_SCHEMA).parquet(path), cfg)
            df.write.mode("overwrite").format("noop").save()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)


def _drift(trig: list[float]) -> float:
    """Median of the last tenth of batches over the first tenth."""
    if len(trig) < 2:
        return 1.0
    k = max(1, len(trig) // 10)
    return statistics.median(trig[-k:]) / statistics.median(trig[:k])
