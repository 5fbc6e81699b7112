"""The benchmark's workloads.

===========  ================================================  ==========
workload     what it stresses                                  bypasses
===========  ================================================  ==========
kv_lines     kayvee parse, routing, projection, the sinks and  dedup,
             the A1 rollup, through the streaming pipeline      state
dedup_state  incremental near-dup (operators.dedup) and the    kayvee,
             state store (streaming.aggregates / .stateful)    sinks
===========  ================================================  ==========

Each workload repeats a fixed *unit* of work (a backlog replay, a pass
over its queries) at least once and until the run's seconds are used.
The end-to-end metrics are CPU and memory, which the host's other
tenants move less than wall-clock times: ``cpu_s`` is the CPU seconds the engine (driver
JVM, its Python workers and the driving Python process) spends on one
unit, median of units; ``setup_s`` is the engine CPU seconds from
process start to the end of the warm-up; ``peak_rss_mb`` is the peak of
the summed proportional set sizes of the driver JVM and its Python
workers. The driver JVM runs with a fixed heap and C1 only (see
``run.py``), which the engine's own settings leave to the JVM's
ergonomics and tiered compilation. Wall-clock throughput and latency
are reported beside them (``wall.*``): on a shared 4-core host they
spread by 20-30% between runs, too wide to carry a bound, while
``cpu_s`` spread by 6-11% over ten seeds.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import itertools
import os
import threading
import time

import catalog
import kvlines
from measure import (
    Jobs, PeakRss, Progress, Spans, calibrate, engine_cpu_s, median,
    quantile, stream_layers)


def _du(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class Workload:
    name = ""

    def __init__(self, args, work: str, start: float) -> None:
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.start = start
        self.spans = Spans()
        self.progress = Progress()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layer = dict.fromkeys(catalog.PER_LAYER, 0.0)
        self.report: list[str] = []
        self._dirs = 0

    # -------------------------------------------------------- plumbing

    def new_dir(self, label: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{label}-{self._dirs}")
        os.makedirs(path, exist_ok=True)
        return path

    def session(self):
        from kinesis_alerts_consumer_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{self.name}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.streams.addListener(self.progress)
        return spark

    def outcome(self, ok: bool, weight: int = 1, what: str = "") -> None:
        self.attempted += weight
        if not ok:
            self.failed += weight
            self.report.append(f"FAILED {self.name}: {what}")

    def units(self):
        """Yield unit indexes: one, then more until the run's seconds
        are used.

        One unit is enough. Over five seeds on 4 shared cores, a
        kv_lines run's second unit cost 4-12% less cpu_s than its
        first, in step with it, while whole runs differed by up to 25%
        with the host's speed. A dedup_state run's second pass cost
        from 2% less to 50% more than its first; the first passes were
        within 8% of each other. A second unit added 11-26 s to every
        run."""
        began = time.perf_counter()
        for unit in itertools.count():
            if unit and time.perf_counter() - began >= self.seconds:
                return
            yield unit

    # ----------------------------------------------------- the run

    def run(self) -> dict:
        cpu = engine_cpu_s()
        with self.spans.span("prepare") as prep:
            self.prepare()
        prepare_cpu = engine_cpu_s() - cpu
        # Set-up runs from process start to the end of one untimed
        # warm-up pass: JVM launch, session build, the first queries.
        # Input generation and the oracle are the benchmark's, not set-up.
        with self.spans.span("setup"):
            self.spark = self.session()
            with self.spans.span("warmup") as warm:
                self.warmup()
        setup_cpu = engine_cpu_s() - prepare_cpu
        setup_wall = (time.perf_counter() - self.start
                      - (prep["end"] - prep["start"]))
        calib = [calibrate(self.spark)]
        with PeakRss() as rss, self.spans.span("measure"):
            e2e = self.measure(traced=False)
        calib.append(calibrate(self.spark))
        e2e.update(setup_s=setup_cpu, peak_rss_mb=rss.peak / 1e6)
        self.unit_cpu_s = e2e["cpu_s"]
        self.layer.update({
            "wall.setup_s": setup_wall,
            "wall.unit_s": e2e["wall_s"],
            "wall.records_per_s": e2e["records_per_s"],
            "wall.latency_p50_s": e2e["latency_p50_s"],
            "wall.latency_p90_s": e2e["latency_p90_s"],
            "memory.jvm_mb": rss.peak_largest / 1e6,
            "session.warmup_s": warm["end"] - warm["start"],
            "host.calib_s": median(calib),
        })
        metrics = {k: e2e[k] for k in catalog.END_TO_END}
        units = dict(catalog.END_TO_END)
        if self.args.trace:
            with self.spans.span("measure_traced"):
                traced = self.measure(traced=True)
            with self.spans.span("layers"):
                self.layers()
            self.layer["trace.overhead_frac"] = traced["cpu_s"] / e2e["cpu_s"] - 1
            self.report.append(
                f"tracing overhead: cpu_s {e2e['cpu_s']:.4f} untraced, "
                f"{traced['cpu_s']:.4f} traced; wall per unit "
                f"{e2e['wall_s']:.4f} s untraced, {traced['wall_s']:.4f} s "
                "traced")
            metrics = self.layer
            units = catalog.PER_LAYER
        self.spark.stop()
        self.spans.write(os.path.join(
            os.path.dirname(self.work), "traces",
            f"{self.name}-seed{self.seed}-trace{self.args.trace}.jsonl"))
        report = [f"workload={self.name} seed={self.seed} "
                  f"seconds={self.seconds:g} trace={self.args.trace} "
                  f"cores={len(os.sched_getaffinity(0))}"]
        report += self.report
        report.append(
            f"host calibration: start={calib[0]:.4f} s end={calib[1]:.4f} s "
            "(diagnostic, not divided into any metric)")
        report.append(
            f"failed_frac={self.failed / max(self.attempted, 1):.4f} "
            f"({self.failed} of {self.attempted} operations)")
        if not self.args.trace:
            report += [f"{k} {self.layer[k]:.6g} {catalog.PER_LAYER[k]}"
                       for k in catalog.PER_LAYER if k.startswith("wall.")]
        for key, value in metrics.items():
            moves = (f"  -> {catalog.MOVES[key]}"
                     if key in catalog.MOVES else "")
            report.append(f"{key} {value:.6g} {units[key]}{moves}")
        return {
            "report": report,
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def measure(self, traced: bool) -> dict:
        """Run the units; return ``cpu_s``, ``wall_s``,
        ``records_per_s`` and ``latency_p50_s``/``p90_s``."""
        raise NotImplementedError

    def layers(self) -> None:
        """Traced-only probes beyond what the traced units record."""


# ------------------------------------------------------------ kv_lines


class _TimedSink:
    """Stands in for a MetricsSink in the streaming wiring and times
    each ``process_batch`` call into it."""

    def __init__(self, sink, spans: Spans, name: str) -> None:
        self.sink = sink
        self.spans = spans
        self.name = name

    def process_batch(self, projected, batch_id: int = 0) -> None:
        with self.spans.span(self.name, batch=batch_id):
            self.sink.process_batch(projected, batch_id)


class KvLines(Workload):
    """Kayvee/syslog lines through the streaming pipeline.

    Unit (closed loop): replay a pre-written backlog through
    ``replay_lines`` into the default MetricsSink and, at the same time,
    through ``volume_rollup_processing_time``; both availableNow with
    ``max_files_per_trigger``.

    Wall-clock figures: ``wall.records_per_s`` is backlog lines / replay
    wall; ``wall.latency_p50_s``/``p90_s`` run per backlog file from the
    replay start (every file is due then) to the end of the micro-batch
    holding it, the quantile of each replay, median of replays.

    Traced only (open loop): a generator thread drops small line files
    on a fixed schedule into a running ``stream_lines`` ->
    ``process_lines`` -> ``MetricsSink.process_batch`` query (default
    trigger: the next micro-batch starts as soon as the previous one
    ends and a file is there). Per-batch fixed costs dominate there:
    trigger planning, WAL/commit, the sink's jobs, stage write and
    read-back, CloudWatch chunk writes. Each file's latency runs from
    its due time, so generator lateness counts against it.
    """

    name = "kv_lines"
    backlog_lines = 10_000
    backlog_lines_per_file = 2_500
    files_per_trigger = 2
    rate = 20.0  # trickle files per second
    trickle_files = 100
    trickle_lines_per_file = 10
    warm_lines = 1_000

    def prepare(self) -> None:
        backlog = kvlines.make_rows(self.seed, self.backlog_lines)
        self.backlog = os.path.join(self.work, "backlog")
        kvlines.write_files(backlog, self.backlog, self.backlog_lines_per_file)
        self.backlog_expected = kvlines.expected(backlog)
        self.trickle_rows = kvlines.make_rows(
            self.seed + 1, self.trickle_files * self.trickle_lines_per_file)
        self.trickle_expected = kvlines.expected(self.trickle_rows)
        self.warm = os.path.join(self.work, "warm")
        # as many files as the backlog, so it also runs in two or more
        # micro-batches
        files = self.backlog_lines // self.backlog_lines_per_file
        kvlines.write_files(kvlines.make_rows(self.seed + 2, self.warm_lines),
                            self.warm, self.warm_lines // files)

    def check(self, expected: dict, out: str, vol: str | None,
              weight: int, what: str) -> None:
        got = kvlines.observed(out, vol)
        bad = [k for k in got if got[k] != expected[k]]
        dlq = kvlines.dlq_batches(out)
        self.layer["sinks.failed_batches"] += dlq
        detail = (f"{what}: outputs differ from the oracle in {bad}" if bad
                  else f"{what}: {dlq} batches in the DLQ")
        self.outcome(not bad and not dlq, weight, detail)

    def warmup(self) -> None:
        """A small replay: the same queries, sink and batch count as
        the timed units, so their first-query costs are paid here."""
        self.replay(self.warm, traced=False)

    def replay(self, src: str, traced: bool) -> tuple:
        from kinesis_alerts_consumer_spark.streaming.pipeline import (
            replay_lines, volume_rollup_processing_time)
        from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

        out, vol = self.new_dir("out"), self.new_dir("vol")
        sink = MetricsSink(out)
        if traced:
            sink = _TimedSink(sink, self.spans, "sinks.process_batch.replay")
        began = time.time()
        with self.spans.span("replay") as span:
            main = replay_lines(
                self.spark, src, out, self.new_dir("ck"), sink=sink,
                max_files_per_trigger=self.files_per_trigger)
            rollup = volume_rollup_processing_time(
                self.spark, src, vol, self.new_dir("ckv"),
                max_files_per_trigger=self.files_per_trigger)
            main.awaitTermination()
            rollup.awaitTermination()
        for q in (main, rollup):
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return span["end"] - span["start"], began, out, vol, main, rollup

    def measure(self, traced: bool) -> dict:
        walls, p50, p90, cpus = [], [], [], []
        files = self.backlog_lines // self.backlog_lines_per_file
        for _unit in self.units():
            cpu = engine_cpu_s()
            try:
                wall, start, out, vol, main, rollup = self.replay(
                    self.backlog, traced)
            except Exception as exc:  # noqa: BLE001 — a failure is data
                self.outcome(False, files, f"replay raised {exc!r:.300}")
                continue
            cpus.append(engine_cpu_s() - cpu)
            walls.append(wall)
            self.check(self.backlog_expected, out, vol, files, "replay")
            self.progress.wait_rows(main.id, self.backlog_lines, timeout=30)
            latencies = [
                b["end"] - start for b in self.progress.of(main.id)
                for _ in range(b["rows"] // self.backlog_lines_per_file)]
            p50.append(quantile(latencies, 0.5))
            p90.append(quantile(latencies, 0.9))
        self.report.append(
            "replay units: cpu_s " + " ".join(f"{c:.2f}" for c in cpus)
            + "; wall s " + " ".join(f"{w:.2f}" for w in walls))
        if traced and walls:
            self.progress.wait_rows(rollup.id, self.backlog_lines, timeout=30)
            self.layer["volume.rollup_batch_s"] = median(
                b["ms"].get("addBatch", 0) / 1000
                for b in self.progress.of(rollup.id) if b["rows"] > 0)
            self.layer["sinks.bytes_written"] = float(_du(out))
        if traced:
            try:
                self.trickle()
            except Exception as exc:  # noqa: BLE001 — a failure is data
                self.outcome(False, self.trickle_files,
                             f"trickle raised {exc!r:.300}")
        return {
            "cpu_s": median(cpus),
            "wall_s": median(walls),
            "records_per_s": median(self.backlog_lines / w for w in walls),
            "latency_p50_s": median(p50),
            "latency_p90_s": median(p90),
        }

    def trickle(self) -> None:
        from kinesis_alerts_consumer_spark.pipeline import process_lines
        from kinesis_alerts_consumer_spark.streaming.pipeline import (
            stream_lines)
        from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

        rows, per_file = self.trickle_rows, self.trickle_lines_per_file
        src, out = self.new_dir("src"), self.new_dir("out")
        sink = _TimedSink(MetricsSink(out), self.spans,
                          "sinks.process_batch.trickle")

        def handle(batch_df, batch_id: int) -> None:
            sink.process_batch(process_lines(batch_df), batch_id)

        query = (stream_lines(self.spark, src).writeStream
                 .foreachBatch(handle)
                 .option("checkpointLocation", self.new_dir("ck"))
                 .start())
        deadline = time.monotonic() + 60
        while (query.status["message"] != "Waiting for data to arrive"
               and time.monotonic() < deadline):
            time.sleep(0.02)
        first_due = time.time() + 0.2
        due = [first_due + i / self.rate for i in range(self.trickle_files)]
        late = []

        def generate() -> None:
            for i, at in enumerate(due):
                pause = at - time.time()
                if pause > 0:
                    time.sleep(pause)
                kvlines.write_file(rows[i * per_file:(i + 1) * per_file],
                                   src, i)
                late.append(time.time() - at)

        generator = threading.Thread(target=generate, daemon=True)
        with self.spans.span("trickle"):
            generator.start()
            generator.join()
            complete = self.progress.wait_rows(query.id, len(rows), timeout=60)
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        if not complete:
            raise RuntimeError("the stream did not consume every file")
        self.check(self.trickle_expected, out, None, self.trickle_files,
                   "trickle")
        latencies, done, backlog = [], 0, 0
        batches = [b for b in self.progress.of(query.id) if b["rows"] > 0]
        for b in batches:
            delivered = sum(1 for at in due if at <= b["start"])
            backlog = max(backlog, delivered - done)
            files = b["rows"] // per_file
            latencies += [b["end"] - at for at in due[done:done + files]]
            done += files
        self.report.append(
            f"trickle: {self.trickle_files} files of {per_file} lines at "
            f"{self.rate:g} files/s in {len(batches)} micro-batches")
        self.layer.update(stream_layers(batches))
        self.layer.update({
            "stream.backlog_files_max": float(backlog),
            "sinks.process_batch_s": median(
                self.spans.durations("sinks.process_batch.trickle")),
            "trickle.latency_p50_s": quantile(latencies, 0.5),
            "trickle.latency_p90_s": quantile(latencies, 0.9),
            "trickle.generator_late_s": max(late),
        })

    def layers(self) -> None:
        """Layer self-times as differences between noop-materialised
        prefixes of the pipeline over one replay trigger's files, then
        the sink under a job group on one trickle-sized batch."""
        from pyspark.sql import functions as F

        from kinesis_alerts_consumer_spark.functions.kayvee import (
            parse_lines)
        from kinesis_alerts_consumer_spark.operators.project import (
            cw_data, dd_points, project_routes, quarantine)
        from kinesis_alerts_consumer_spark.operators.routing import (
            with_routes)
        from kinesis_alerts_consumer_spark.operators.volume import (
            batch_log_volume)
        from kinesis_alerts_consumer_spark.pipeline import process_lines
        from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

        # The per-record work of a unit: the pipeline prefix up to
        # dd_points and the rollup's parse and aggregation, over the
        # whole backlog, and its share of the unit's cpu_s.
        backlog = self.spark.read.text(self.backlog)
        cpu = engine_cpu_s()
        with self.spans.span("noop.backlog"):
            dd_points(project_routes(with_routes(parse_lines(
                backlog)))).write.format("noop").mode("overwrite").save()
            batch_log_volume(parse_lines(backlog), 0).write.format(
                "noop").mode("overwrite").save()
        per_record = engine_cpu_s() - cpu
        self.layer["kv.per_record_cpu_s"] = per_record
        self.layer["kv.per_record_share"] = per_record / self.unit_cpu_s

        files = sorted(os.listdir(self.backlog))[:self.files_per_trigger]
        batch = self.spark.read.text(
            [os.path.join(self.backlog, f) for f in files])
        parsed = parse_lines(batch)
        routed = with_routes(parsed)
        projected = project_routes(routed)
        points = dd_points(projected)
        prefix = {}
        for name, df in (("parse", parsed), ("routes", routed),
                         ("points", points)):
            times = []
            for _ in range(3):
                with self.spans.span(f"noop.{name}") as span:
                    df.write.format("noop").mode("overwrite").save()
                times.append(span["end"] - span["start"])
            prefix[name] = median(times)
        records = batch.count()
        routes = routed.agg(F.sum(F.size("routes"))).first()[0] or 0
        self.layer.update({
            "kayvee.parse_s": prefix["parse"],
            "routing.route_self_s": prefix["routes"] - prefix["parse"],
            "project.project_self_s": prefix["points"] - prefix["routes"],
            "routing.routes_per_record": routes / max(records, 1),
            "project.dd_points": float(points.count()),
            "project.quarantined": float(quarantine(projected).count()),
            "project.cw_rows": float(cw_data(projected).count()),
        })

        src = self.new_dir("probe-src")
        per_file = self.trickle_lines_per_file
        typical = max(1, round(self.layer["stream.trigger_s"] * self.rate))
        kvlines.write_files(self.trickle_rows[:typical * per_file], src,
                            per_file)
        small = process_lines(self.spark.read.text(src))
        out = self.new_dir("probe")
        calls = []

        def counting_cw(df) -> None:
            # the sink's default CloudWatch stand-in write, counted
            calls.append(1)
            df.write.mode("append").partitionBy("tag").parquet(
                os.path.join(out, "cw"))

        sink = MetricsSink(out, submit_cw=counting_cw)
        with Jobs(self.spark).group("sink") as counted:
            sink.process_batch(small, 0)
        self.layer["sinks.jobs_per_batch"] = float(counted["jobs"])
        self.layer["sinks.cw_calls_per_batch"] = float(len(calls))


# ---------------------------------------------------------- dedup_state


def _canon(value):
    if isinstance(value, decimal.Decimal):
        value = float(value)
    if isinstance(value, float):
        return round(value, 9)
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    return value


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted(repr(tuple(_canon(row[i]) for i in order)) for row in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class DedupState(Workload):
    """Closed loop over declared queries from ``__spark_entry__``:
    llm40 (incremental near-dup against a prebuilt MinHash index), st01
    (hourly windowed rollup in ``streaming.aggregates`` on
    state-partition-sized shuffles) and st03 (``stream_events`` into
    applyInPandasWithState running totals), each collected and
    hash-compared with its DuckDB oracle.

    Unit: one pass over the three queries. Wall-clock figures:
    ``wall.unit_s`` is the sum of the pass's collect times,
    ``wall.records_per_s`` the input rows a pass reads / that, and
    ``wall.latency_p50_s``/``p90_s`` run over the queries of the mix,
    each taken as its median collect time across passes.
    """

    name = "dedup_state"
    n_events = 4_000
    n_docs = 400
    queries = {
        "llm40_incremental_near_dup": "dedup",
        "st01_stream_hourly_rollup": "state",
        "st03_stream_stateful_totals": "state",
    }
    sized = "st01_stream_hourly_rollup"  # its state partitions are sized

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        import fixtures

        self.tables = os.path.join(self.work, "tables")
        fixtures.write_tables(self.tables, self.seed, self.n_events,
                              self.n_docs)
        self.fns = entry.queries()
        con = duckdb.connect()
        try:
            for name in ("events", "documents"):
                path = os.path.join(self.tables, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            self.oracle = {}
            for name, sql in entry.oracle_sql().items():
                if name in self.queries:
                    cur = con.execute(sql)
                    self.oracle[name] = result_hash(
                        [d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        # llm40 reads the corpus plus near-duplicates of its first 20
        # docs; st01 and st03 read every event
        self.rows_per_pass = self.n_docs + 20 + 2 * self.n_events

    def execute(self, name: str, tracker: Jobs | None = None
                ) -> tuple[float, float]:
        """Run one query; returns its wall and engine CPU seconds."""
        self.progress.clear()
        counting = (tracker.group(name) if tracker
                    else contextlib.nullcontext({}))
        cpu = engine_cpu_s()
        with counting as counted, self.spans.span(name) as span:
            df = self.fns[name](self.spark, self.tables)
            rows = df.collect()
        cpu = engine_cpu_s() - cpu
        self.outcome(result_hash(df.columns, rows) == self.oracle[name],
                     what=f"{name} differs from its oracle")
        if tracker and self.queries[name] == "dedup":
            self.layer["dedup.jobs"] = float(counted["jobs"])
            self.layer["dedup.stages"] = float(counted["stages"])
            self.layer["dedup.pairs_out"] = float(len(rows))
        elif tracker:
            time.sleep(0.3)  # progress events arrive asynchronously
            self.state_batches[name] += [
                b for events in self.progress.events.values()
                for b in events if b["state"]]
        return span["end"] - span["start"], cpu

    def warmup(self) -> None:
        for name in self.queries:
            self.execute(name)

    def measure(self, traced: bool) -> dict:
        tracker = Jobs(self.spark) if traced else None
        self.state_batches = {name: [] for name in self.queries}
        times = {name: [] for name in self.queries}
        walls, cpus = [], []
        for _unit in self.units():
            wall = cpu = 0.0
            for name in self.queries:
                try:
                    elapsed, used = self.execute(name, tracker)
                except Exception as exc:  # noqa: BLE001 — a failure is data
                    self.outcome(False, what=f"{name} raised {exc!r:.300}")
                    continue
                times[name].append(elapsed)
                wall += elapsed
                cpu += used
            walls.append(wall)
            cpus.append(cpu)
        self.report.append(
            "pass units: cpu_s " + " ".join(f"{c:.2f}" for c in cpus)
            + "; wall s " + " ".join(f"{w:.2f}" for w in walls))
        per_query = [median(t) for t in times.values()]
        if traced:
            for name, family in self.queries.items():
                self.layer[f"{family}.{name}.wall_s"] = median(times[name])
            batches = [b for bs in self.state_batches.values() for b in bs]
            ops = [s for b in batches for s in b["state"]]
            self.layer.update({
                "state.add_batch_s": median(
                    b["ms"].get("addBatch", 0) / 1000 for b in batches),
                "state.commit_s": median(
                    sum(s["commit_ms"] for s in b["state"]) / 1000
                    for b in batches),
                "state.rows": float(max((s["rows"] for s in ops), default=0)),
                "state.memory_mb": max(
                    (s["memory"] for s in ops), default=0) / 1e6,
                "state.partitions": float(max(
                    (s["partitions"] for b in self.state_batches[self.sized]
                     for s in b["state"]), default=0)),
            })
        return {
            "cpu_s": median(cpus),
            "wall_s": median(walls),
            "records_per_s": median(self.rows_per_pass / w for w in walls),
            "latency_p50_s": quantile(per_query, 0.5),
            "latency_p90_s": quantile(per_query, 0.9),
        }


WORKLOADS = {w.name: w for w in (KvLines, DedupState)}
