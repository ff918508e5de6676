"""The benchmark's workloads: one client in a closed loop, calling the
engine's public entry points.

A run makes a fixed sequence of operations.  The first write operation
runs in the fresh JVM and is reported on its own (``cold_s``).  Then a
fixed number of warm-up operations of each kind, and a fixed number of
timed ones: the sample counts never depend on how fast the host is.
Each operation is timed on its own.  Putting inputs in place before it
and checking its output after it are outside its time, and the checks
compare against ``decode``, never against the engine's own numbers.
"""

from __future__ import annotations

import contextlib
import importlib
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path
from time import perf_counter

import decode
import gen
from spans import BENCH_GROUP, PKG, UNTRACED_GROUP, epoch_ms, files_read, job_group

# hist_backfill: one folder of wide files over four weeks, backfilled
# into a fresh sink and catalog each time; then hour aggregates over 6 h
# for 3 series on the last sink written.  README.md gives the probes
# behind the warm-up lengths.
HIST_PLANT = 400
HIST_FILES = 4
HIST_WIDTH = (10, 40)
HIST_ROWS = 600
HIST_SPAN_S = 28 * 86400
HIST_WARMUP = 4
HIST_TIMED = 10

# live_drain: reference-fixture-sized files, 20 per micro-batch (the
# engine's default), all finished an hour ago.  The drain has one cold
# batch, LIVE_WARMUP warm-up batches and LIVE_TIMED timed ones; then
# latest-value reads of 3 series on the live sink.
LIVE_PLANT = 200
LIVE_WIDTH = (10, 10)
LIVE_ROWS = 60
LIVE_SPAN_S = 7 * 86400
LIVE_FILES_PER_BATCH = 20
LIVE_WARMUP = 4
LIVE_TIMED = 10

# After its writes, a workload makes READ_WARMUP untimed and READ_TIMED
# timed reads of its one read kind.
READ_WARMUP = 15
READ_TIMED = 10
READ_SERIES = 3
HOUR_MS = 3600_000


@dataclass
class Result:
    """Times (ms) of a run's operations by phase, and what the timed part
    wrote.  ``write_traced`` flags which timed writes ran traced."""

    cold_s: float = 0.0
    warmup_write_ms: list[float] = field(default_factory=list)
    warmup_read_ms: list[float] = field(default_factory=list)
    write_ms: list[float] = field(default_factory=list)
    write_traced: list[bool] = field(default_factory=list)
    write_items: list[int] = field(default_factory=list)
    read_ms: list[float] = field(default_factory=list)
    files_read: int = 0
    attempted: int = 0
    failed: int = 0


def mod(name: str):
    """An engine module; its functions are looked up at call time, so
    tracing wrappers installed on it apply."""
    return importlib.import_module(f"{PKG}.{name}")


def move_all(src: Path, dst: Path) -> None:
    dst.mkdir(parents=True, exist_ok=True)
    for p in sorted(src.glob("*.csv")):
        p.rename(dst / p.name)


def ms_of(dt: datetime) -> int:
    """Epoch milliseconds of a timestamp collected from Spark (naive UTC)."""
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def sink_summary(sink) -> dict[str, tuple]:
    """Per-series ``(count, ts_sum, value_sum)`` of a datapoints sink,
    read with pyarrow rather than the engine."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(str(sink), columns=["external_id", "ts_ms", "value"])
    scaled = pc.cast(pc.round(pc.multiply(t["value"], float(decode.SCALE))), "int64")
    t = t.append_column("v", scaled)
    g = t.group_by("external_id").aggregate(
        [("ts_ms", "count"), ("ts_ms", "sum"), ("v", "sum")]).to_pydict()
    return {e: (n, ts, v) for e, n, ts, v in zip(
        g["external_id"], g["ts_ms_count"], g["ts_ms_sum"], g["v_sum"])}


def catalog_rows(path) -> list[tuple[str, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(str(path), columns=["external_id", "name"]).to_pydict()
    return list(zip(t["external_id"], t["name"]))


class Workload:
    """Inputs, the operation sequence and its checks.

    ``tracer`` is set on traced runs: every second timed operation then
    runs traced.  ``stats`` is started and stopped around the timed part.
    """

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.tracer = None
        self.stats = None
        self.result = Result()
        self.problems: list[str] = []
        # What the reads see: every datapoint written, per series, sorted.
        self.points: dict[str, list[tuple[int, float]]] = {}
        self.rng = random.Random(f"reads-{seed}")
        self.sink: Path | None = None
        # The reads' DataFrame over ``sink``, opened by the first read after
        # the sink was written.
        self.dp = None

    def generate(self) -> None:
        raise NotImplementedError

    def run(self, spark) -> Result:
        raise NotImplementedError

    def _add_points(self, paths) -> None:
        for p in paths:
            for ext, _, ts_ms, value in decode.datapoints(p):
                self.points.setdefault(ext, []).append((ts_ms, value))
        for pts in self.points.values():
            pts.sort()

    # -- checks ------------------------------------------------------------
    def fail(self, what: str) -> None:
        self.problems.append(what)
        print(f"check failed: {what}", file=sys.stderr)

    @contextlib.contextmanager
    def operation(self, n_ops: int):
        """Counts ``n_ops`` operations; a check that fails inside, or an
        exception (from the engine or a check), fails all of them and
        the run goes on."""
        res = self.result
        n_before = len(self.problems)
        try:
            yield
        except Exception:
            traceback.print_exc()
            self.fail("operation raised")
        res.attempted += n_ops
        if len(self.problems) > n_before:
            res.failed += n_ops

    def _check_sink(self, expected: decode.Decoded) -> None:
        bad = decode.series_mismatches(expected, sink_summary(self.sink))
        if bad:
            self.fail(f"sink differs on {len(bad)} series, e.g. {bad[:3]}")

    def _check_catalog(self, path, names: dict[str, str]) -> None:
        """The catalog holds each series once, with its smallest name."""
        if sorted(catalog_rows(path)) != sorted(names.items()):
            self.fail("catalog differs from the decoded series and their min names")

    # -- timing ------------------------------------------------------------
    def timed(self, spark, traced: bool, name: str, fn):
        """Run ``fn`` as one operation; returns ``(result, ms)``.  A traced
        operation gets a root span; an untraced one runs its jobs in the
        ``bench.untraced`` group."""
        if not traced:
            with job_group(spark.sparkContext, UNTRACED_GROUP):
                t0 = perf_counter()
                out = fn()
                return out, (perf_counter() - t0) * 1000
        tracer = self.tracer
        tracer.install()
        try:
            with tracer.span("bench", name, BENCH_GROUP) as root:
                t0 = perf_counter()
                out = fn()
                ms = (perf_counter() - t0) * 1000
        finally:
            tracer.uninstall()
        tracer.roots.append(root)
        return out, ms

    # -- reads -------------------------------------------------------------
    def _request(self) -> dict:
        ids = self.rng.sample(sorted(self.points), READ_SERIES)
        # Windows start at a datapoint of the first series, so none is empty.
        t0 = self.rng.choice(self.points[ids[0]])[0]
        return {"ids": ids, "start": t0, "end": t0 + 6 * HOUR_MS}

    def open_sink(self, spark) -> None:
        """Open the sink for reading, as a client serving reads does once:
        Spark lists its files and reads its schema here, not in a read."""
        from pyspark.sql import functions as F

        with job_group(spark.sparkContext, UNTRACED_GROUP):
            self.dp = spark.read.parquet(str(self.sink)).withColumn(
                "ts", F.timestamp_millis("ts_ms"))

    def read(self, spark, timed: bool, traced: bool = False) -> None:
        """One read of the workload's kind through ``plans.read_api``,
        collected to the driver, then checked."""
        req = self._request()
        state = {}

        def call():
            state["df"] = df = self.query(req)
            return df.collect()

        with self.operation(1):
            if self.dp is None:
                self.open_sink(spark)
            if traced:
                # The read's spans come from the benchmark, around call and collect.
                def call_traced(inner=call):
                    with self.tracer.span("plans.read_api", f"bench.{self.read_kind}"):
                        return inner()
                rows, ms = self.timed(spark, True, "bench.read", call_traced)
                self.result.files_read += files_read(state["df"])
            else:
                rows, ms = self.timed(spark, False, "bench.read", call)
            (self.result.read_ms if timed else self.result.warmup_read_ms).append(ms)
            self.check_read(req, rows)

    def reads(self, spark) -> None:
        """READ_WARMUP untimed reads, then READ_TIMED timed ones, every
        second of which runs traced on a traced run."""
        for _ in range(READ_WARMUP):
            self.read(spark, timed=False)
        for i in range(READ_TIMED):
            self.read(spark, timed=True, traced=self.tracer is not None and i % 2 == 1)

    def query(self, req):
        """The read's DataFrame, built through ``plans.read_api`` on the
        opened sink."""
        from pyspark.sql import functions as F

        return self.read_frame(mod("plans.read_api"), self.dp, req, F)

    def read_frame(self, api, dp, req, F):
        raise NotImplementedError

    def check_read(self, req, rows) -> None:
        raise NotImplementedError

    def _window(self, ext, lo, hi):
        return [(t, v) for t, v in self.points.get(ext, []) if lo <= t < hi]


class HistBackfill(Workload):
    """Write: ``plans.pipeline.run_historical`` over one folder, into a
    fresh sink and catalog.  Read: hour aggregates through
    ``plans.read_api.read_datapoints`` on the last sink written."""

    read_kind = "hour_agg"

    def generate(self):
        self.inp = self.work / "hist_in"
        plant = gen.make_plant(self.seed, HIST_PLANT)
        paths = gen.write_tebis_folder(self.inp, self.seed, plant, HIST_FILES,
                                       HIST_WIDTH, HIST_ROWS, HIST_ROWS, HIST_SPAN_S)
        self.expected = decode.decode(paths)
        self._add_points(paths)
        self.runs = 0

    def backfill(self, spark, phase: str, traced: bool = False) -> None:
        """One backfill into a fresh sink and catalog, then its checks.
        The sink stays until the next backfill, for the reads."""
        move_all(self.inp / "finished", self.inp)
        if self.sink is not None:
            shutil.rmtree(self.sink, ignore_errors=True)
        self.runs += 1
        self.sink = self.work / f"hist_sink{self.runs}"
        self.dp = None
        cat = self.work / f"hist_catalog{self.runs}"
        pipeline = mod("plans.pipeline")
        res, exp = self.result, self.expected
        with self.operation(1):
            out, ms = self.timed(spark, traced, "bench.backfill",
                                 lambda: pipeline.run_historical(spark, self.inp, self.sink, cat))
            if phase == "cold":
                res.cold_s = ms / 1000
            elif phase == "warmup":
                res.warmup_write_ms.append(ms)
            else:
                res.write_ms.append(ms)
                res.write_traced.append(traced)
                res.write_items.append(exp.datapoints)
            self._check_backfill(out, cat)
        shutil.rmtree(cat, ignore_errors=True)

    def _check_backfill(self, out, cat):
        exp = self.expected
        want = {"files": exp.files, "datapoints": exp.datapoints,
                "new_series": len(exp.series)}
        if out != want:
            self.fail(f"run_historical returned {out}, expected {want}")
        self._check_sink(exp)
        self._check_catalog(cat, {k: s.name for k, s in exp.series.items()})
        if len(list((self.inp / "finished").glob("*.csv"))) != exp.files:
            self.fail("backfill did not archive every file")

    def read_frame(self, api, dp, req, F):
        return api.read_datapoints(
            dp, req["ids"], F.timestamp_millis(F.lit(req["start"])),
            F.timestamp_millis(F.lit(req["end"])), mode="aggregates", granularity="hour")

    def check_read(self, req, rows):
        want = {}
        for e in req["ids"]:
            for t, v in self._window(e, req["start"], req["end"]):
                want.setdefault((e, t // HOUR_MS), []).append((t, v))
        got = {(r.external_id, ms_of(r.day) // HOUR_MS): r for r in rows}
        ok = len(got) == len(rows) and got.keys() == want.keys() and all(
            r.n_points == len(pts)
            and r.min_value == min(v for _, v in pts)
            and r.max_value == max(v for _, v in pts)
            and (r.first_value, r.last_value) == (min(pts)[1], max(pts)[1])
            and abs(r.sum_value - sum(v for _, v in pts)) <= 0.0051
            for (r, pts) in ((got[k], want[k]) for k in want))
        if not ok:
            self.fail(f"hour-aggregate read {req} returned wrong rows")

    def run(self, spark):
        self.backfill(spark, "cold")
        for _ in range(HIST_WARMUP):
            self.backfill(spark, "warmup")
        self.stats.start()
        for i in range(HIST_TIMED):
            self.backfill(spark, "timed", traced=self.tracer is not None and i % 2 == 1)
        self.reads(spark)
        self.stats.stop()
        return self.result


class LiveDrain(Workload):
    """Write: ``streaming.live.start_live_ingest(available_now=True)`` and
    ``flush_pending`` over a backlog of finished small files, as the
    CLI's ``--live --drain`` runs them (no latest index).  A write
    operation is one micro-batch: the interval between successive
    ``on_batch`` callbacks.  Read: ``mode="latest"`` through
    ``plans.read_api.read_datapoints`` on the live sink."""

    read_kind = "latest"

    def generate(self):
        self.inp = self.work / "live_in"
        self.sink = self.work / "live_sink"
        self.catalog = self.work / "live_catalog"
        self.ckpt = self.work / "live_ckpt"
        self.n_batches = 1 + LIVE_WARMUP + LIVE_TIMED
        plant = gen.make_plant(self.seed, LIVE_PLANT)
        paths = gen.write_tebis_folder(
            self.inp, self.seed, plant, LIVE_FILES_PER_BATCH * self.n_batches,
            LIVE_WIDTH, LIVE_ROWS, LIVE_ROWS, LIVE_SPAN_S, mtime=time.time() - 3600)
        self.expected = decode.decode(paths)
        self._add_points(paths)

    def drain(self, spark) -> None:
        live = mod("streaming.live")
        tracer, res = self.tracer, self.result
        stamps: list[float] = []
        batches: list[dict] = []
        # Traced intervals as (start, end) epoch ms, for the streaming
        # engine's own jobs, which all run in its query's job group.
        self.traced_intervals: list[tuple[float, float | None]] = []
        state = {"span": None}

        def on_batch(batch_id, stats):
            now = perf_counter()
            stamps.append(now)
            batches.append(dict(stats))
            k = len(stamps) - 1           # the batch that just ended
            if state["span"] is not None:
                tracer.close(state["span"])
                self.traced_intervals[-1] = (self.traced_intervals[-1][0], epoch_ms())
                tracer.adopt = state["span"] = None
            if k == LIVE_WARMUP:
                self.stats.start()
            j = k + 1 - (1 + LIVE_WARMUP)     # timed index of the next batch
            if tracer is not None:
                if 0 <= j < LIVE_TIMED and j % 2 == 1:
                    tracer.install()
                    sid = tracer.open("streaming.live", "streaming.live.batch")
                    tracer.roots.append(sid)
                    tracer.adopt = state["span"] = sid
                    self.traced_intervals.append((epoch_ms(), None))
                else:
                    tracer.uninstall()

        # The drain is one operation per micro-batch it should run.
        with self.operation(self.n_batches):
            try:
                with job_group(spark.sparkContext, UNTRACED_GROUP):
                    t0 = perf_counter()
                    q = live.start_live_ingest(spark, self.inp, self.sink, self.catalog,
                                               self.ckpt, available_now=True, on_batch=on_batch)
                    self.run_id = str(q.runId)
                    q.awaitTermination()
                    live.flush_pending(spark, self.inp, self.sink, self.catalog, self.ckpt)
            finally:
                if tracer is not None:
                    tracer.uninstall()
            if stamps:
                res.cold_s = stamps[0] - t0
            intervals = [(b - a) * 1000 for a, b in zip(stamps, stamps[1:])]
            res.warmup_write_ms += intervals[:LIVE_WARMUP]
            for j, (ms, stats) in enumerate(zip(intervals[LIVE_WARMUP:],
                                                batches[1 + LIVE_WARMUP:])):
                res.write_ms.append(ms)
                res.write_traced.append(tracer is not None and j % 2 == 1)
                res.write_items.append(stats["datapoints"])
            self._check_drain(batches)

    def _check_drain(self, batches):
        exp = self.expected
        if len(batches) != self.n_batches:
            self.fail(f"drain ran {len(batches)} micro-batches, expected {self.n_batches}")
        if sum(b["datapoints"] for b in batches) != exp.datapoints:
            self.fail("micro-batch datapoint counts do not add up to the decoded total")
        if any(self.inp.glob("*.csv")):
            self.fail("drain left input files behind")
        if len(list((self.inp / "finished").glob("*.csv"))) != exp.files:
            self.fail("drain did not archive every file")
        self._check_sink(exp)
        self._check_catalog(self.catalog, {k: s.name for k, s in exp.series.items()})

    def read_frame(self, api, dp, req, F):
        return api.read_datapoints(dp, req["ids"], None, None, mode="latest")

    def check_read(self, req, rows):
        want = {e: self.points[e][-1] for e in req["ids"]}
        got = {r.external_id: (ms_of(r.latest_ts), r.latest_value) for r in rows}
        if len(rows) != len(want) or got != want:
            self.fail(f"latest read {req} returned wrong rows")

    def run(self, spark):
        self.drain(spark)
        self.reads(spark)
        self.stats.stop()
        return self.result


WORKLOADS = {"hist_backfill": HistBackfill, "live_drain": LiveDrain}


def median(samples: list[float]) -> float:
    """The median, or 0 for a run whose operations all raised (such a
    run is not correct)."""
    return statistics.median(samples) if samples else 0.0


def warm_drift_pct(samples: list[float]) -> float:
    """Median of the second half of ``samples`` against the first half,
    in percent; negative while the samples are still getting faster."""
    h = len(samples) // 2
    if h == 0:
        return 0.0
    first, second = statistics.median(samples[:h]), statistics.median(samples[-h:])
    return 100.0 * (second / first - 1)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
