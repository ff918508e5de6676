"""Benchmark of the datapoints engine's own pipelines.

    python3 perfbench/run.py --workload hist_backfill --seed 1 --seconds 30 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed under ``.bench_work/``, starts one Spark session on
``local[<cpus>]`` (``setup_s``: from the start until its first trivial
job ends), then makes the workload's fixed sequence of operations in a
closed loop with one client: the cold first write (``cold_s``), warm-up
operations, and the timed ones.  Every output is checked outside the
operations' times.  Sample counts are fixed by the workload, so
``--seconds`` sets nothing: it is part of the command line that
BENCHMARK.json describes, whose ``run_seconds`` states the usual length
of the timed part.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``; an engine operation that
raises counts as failed, and the run goes on.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every second timed
operation runs traced, and the metrics are per layer (``layers.py``).
Progress and each run's steadiness report go to standard error.
``perfbench/README.md`` describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path
from time import perf_counter

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Timed samples whose later half is this much faster than their first
# half are still on the warm-up curve: the warm-up was too short.
DRIFT_LIMIT_PCT = 10.0

# name -> (unit, better); the end-to-end metrics of an untraced run.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_s": ("s", "lower"),
    "write_p50_ms": ("ms", "lower"),
    "write_per_s": ("1/s", "higher"),
    "read_p50_ms": ("ms", "lower"),
}


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Keep every file the run writes (Spark's scratch and temp files
    included) inside ``work``, and read timestamps back as UTC."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = str(tmp)


def e2e_metrics(res, setup_s: float) -> dict[str, float]:
    from workloads import median

    write_s = sum(res.write_ms) / 1000
    return {
        "setup_s": setup_s,
        "cold_s": res.cold_s,
        "write_p50_ms": median(res.write_ms),
        "write_per_s": sum(res.write_items) / write_s if write_s else 0.0,
        "read_p50_ms": median(res.read_ms),
    }


def report(res, stats, setup_s: float) -> None:
    """The steadiness self-report every run logs."""
    from layers import untraced_writes
    from workloads import log, warm_drift_pct

    def ms(xs):
        return [round(x) for x in xs]

    log(f"setup {setup_s:.2f} s, cold write {res.cold_s:.2f} s")
    log(f"warm-up writes {ms(res.warmup_write_ms)} ms, reads {ms(res.warmup_read_ms)} ms")
    log(f"timed writes {ms(res.write_ms)} ms, reads {ms(res.read_ms)} ms")
    drift = {"writes": warm_drift_pct(untraced_writes(res)),
             "reads": warm_drift_pct(res.read_ms)}
    log(f"samples: {len(res.write_ms)} timed writes after {len(res.warmup_write_ms)} "
        f"warm-up, {len(res.read_ms)} timed reads after {len(res.warmup_read_ms)} warm-up; "
        f"host.steal_pct {stats.steal_pct:.2f}, session.jit_ms {stats.jit_ms:.0f}, "
        f"session.gc_ms {stats.gc_ms:.0f}, bench.warm_drift_pct {drift['writes']:+.1f} "
        f"(reads {drift['reads']:+.1f})")
    for kind, pct in drift.items():
        if pct < -DRIFT_LIMIT_PCT:
            log(f"timed {kind} were still getting faster: their warm-up is too short "
                "and this run's samples of them are not steady-state")


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    sys.path.insert(1, str(ROOT))
    args = parse_args(argv)
    # Fails here, before any output, when the engine's sources are absent.
    import datapoints_csv_extractor_spark  # noqa: F401
    from jvm import SessionStats, start_session, stop_jvm
    from spans import Tracer, max_job_id
    from workloads import WORKLOADS, log

    started = perf_counter()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    workload = WORKLOADS[args.workload](work, args.seed)
    try:
        workload.generate()
        log(f"inputs generated in {perf_counter() - started:.1f} s")
        t0 = perf_counter()
        spark = start_session(work, len(os.sched_getaffinity(0)))
        spark.range(1).count()
        setup_s = perf_counter() - t0
        stats = workload.stats = SessionStats(spark)
        if args.trace:
            workload.tracer = Tracer(spark)
            first_job = max_job_id(spark.sparkContext)
        res = workload.run(spark)
        report(res, stats, setup_s)
        if args.trace:
            from layers import PER_LAYER, layer_metrics

            values = layer_metrics(spark, workload.tracer, workload, res, stats, first_job)
            metrics = {k: (v, PER_LAYER[k][0]) for k, v in values.items()}
            out_dir = ROOT / ".bench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"spans-{args.workload}-{args.seed}.json").write_text(
                json.dumps(workload.tracer.dump()))
        else:
            metrics = {k: (v, END_TO_END[k][0]) for k, v in e2e_metrics(res, setup_s).items()}
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        log(f"done in {perf_counter() - started:.1f} s")
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
