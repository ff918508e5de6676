"""Tests of the benchmark itself: its generator, its reference decode, its
output checks, its spans, and its metric list.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import time
from pathlib import Path

import decode
import gen
import layers
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import workloads
from spans import Tracer

REPO = Path(__file__).resolve().parents[2]


def _folder_bytes(folder: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(folder.glob("*.csv"))}


def test_generator_is_deterministic_per_seed(tmp_path):
    def make(seed, where):
        plant = gen.make_plant(seed, 50)
        gen.write_tebis_folder(tmp_path / where, seed, plant, 5, (10, 40), 30, 30, 86400)
        return _folder_bytes(tmp_path / where)

    assert make(7, "a") == make(7, "b")
    assert make(7, "a") != make(8, "c")


def test_generated_files_have_the_tebis_shape(tmp_path):
    plant = gen.make_plant(1, 100)
    paths = gen.write_tebis_folder(tmp_path, 1, plant, 20, (10, 40), 200, 200, 86400)
    text = "".join(p.read_text(encoding="latin-1") for p in paths)
    assert "°C" in text and "," in text
    assert any(s.external_id.count(":") >= 2 for s in plant)
    cells = [c for p in paths for line in p.read_text(encoding="latin-1").splitlines()[2:]
             for c in line.split(";")[1:]]
    bad = sum(1 for c in cells if c and decode.parse_value(c) is None)
    empty = sum(1 for c in cells if not c)
    assert 0.002 < bad / len(cells) < 0.01
    assert 0.01 < empty / len(cells) < 0.04


def _engine_summary(spark, paths):
    from datapoints_csv_extractor_spark.sources.tebis_csv import read_datapoints

    rows = read_datapoints(spark, paths).collect()
    out = {}
    for r in rows:
        n, ts, v = out.get(r.external_id, (0, 0, 0))
        out[r.external_id] = (n + 1, ts + r.ts_ms, v + decode.scaled(r.value))
    return out, {(r.external_id, r.name) for r in rows}


def test_decode_agrees_with_engine_on_reference_shapes(spark, tmp_path):
    series = gen.make_plant(5, 10)
    shapes = [
        ("TEBIS_FK_1550092560.csv", series[:1]),
        ("TEBIS_FK_1550092620.csv", series),
        ("TEBIS_FK_1550092680.csv",
         [gen.Series("FK:L1:T9", "Druck Ölstand", ""), gen.Series("FK_T8", "Zähler", "")]),
    ]
    for i, (name, cols) in enumerate(shapes):
        path = tmp_path / f"f{i}" / name
        path.parent.mkdir()
        start = int(name.split("_")[-1][:-4])
        path.write_text(gen.tebis_text(random.Random(name), cols, start, 60),
                        encoding="latin-1", newline="")
        want = decode.decode([path])
        got, names = _engine_summary(spark, [path])
        assert want.datapoints > 0
        assert decode.series_mismatches(want, got) == []
        assert names == {(k, s.name) for k, s in want.series.items()}

    # Fixture 1 exactly: 60 rows of one series, no empty or bad cells.
    path = tmp_path / "fx1" / "TEBIS_FK_1550092560.csv"
    path.parent.mkdir()
    lines = [";ext:id:1 : Temperatur", "Zeitstempel;°C"]
    lines += [f"{1550092560 + r};{r},5" for r in range(60)]
    path.write_text("\r\n".join(lines) + "\r\n", encoding="latin-1")
    want = decode.decode([path])
    assert want.datapoints == 60 and list(want.series) == ["ext:id:1"]
    got, _ = _engine_summary(spark, [path])
    assert got == {"ext:id:1": want.series["ext:id:1"].key()}


@pytest.fixture
def small_hist(tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "HIST_FILES", 3)
    wl = workloads.HistBackfill(tmp_path, 4)
    wl.generate()
    return wl


def test_corrupted_outputs_are_caught_and_counted(spark, small_hist, monkeypatch):
    wl = small_hist
    wl.backfill(spark, "timed")
    wl.read(spark, timed=True)
    res = wl.result
    assert (res.attempted, res.failed) == (2, 0) and wl.problems == []
    assert len(res.write_ms) == 1 and len(res.read_ms) == 1

    # A sink that loses one datapoint fails its backfill.
    pipeline = workloads.mod("plans.pipeline")
    real = pipeline.write_datapoints

    def lossy(df, path, *a, **kw):
        return real(df.exceptAll(df.limit(1)), path, *a, **kw)

    monkeypatch.setattr(pipeline, "write_datapoints", lossy)
    wl.backfill(spark, "timed")
    monkeypatch.setattr(pipeline, "write_datapoints", real)
    assert (res.attempted, res.failed) == (3, 1)
    assert any("sink differs" in p for p in wl.problems)

    # A read that loses a row fails its check.
    wl.backfill(spark, "timed")
    assert res.failed == 1
    req = wl._request()
    wl.open_sink(spark)
    rows = wl.query(req).collect()
    assert rows
    with wl.operation(1):
        wl.check_read(req, rows[1:])
    assert (res.attempted, res.failed) == (5, 2)

    # A backfill that raises fails, and the run goes on.
    def broken(*a, **kw):
        raise RuntimeError("engine failure")

    run_historical = pipeline.run_historical
    monkeypatch.setattr(pipeline, "run_historical", broken)
    wl.backfill(spark, "timed")
    monkeypatch.setattr(pipeline, "run_historical", run_historical)
    assert (res.attempted, res.failed) == (6, 3) and len(res.write_ms) == 3
    # ... and so does a read of the sink it did not write.
    wl.read(spark, timed=True)
    assert (res.attempted, res.failed) == (7, 4) and len(res.read_ms) == 1

    # A catalog that keeps a series' larger name fails.
    exp = wl.expected
    names = {k: s.name for k, s in exp.series.items()}
    key = next(iter(names))
    cat = wl.work / "cat_check"
    wl.problems.clear()
    cat.mkdir()
    rows = [(k, n + "~" if k == key else n) for k, n in names.items()]
    pq.write_table(pa.table({"external_id": [r[0] for r in rows],
                             "name": [r[1] for r in rows]}), cat / "part-0.parquet")
    wl._check_catalog(cat, names)
    assert wl.problems

    # Summaries catch a single changed value.
    good = {k: s.key() for k, s in exp.series.items()}
    n, ts, v = good[key]
    assert decode.series_mismatches(exp, {**good, key: (n, ts, v + 1)}) == [key]


class FakeContext:
    """Stands in for a SparkContext: the tracer only sets local properties."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


class FakeSession:
    def __init__(self):
        self.sparkContext = FakeContext()


def _assert_nested(tracer: Tracer) -> None:
    for s in tracer.spans.values():
        assert s.end is not None and s.end >= s.start
        assert tracer.self_ms(s.id) >= -1e-6
        for c in s.children:
            child = tracer.spans[c]
            assert s.start <= child.start and child.end <= s.end


def test_spans_nest_and_restore_job_groups():
    tracer = Tracer(FakeSession())
    sc = tracer.sc
    sc.setLocalProperty("spark.jobGroup.id", "outer")
    with tracer.span("bench", "op") as root:
        with tracer.span("plans.pipeline"):
            assert sc.getLocalProperty("spark.jobGroup.id") == "plans.pipeline"
            with tracer.span("sinks.datapoints"):
                assert sc.getLocalProperty("spark.jobGroup.id") == "sinks.datapoints"
            with tracer.span("sinks.catalog_store"):
                pass
            assert sc.getLocalProperty("spark.jobGroup.id") == "plans.pipeline"
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    _assert_nested(tracer)
    times = tracer.layer_times([root])
    assert times["plans.pipeline"]["calls"] == 1
    assert times["sinks.datapoints"]["calls"] == 1
    total_self = sum(t["self_ms"] for t in times.values())
    assert total_self == pytest.approx(tracer.spans[root].ms, rel=1e-6)


def test_attribution_drops_for_an_untraced_callee():
    def backfill(untraced_s):
        tracer = Tracer(FakeSession())
        with tracer.span("bench", "bench.backfill") as root:
            with tracer.span("plans.pipeline", "plans.pipeline.run_historical"):
                with tracer.span("sinks.datapoints"):
                    time.sleep(0.05)
                time.sleep(untraced_s)      # work no wrapper covers
        return layers.attribution(tracer, [root])

    covered, _ = backfill(0.0)
    partial, missing = backfill(0.05)
    assert covered > 90
    assert partial < 60 and missing >= 50

    # A micro-batch's trigger overhead (its root's self-time) is attributed.
    tracer = Tracer(FakeSession())
    root = tracer.open("streaming.live", layers.BATCH_ROOT)
    time.sleep(0.05)
    with tracer.span("streaming.live", "streaming.live.process_batch"):
        with tracer.span("sources.tebis_csv"):
            time.sleep(0.05)
    tracer.close(root)
    assert layers.attribution(tracer, [root])[0] > 90


def test_traced_backfill_spans_nest(spark, small_hist):
    wl = small_hist
    wl.tracer = Tracer(spark)
    wl.backfill(spark, "timed", traced=True)
    wl.read(spark, timed=True, traced=True)
    assert wl.result.failed == 0
    _assert_nested(wl.tracer)
    layers = {s.layer for s in wl.tracer.spans.values()}
    assert {"bench", "plans.pipeline", "sources.files", "sources.tebis_csv",
            "sinks.datapoints", "sinks.catalog_store", "sinks.lifecycle",
            "plans.read_api"} <= layers
    assert len(wl.tracer.roots) == 2
    assert wl.tracer.counters["sinks.datapoints.files_written"] > 0
    assert wl.result.files_read > 0
    # The wrappers are gone once the traced operation ends.
    assert not hasattr(workloads.mod("plans.pipeline").run_historical, "__wrapped__")


def test_benchmark_json_lists_what_the_runs_print():
    import run

    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == run.END_TO_END
    res = workloads.Result(cold_s=9.0, write_ms=[2000.0, 2100.0], write_items=[100, 100],
                           read_ms=[400.0, 500.0])
    assert list(run.e2e_metrics(res, 10.0)) == list(run.END_TO_END)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert bench["paths"] == ["perfbench"]
