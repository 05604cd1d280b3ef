"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

They pin what the benchmark's figures rest on: seeded inputs, an oracle
that agrees with the engine, failures counted instead of crashing the
run, and metric names that match ``BENCHMARK.json``. Inputs are shrunk
to a few thousand pages so the whole file runs in a few minutes.
"""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import run  # noqa: E402

TINY_PAGES = 3_000


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    for w in gen.WORKLOADS:
        monkeypatch.setitem(gen.SIZES, w, {**gen.SIZES[w], "pages": TINY_PAGES})


@pytest.fixture(scope="module")
def bench_json() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_inputs_and_oracle(workload, tmp_path):
    a = gen.generate(workload, 7, tmp_path / "a")
    b = gen.generate(workload, 7, tmp_path / "b")
    c = gen.generate(workload, 8, tmp_path / "c")
    assert (a["input_sha"], a["oracle_sha"]) == (b["input_sha"], b["oracle_sha"])
    assert a["input_sha"] != c["input_sha"]
    assert a["expected_rows"] > 0


def test_knn_oracle_matches_brute_force():
    import numpy as np

    rng = np.random.default_rng(3)
    px, py = rng.uniform(0, 60_000, 500), rng.uniform(0, 40_000, 500)
    qx, qy = rng.uniform(-5_000, 65_000, 300), rng.uniform(-5_000, 45_000, 300)
    j, d = gen.knn_expected(qx, qy, px, py, chunk=64)
    dd = np.sqrt((qx[:, None] - px[None, :]) ** 2 + (qy[:, None] - py[None, :]) ** 2) / 1000.0
    assert np.array_equal(j, dd.argmin(axis=1))
    assert np.array_equal(d, dd.min(axis=1))


def test_metric_names_match_benchmark_json(bench_json):
    e2e = {m["name"]: m["unit"] for m in bench_json["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench_json["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert {w["name"] for w in bench_json["workloads"]} <= set(gen.WORKLOADS)


# measure() starts and stops its own JVM: these run before the shared
# session below exists, so neither stops the other's JVM
@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace, bench_json, tmp_path, capsys):
    workload = "nearest_poi" if trace else "enrich_flagship"
    result, report = run.measure(workload, 5, 0.0, bool(trace), cache=tmp_path)
    run.print_result(result, report)
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    key = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in last["metrics"].items()} == \
        {m["name"]: m["unit"] for m in bench_json[key]}
    if trace:
        m = {k: v["value"] for k, v in last["metrics"].items()}
        assert m["knn.ring_rows"] > 0 and m["knn.python_rows"] > 0
        assert m["lineage.buckets"] > 0 and m["lineage.out_bytes_per_row"] > 0
        assert m["spatial_join.s"] == 0 and m["pipeline.assign_s"] == 0
    else:
        assert all(v["value"] > 0 for v in last["metrics"].values())


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = tmp_path_factory.mktemp("work")
    spark = run.start(work, trace=False)
    yield spark, work
    run.shutdown(spark)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_oracle_matches_engine(workload, session, tmp_path):
    from workloads import WORKLOADS, register

    spark, work = session
    data, meta = gen.ensure(workload, 5, tmp_path)
    wl = WORKLOADS[workload]
    ctx = register(spark, data, work, meta)
    loop = run.Loop(wl, ctx, wl.expected(ctx))
    assert loop.rep() is not None
    assert (loop.attempted, loop.failed) == (1, 0), loop.errors


def test_bad_output_counts_as_failed(session, tmp_path):
    from workloads import WORKLOADS, register

    spark, work = session
    data, meta = gen.ensure("enrich_flagship", 5, tmp_path)
    wl = WORKLOADS["enrich_flagship"]
    ctx = register(spark, data, work, meta)
    expected = wl.expected(ctx)
    corrupted = [expected[0][:2] + (expected[0][2] + 1,) + expected[0][3:]] + expected[1:]
    loop = run.Loop(wl, ctx, corrupted)
    assert loop.rep() is not None  # timed, but failed
    ctx.frames["pages"] = None  # the job now raises
    assert loop.rep() is None
    assert (loop.attempted, loop.failed) == (2, 2)


def test_bad_written_output_counts_as_failed(session, tmp_path):
    from workloads import WORKLOADS, register

    spark, work = session
    data, meta = gen.ensure("nearest_poi", 5, tmp_path)
    wl = WORKLOADS["nearest_poi"]
    ctx = register(spark, data, work, meta)
    rows, checksum = wl.expected(ctx)
    loop = run.Loop(wl, ctx, (rows, checksum ^ 1))
    assert loop.rep() is not None
    assert (loop.attempted, loop.failed) == (1, 1)
