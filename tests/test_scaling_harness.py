"""scripts/scaling.py: the workload table's JSON schemas, its job builders
and the host core pair."""

import json
import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "scripts"))

import scaling  # noqa: E402

SF_SMALL = str(pathlib.Path(scaling.SF_DIR).with_name("sf0.001"))


def committed_keys(w) -> set[str]:
    keys = set(json.loads((ROOT / w.out).read_text()))
    # added by hand to the sketch result after its run, not by a script
    return keys - {"shuffle_kernel_ceiling_r4"}


def fake_best(w, pair, committed):
    """Child results as the protocol collects them: job 4x faster on 4x
    the cores would be ideal; here it is 2x, the kernel likewise 2x."""
    small, big = pair
    counts = {k[2:]: 1000 for k in committed if k.startswith("n_") and k != w.size_key}
    parts = {"asof_sec": 1.0, "interval_sec": 1.0} if "parts_small" in committed else None
    job = {c: {"sec": t, "counts": counts, **({"parts": parts} if parts else {})}
           for c, t in ((small, 4.0), (big, 2.0))}
    kern = {small: {"sec": 2.0}, big: {"sec": 1.0}}
    return {"kernel": kern, "shuffle": kern, w.name: job}


@pytest.mark.parametrize("name", list(scaling.WORKLOADS))
def test_summary_keys_match_committed_json(name):
    w = scaling.WORKLOADS[name]
    pair = (8, 32)
    committed = committed_keys(w)
    out = scaling.summarize(w, pair, fake_best(w, pair, committed))
    assert set(out) == committed
    assert out["raw_efficiency"] == 0.5
    assert out["host_ceiling_efficiency"] == 0.5
    assert out["value"] == out["normalized_efficiency"] == 1.0
    assert out["metric"].endswith("scaling_efficiency_8_to_32")
    assert out["cores"] == [8, 32]


def test_every_scaling_json_has_one_producing_row():
    outs = [w.out for w in scaling.WORKLOADS.values()]
    assert len(outs) == len(set(outs))
    # the streaming family is produced by scripts/streaming_bench.py scaling
    produced = set(outs) | {"BENCH_SCALING_STREAMING.json", "BENCH_SCALING_CONTROL_r04.json"}
    assert {p.name for p in ROOT.glob("BENCH_SCALING*.json")} == produced


@pytest.mark.parametrize("nproc,pair", [(1, (1, 4)), (4, (1, 4)), (32, (8, 32))])
def test_core_pair_from_nproc(nproc, pair):
    assert scaling.core_pair(nproc) == pair


def test_replicate_crawl_keeps_hosts_for_any_scheme(spark):
    from pyspark.sql import functions as F

    from socialmapper_spark.operators.web import page_host

    crawl = spark.createDataFrame(
        [("http://host1.example.org/a?q=1", "t1"),
         ("https://host2.example.org:8080/b", "t2")],
        "url string, text string",
    )
    rows = scaling.replicate_crawl(crawl, 3).select(
        page_host(F.col("url")).alias("host"), "text"
    ).collect()
    assert len(rows) == 3 * 2
    assert sorted(r["host"] for r in rows) == sorted(
        f"r{i}x.host{h}.example.org" for i in range(3) for h in (1, 2)
    )
    assert sorted(r["text"] for r in rows) == sorted(
        f"t{h} r{i}" for i in range(3) for h in (1, 2)
    )


@pytest.mark.parametrize("name", list(scaling.WORKLOADS))
def test_job_builder_smoke(spark, name):
    w = scaling.WORKLOADS[name]
    run, counts = w.build(spark, SF_SMALL, 1)
    parts = run()
    spark.catalog.clearCache()
    assert counts and all(v > 0 for v in counts.values())
    assert {f"n_{k}" for k in counts} <= committed_keys(w)
    assert parts is None or set(parts) == {"asof_sec", "interval_sec"}
