"""Whole-registry physical-plan audit (r5) — automates the anti-pattern
sweep the round-4 review did by hand (grep for collect/crossJoin/udf).

For every `queries()` entry, build the DataFrame at sf0.01 and classify
its FORMATTED physical plan's nodes:

  - `BatchEvalPython` (row-at-a-time Python UDF) — NEVER allowed; the
    repo's contract is zero per-row Python anywhere.
  - `CartesianProduct` (non-broadcast cross join) — never allowed; the
    deliberate brute-force-kNN parity path uses a BROADCAST nested-loop
    join, which is bounded by the broadcast side.
  - `Scan ExistingRDD` over Python rows (a table built by
    `createDataFrame` on a Python list) — never allowed: its rows are
    unpickled by a Python worker pool of its own; constant tables go
    through `session.local_frame` (a JVM `LocalTableScan`) instead. A
    `localCheckpoint` plans under the same node name but scans a JVM RDD,
    so the node's RDD origin (`applySchemaToPythonRDD`) tells them apart.
  - Arrow-vectorized Python (`ArrowEvalPython`, `MapInPandas`,
    `FlatMapGroupsInPandas`, `FlatMapGroupsInPandasWithState`,
    `BroadcastNestedLoopJoin`) — allowed ONLY for entries whitelisted
    below, each with the design reason the plan can't avoid Python or a
    nested-loop (the reason is the audit's documentation, not a waiver).

Writes PLAN_AUDIT.json {entry: {nodes, exchanges, verdict}} plus a
summary line; exits non-zero if any entry is "unexpected" so this can
run as a gate. Streaming entries execute their micro-batches when the
registry callable materializes them — their audited plan is the batch
result's, and the stream-side shape is pytest-pinned instead.
"""

from __future__ import annotations

import json
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.01"

# entry -> (allowed node kinds, why Python/NLJ is the right plan there)
WHITELIST: dict[str, tuple[set[str], str]] = {
    # (polygon-side work — the PIP index, validity, area, centroid — runs
    # on the driver and plans as local tables, so no entry is listed for it)
    # simhash needs per-doc token hashing with bit accumulation — a
    # vectorized numpy kernel; no Catalyst expression computes it
    "simhash": ({"ArrowEvalPython"}, "64-bit simhash numpy kernel"),
    "simhash_pairs": ({"ArrowEvalPython"}, "64-bit simhash numpy kernel"),
    # multimodal: binary decode plumbing is mapInPandas BY DESIGN
    "binary_metadata": ({"MapInPandas"}, "binary column metadata extraction"),
    "frame_sample": ({"MapInPandas"}, "frame sampling over binary payloads"),
    # event sessions: custom stateful op (applyInPandasWithState twin's
    # batch form uses grouped pandas)
    "event_sessions": ({"FlatMapGroupsInPandas"},
                       "session gap-split is inherently per-key stateful"),
    "event_sessions_stream": ({"FlatMapGroupsInPandas",
                               "FlatMapGroupsInPandasWithState"},
                              "applyInPandasWithState stateful sessions"),
    # brute-force kNN parity path: BROADCAST nested-loop (bounded small
    # side), kept as the exactness oracle for the k-ring strategy; the
    # ArrowEvalPython is the probe side's Albers projection (knn.py
    # _albers_udf) over an AQE-coalesced shuffle; POIs project on the driver
    "knn_nearest": ({"BroadcastNestedLoopJoin", "ArrowEvalPython"},
                    "broadcast brute-force parity path + probe-side Albers UDF"),
    "knn_topk": ({"BroadcastNestedLoopJoin", "ArrowEvalPython"},
                 "broadcast brute-force top-k parity path + probe-side Albers UDF"),
    # k=1 kring adds its fallback POIs by a broadcast HASH join (a key
    # column that is NULL for covered points), so only the UDF remains
    "knn_kring": ({"ArrowEvalPython"}, "probe-side Albers UDF"),
    "centroid_nearest_poi": ({"BroadcastNestedLoopJoin", "ArrowEvalPython"},
                             "probe-side Albers UDF + broadcast brute-force join"),
    "cluster_metrics": ({"BroadcastNestedLoopJoin"},
                        "one-row bounds frame broadcast-crossed"),
    "equal_interval_bins": ({"BroadcastNestedLoopJoin"},
                            "one-row min/max bounds frame broadcast-crossed "
                            "(stats.py:198)"),
    "poi_broadcast": ({"BroadcastNestedLoopJoin"},
                      "one-row first-POI frame broadcast onto every unit"),
    "unigram_familiarity": ({"BroadcastNestedLoopJoin"},
                            "one-row corpus-total frame broadcast-crossed "
                            "(operators/lm.py)"),
    "bigram_familiarity": ({"BroadcastNestedLoopJoin"},
                           "one-row corpus-total frame broadcast-crossed "
                           "(operators/lm.py)"),
    "corpus_curation_lm": ({"BroadcastNestedLoopJoin"},
                           "one-row corpus-total frame broadcast-crossed "
                           "on the LM branch (operators/lm.py)"),
    # composites built on knn_join inherit its Albers/parity nodes
    "dedup_units": ({"ArrowEvalPython", "BroadcastNestedLoopJoin"},
                    "kNN probe-side Albers/parity upstream"),
    # ANN family: vectorized hyperplane/IVF assignment pandas_udfs
    # (similarity.lsh_buckets, ivf_ann_topk's list_id, lsh_band_keys —
    # embedding-batch Arrow kernels) and the one per-partition top-k heap
    # kernel (similarity._heap_topk mapInPandas — O(1) plan size in |Q|)
    "lsh_ann": ({"ArrowEvalPython", "MapInPandas"},
                "assignment kernel + per-partition heap kernel"),
    "ivf_ann": ({"ArrowEvalPython", "MapInPandas"},
                "assignment kernel + per-partition heap kernel"),
    "embedding_dup": ({"ArrowEvalPython"},
                      "multi-table hyperplane LSH Arrow kernel"),
    "cosine_topk_many": ({"MapInPandas"}, "per-partition top-k heap kernel"),
}

PY_ROWS_SCAN = "Scan ExistingRDD (Python rows)"
PY_NODES = {
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    PY_ROWS_SCAN,
}


def plan_nodes(plan: str) -> list[str]:
    """Operator names from a FORMATTED plan's per-node detail blocks.
    Scans keep their source word ("Scan parquet"); a scan of an RDD of
    Python rows is named ``PY_ROWS_SCAN``."""
    nodes = []
    for block in re.split(r"^(?=\(\d+\) )", plan, flags=re.M)[1:]:
        name = re.match(r"\(\d+\) (Scan \w+|\w+)", block).group(1)
        if name == "Scan ExistingRDD" and " at applySchemaToPythonRDD " in block:
            name = PY_ROWS_SCAN
        nodes.append(name)
    return nodes


def main() -> None:
    import __spark_entry__ as entrymod
    from socialmapper_spark.session import get_spark

    spark = get_spark(master="local[8]")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    results: dict[str, dict] = {}
    unexpected = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 — audit records, never dies
            results[name] = {"error": str(exc)[:200], "verdict": "error"}
            unexpected.append(name)
            continue
        ops = plan_nodes(plan)
        flagged = sorted({o for o in ops if o in PY_NODES})
        allowed, reason = WHITELIST.get(name, (set(), ""))
        bad = [o for o in flagged if o not in allowed]
        verdict = "clean" if not flagged else ("whitelisted" if not bad else "unexpected")
        if bad:
            unexpected.append(name)
        results[name] = {
            "python_or_nlj_nodes": flagged,
            "exchanges": sum(1 for o in ops if o == "Exchange"),
            "verdict": verdict,
            **({"reason": reason} if flagged and not bad else {}),
            **({"unexpected": bad} if bad else {}),
        }
    spark.stop()

    counts = {
        v: sum(1 for r in results.values() if r["verdict"] == v)
        for v in ("clean", "whitelisted", "unexpected", "error")
    }
    out = {"sf": SF_DIR, "counts": counts, "entries": results}
    with open(ROOT / "PLAN_AUDIT.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"metric": "plan_audit", **counts}))
    if unexpected:
        print("UNEXPECTED:", unexpected, file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
