"""The one streaming source and drain (socialmapper_spark/streaming.py):
stream operators run over several micro-batches equal their batch plans,
and no other package module reads or writes a stream itself."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "socialmapper_spark"


def test_only_streaming_module_touches_read_or_write_stream():
    """Spark-free guard: every stream operator takes a streaming frame and
    drains through streaming.py, so a second copy of the readStream /
    writeStream boilerplate fails here."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "streaming.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in (
                "readStream", "writeStream",
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert offenders == []


def _split_crawl(spark, out_dir, n_files=3):
    """The sf0.001 crawl table rewritten as ``n_files`` parquet files,
    each a warc_ts range, written oldest first."""
    import pyarrow.parquet as pq

    from socialmapper_spark.fixtures import ensure_crawl_fixture

    crawl = str(ensure_crawl_fixture("sf0.001"))
    table = pq.read_table(f"{crawl}/crawl_pages.parquet").sort_by("warc_ts")
    out_dir.mkdir()
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), out_dir / f"part{i}.parquet")
    return spark.read.parquet(f"{crawl}/crawl_pages.parquet")


def test_multibatch_drain_equals_batch(spark, tmp_path):
    """host_daily_stream (complete mode) and admission_gate (append mode)
    over a 3-file directory drained one file per trigger — three
    micro-batches each — equal their batch plans."""
    from socialmapper_spark.operators.web import (
        admission_gate,
        host_daily,
        host_daily_stream,
    )
    from socialmapper_spark.streaming import drain, parquet_stream

    d = tmp_path / "crawl"
    pages = _split_crawl(spark, d)

    def source():
        return parquet_stream(spark, str(d), "*.parquet", max_files_per_trigger=1)

    daily = {tuple(r) for r in host_daily_stream(source()).collect()}
    assert daily == {tuple(r) for r in host_daily(pages).collect()}

    gate = dict(min_chars=122, min_words=23, max_digit_ratio=0.05)
    ckpt = tmp_path / "gate_ckpt"
    got = drain(admission_gate(source(), **gate), "append", str(ckpt))
    assert len(list((ckpt / "commits").glob("[0-9]*"))) == 3
    a = sorted(map(tuple, got.collect()), key=repr)
    b = sorted(map(tuple, admission_gate(pages, **gate).collect()), key=repr)
    assert a == b and len(a) == pages.count()
