"""WAL wire-format parity: parquet / JSONL / CSV readers must feed the
engine to the SAME final table state (the content-sha256 per-row invariant
must not depend on the transport, reference S1-S3)."""

from pyspark.sql import functions as F

from data_exchange_hl7_spark.datagen import change_events
from data_exchange_hl7_spark.engine import Engine
from data_exchange_hl7_spark.sources import WAL_FIELDS, read_wal, write_wal


def _final_state(spark, tmp_path, fmt, ev):
    p = str(tmp_path / f"wal_{fmt}")
    write_wal(ev, p, fmt)
    back = read_wal(spark, p, fmt)
    assert [f.name for f in back.schema] == [n for n, _ in WAL_FIELDS]
    assert dict(back.dtypes)["supporting_metadata"] == "map<string,string>"
    assert dict(back.dtypes)["ts"] == "timestamp"
    eng = Engine(spark, str(tmp_path / f"wh_{fmt}"), n_buckets=8)
    t = eng.snapshot_table("repo_files")
    eng.apply_epoch(back, t, epoch=0, collect_metrics=False)
    return {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in t.snapshot().collect()
    }


def test_wal_formats_identical_final_state(spark, tmp_path):
    ev = change_events(spark, 2000).persist()
    states = {
        fmt: _final_state(spark, tmp_path, fmt, ev)
        for fmt in ("parquet", "jsonl", "csv")
    }
    assert len(states["parquet"]) > 0
    assert states["parquet"] == states["jsonl"]
    assert states["parquet"] == states["csv"]
    ev.unpersist()


def test_wal_csv_null_vs_empty(spark, tmp_path):
    """CSV must round-trip nulls (RENAME new_path checks, DELETE content)
    distinctly from empty strings."""
    ev = change_events(spark, 2000)
    p = str(tmp_path / "wal_nulls")
    write_wal(ev, p, "csv")
    back = read_wal(spark, p, "csv")
    orig = ev.agg(
        F.sum(F.col("new_path").isNull().cast("int")).alias("np"),
        F.sum(F.col("content").isNull().cast("int")).alias("c"),
    ).collect()[0]
    got = back.agg(
        F.sum(F.col("new_path").isNull().cast("int")).alias("np"),
        F.sum(F.col("content").isNull().cast("int")).alias("c"),
    ).collect()[0]
    assert (orig["np"], orig["c"]) == (got["np"], got["c"])


def test_wal_streaming_reader_shares_schema(spark, tmp_path):
    ev = change_events(spark, 500)
    p = str(tmp_path / "wal_stream_src")
    write_wal(ev, p, "jsonl")
    stream = read_wal(spark, p, "jsonl", streaming=True)
    assert stream.isStreaming
    assert [f.name for f in stream.schema] == [n for n, _ in WAL_FIELDS]


def test_jsonl_wal_stream_apply_exactly_once(spark, tmp_path):
    """Composition: a JSONL WAL directory tail (read_wal streaming=True) fed
    through foreachBatch into the exactly-once apply — same final sha state
    as a batch apply of the same events, across two availableNow drains."""
    import os

    ev = change_events(spark, 2000).persist()
    src = str(tmp_path / "jsonl_wal")
    write_wal(ev.filter("lsn < 1000"), src, "jsonl")

    eng = Engine(spark, str(tmp_path / "wh_js"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    ckpt = str(tmp_path / "ckpt_js")

    def drain():
        stream = read_wal(spark, src, "jsonl", streaming=True)

        def apply_batch(batch_df, batch_id):
            eng.apply_epoch(batch_df, table, epoch=batch_id)

        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    n1 = table.snapshot().count()
    assert n1 > 0

    # append the remaining WAL as new jsonl files; the checkpoint drains
    # only the delta, and the final state matches the batch-path oracle
    more = str(tmp_path / "jsonl_more")
    write_wal(ev.filter("lsn >= 1000"), more, "jsonl")
    for f in os.listdir(more):
        if not f.startswith("_"):
            os.rename(os.path.join(more, f), os.path.join(src, "b_" + f))
    drain()

    eng2 = Engine(spark, str(tmp_path / "wh_batch"), n_buckets=8)
    t2 = eng2.snapshot_table("repo_files")
    eng2.apply_epoch(ev, t2, epoch=0, collect_metrics=False)
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in table.snapshot().collect()}
    want = {(r["repo"], r["path"]): r["content_sha256"] for r in t2.snapshot().collect()}
    assert got == want
    ev.unpersist()
