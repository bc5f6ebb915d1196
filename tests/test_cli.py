"""The deployable CLI surface (python -m data_exchange_hl7_spark / the
spark-submit two-liner): every verb is a thin shim over the public API, so
this drives the full lifecycle — ingest, inspect, metrics, purge, compact,
expire, replay — and checks the printed JSON and exit codes.

The verbs run in-process through ``main(argv)``, which picks up the test
session (``build_session`` is ``getOrCreate``), so each verb does not pay
its own JVM start. ``test_cli_stream_starts_on_empty_wal_dir`` runs
``python -m data_exchange_hl7_spark`` as a real subprocess, which keeps the
module entry point covered."""

import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile

import pytest

from data_exchange_hl7_spark.__main__ import main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(autouse=True)
def _cli_cpus(monkeypatch):
    # build_session derives shuffle partitions from SPARK_GRAFT_CPUS and sets
    # them on the shared session: pin the value the test session uses
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")


def _cli_raw(*args):
    """Run one verb in-process: (exit code, stdout, stderr)."""
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        rc = main(list(args))
    return rc, out.getvalue(), err.getvalue()


def _cli(*args):
    rc, out, err = _cli_raw(*args)
    assert rc == 0, err[-3000:]
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def test_cli_lifecycle(spark):
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.sources import write_wal

    wal = tempfile.mkdtemp(prefix="cli_wal_")
    wh = tempfile.mkdtemp(prefix="cli_wh_")
    write_wal(change_events(spark, 3000), wal)

    out = _cli(
        "ingest", "--warehouse", wh, "--wal", wal, "--epoch-size", "1500",
        "--buckets", "8", "--compact-every", "2",
    )
    assert out[-1]["rows"] > 0 and len(out) >= 2
    assert all(s["applied"] for s in out[:-1])

    files = _cli("inspect", "--warehouse", wh, "--what", "files")
    assert files and {"base"} <= {f["kind"] for f in files}
    snaps = _cli("inspect", "--warehouse", wh, "--what", "snapshots")
    assert len(snaps) >= 2

    metrics = _cli("metrics", "--warehouse", wh)
    assert len(metrics) == len(out) - 1  # one lineage row per applied epoch

    victim = files and "org-0001/proj"
    p = _cli(
        "purge", "--warehouse", wh, "--predicate", f"repo = '{victim}'",
        "--epoch", "9999", "--buckets", "8",
    )
    assert p[-1]["applied"]

    _cli("compact", "--warehouse", wh, "--max-delta-depth", "0")
    _cli("expire", "--warehouse", wh, "--keep-last", "1")

    rp = _cli(
        "replay", "--warehouse", wh, "--wal", wal, "--table", "replay_t",
        "--epoch-size", "1500", "--buckets", "8", "--repo", victim,
    )
    assert rp[-1]["table"] == "replay_t" and rp[-1]["rows"] > 0

    # vacuum closes the orphan loop: plant a crashed writer's leftover
    # under an OLD snapshot id, see it in the dry-run report, sweep it
    # with --delete (age guard disabled for the quiesced test table)
    d = os.path.join(wh, "repo_files", "data", "s00000001-deadbeef", "__bucket=0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-orphan.parquet"), "wb") as f:
        f.write(b"PAR1 not a real file PAR1")
    dry = _cli("vacuum", "--warehouse", wh)
    assert dry[-1]["dry_run"] and len(dry[-1]["orphans"]) == 1
    swept = _cli(
        "vacuum", "--warehouse", wh, "--delete", "--older-than-hours", "0",
    )
    assert swept[-1]["removed_files"] == 1 and swept[-1]["removed_bytes"] > 0
    assert _cli("vacuum", "--warehouse", wh)[-1]["orphans"] == []


def test_cli_purge_refuses_typod_table_and_unregistered_deriveds(spark):
    """A typo'd --table must fail loudly (exit 2), not create an empty
    table and report a 0-row purge; a warehouse with registered deriveds
    must refuse a CLI purge without --main-only."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import (
        MINHASH_INDEX_SCHEMA,
        Engine,
        minhash_index_derive,
    )
    from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

    wh = tempfile.mkdtemp(prefix="cli_purge_wh_")
    eng = Engine(spark, wh, n_buckets=4)
    t = eng.snapshot_table("repo_files")
    eng.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
    MicroBatchRunner(eng, epoch_size=1500).run(change_events(spark, 1500), t)

    rc, _, err = _cli_raw(
        "purge", "--warehouse", wh, "--table", "repo_fiels",
        "--predicate", "repo = 'x'", "--epoch", "5",
    )
    assert rc == 2 and "no table at" in err
    assert not os.path.exists(os.path.join(wh, "repo_fiels"))

    # vacuum on a typo'd table must likewise refuse, not report clean
    rc, _, err = _cli_raw("vacuum", "--warehouse", wh, "--table", "repo_fiels")
    assert rc == 2 and "no table at" in err
    assert not os.path.exists(os.path.join(wh, "repo_fiels"))

    # the CLI's Engine holds no derive fns -> the cascade cannot run: refuse
    with pytest.raises(RuntimeError, match="minhash_index"):
        _cli_raw(
            "purge", "--warehouse", wh, "--predicate", "repo = 'x'", "--epoch", "5",
        )

    # the deliberate override sweeps the main table alone
    victim = t.snapshot().select("repo").first()["repo"]
    out = _cli(
        "purge", "--warehouse", wh, "--predicate", f"repo = '{victim}'",
        "--epoch", "9999", "--main-only",
    )
    assert out[-1]["applied"]


def test_cli_stream_starts_on_empty_wal_dir(spark):
    """The tail must start (canonical WAL schema fallback) when no producer
    has written yet, drain nothing, and exit cleanly under availableNow."""
    wal = tempfile.mkdtemp(prefix="cli_wal_empty_")
    wh = tempfile.mkdtemp(prefix="cli_wh_empty_")
    ckpt = tempfile.mkdtemp(prefix="cli_ckpt_")
    r = subprocess.run(
        [
            sys.executable, "-m", "data_exchange_hl7_spark",
            "stream", "--warehouse", wh, "--wal", wal, "--checkpoint", ckpt,
            "--buckets", "4",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    assert out[-1]["rows"] == 0


def test_cli_atomic_ingest_recover_and_quarantine(spark):
    """--atomic ingest publishes per-epoch transactions; `recover` is a
    clean no-op afterwards; a CHECK constraint's diverted rows surface
    through `inspect --what quarantine`."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.sources import write_wal

    wal = tempfile.mkdtemp(prefix="cli_wal_a_")
    wh = tempfile.mkdtemp(prefix="cli_wh_a_")
    write_wal(change_events(spark, 3000), wal)
    # pre-create the table with a firing constraint so the CLI ingest gates
    eng = Engine(spark, wh, n_buckets=8)
    eng.snapshot_table("repo_files").add_check_constraint(
        "size_mod3", "size_bytes % 3 <> 0"
    )

    out = _cli(
        "ingest", "--warehouse", wh, "--wal", wal, "--epoch-size", "1500",
        "--buckets", "8", "--atomic",
    )
    assert out[-1]["rows"] > 0
    applied = [s for s in out[:-1] if s.get("applied")]
    assert applied and all("txn_id" in s for s in applied)
    assert sum(s.get("quarantined", 0) for s in applied) > 0

    rec = _cli("recover", "--warehouse", wh)
    assert rec[-1]["recovered"] == []

    q = _cli("inspect", "--warehouse", wh, "--what", "quarantine")
    assert q and all(r["__violated"] == ["size_mod3"] for r in q)
