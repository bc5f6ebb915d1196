#!/usr/bin/env python
"""Benchmark harness: the default run, the N -> 4N scaling runs and the
sustained-ingest run, each printing ONE JSON line.

    python bench.py                                    # flagship + queries
    python bench.py --scaling 8,32 --job apply         # or transform, sequence
    python bench.py --sustained

Every mode sizes its inputs from the sf tag of $SPARK_GRAFT_SF_DIR (default
in ``SF_DIR``; see ``sizes``), works in a scratch dir outside the repo and
reports ``sf`` and the ambient memory-bandwidth probes taken before and
after the run (``membw_pre`` / ``membw_post``).

Default run (no arguments), on local[$SPARK_GRAFT_CPUS]:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.
The flagship measure is the CDC upsert-apply: a deterministic synthetic WAL
(materialized to parquet first — the tail of a log is stored data, so
generation is setup, not workload) replayed through the exactly-once MoR
apply pipeline; reported as seconds plus events/sec. The rest are
representative operators from the query library at the benchmark SF.

``--scaling``: BASELINE.md asks for throughput scaling efficiency >= 0.8
from N to 4N executors. Without a cluster, the evidence is the identical
job at several local[N] levels, one JVM per level per pass. ``apply`` is
the end-to-end CDC apply, including what one host cannot multiply (one
memory bus, one page cache, serial snapshot commits); ``transform`` is the
per-record compute a bigger cluster multiplies; ``sequence`` is the
latest-flag plan over 1..20x the data, where the reference's plan went
superlinear (latest_flag_and_sequencing.scala:199-203). ``--sustained``
runs the apply with maintenance at local[$SPARK_GRAFT_CPUS] alone.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import sys
import tempfile
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Interleave the levels (8, 32, 8, 32) rather than running all of one level
# and then the other: noisy neighbours on a shared host drift on a ~10-minute
# scale, and back-to-back level blocks would correlate that drift with the
# level. The per-level minimum across passes is the drift-robust statistic.
PASSES = 2
# 8g default heap is marginal for a 2M-row cached epoch plus the window
# shuffle in one local JVM (observed child OOMs). Heap size is not the
# variable under test, thread count is.
CHILD_CONF = {"spark.driver.memory": "24g"}


def _scratch_dir() -> str:
    """RAM-backed scratch when available. This sandbox's shared disk is
    frequently saturated by co-tenants (buffered writes measured at 21 MB/s
    against 1.2 GB/s tmpfs), which would make the benchmark measure a
    neighbor's I/O instead of the engine; a real executor's local NVMe
    sustains GB/s, so tmpfs is the truthful stand-in. Falls back to the
    default tmp dir when /dev/shm is absent."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix="dex_bench_", dir=base)

# events in the CDC apply workload, scaled off the dir's sf tag
CDC_EVENTS = {"0.001": 20_000, "0.01": 100_000, "0.1": 1_000_000}
EPOCHS = 2


def sizes(sf: str) -> dict:
    """Input sizes of every mode at ``sf``; at sf0.1, those BENCH.md records."""
    base = CDC_EVENTS.get(sf, 200_000)
    return {
        # big enough to amortize per-epoch fixed costs
        "apply": {"events": 4 * base, "epochs": EPOCHS},
        "transform": {"events": base},
        "sequence": {"rows": [m * base for m in (1, 5, 10, 20)]},
        "sustained": {
            "events": 8 * base,
            "epochs": 16,
            "compact_every": 4,
            "expire_keep_last": 1,
        },
    }


# new queries ADD to the suite total: compare per-query deltas in BENCH.md,
# not totals
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "cdc_latest_state",
    "latest_flag_sequencing",
    "nearest_preceding_anchor",
    "sessionize",
    "segment_rows",
    "vocab_validation",
    "hl7_debatch",
    "mmg_content_validation",
    "minhash_dup_pairs",
    "dup_clusters",
    "simhash_signatures",
    "ann_bruteforce_topk",
    "ivf_topk",
    "embedding_cosine_dups",
    "quality_score",
    "decontamination",
    "pii_scrub",
    "c4_line_dedup",
    "sequence_packing",
    "simhash_dup_pairs_wide",
    "derived_file_stats",
    "domain_mix_plan",
    "aggregate_repo_stats",
    "length_percentiles",
    "fixed_chunking",
    "code_quality_flags",
    "rare_token_filter",
    "incremental_minhash_index",
    "index_dup_candidates",
    "hard_negative_mining",
    "secret_scan",
    "repo_level_neardup",
    "bpe_pair_counts",
    "substring_span_dedup",
    "chunk_minhash_dups",
    "corpus_release_report",
    "hard_negatives_ivf",
    "semantic_dedup",
    "dsir_importance",
    "length_percentiles_sketch",
    "json_lake_flat",
    "gold_wide_projection",
    "dup_clusters_incremental",
    "license_detect",
    "import_graph",
    "normalized_clone_dedup",
    "repo_context_pack",
    "repo_license_rollup",
    "zorder_read",
    "code_release_report",
    "bpe_train_merges",
    "bpe_tokenize_apply",
    "source_overlap_matrix",
    "neardup_editdist_verify",
    "session_window_counts",
    "snapshot_diff",
    "module_pagerank",
    "cms_heavy_hitters",
    "content_defined_chunks",
    "bigram_lm_fluency",
    "bloom_decontaminate",
    "scd2_build",
    "asof_join_state",
    "changelog_normalize_feed",
    "cdf_net_changes",
    "epoch_drift_report",
    "unimax_mixing",
    "scd2_history_read",
    "late_data_audit",
    "edit_pairs",
    "co_change_graph",
    "stream_stream_join",
    "join_view_read",
    "fim_transform",
    "intradoc_line_dedup",
    "contamination_overlap_score",
    "files_inspect_read",
    "purge_cascade_read",
    "stream_stream_left_join",
    "cdf_replica_read",
    "ivf_index_replica_read",
    "constraint_gate_read",
    "quarantine_read",
    "bitemporal_read",
    "txn_read",
    "temperature_mixing",
    "merge_multi_read",
    "txn_gate_read",
    "column_default_read",
    "shard_plan",
    "merge_cascade_read",
    "count_meta_read",
    "commit_summary_read",
    "stream_txn_gate_read",
    "corpus_build_read",
]


def _sf_tag(path: str) -> str:
    base = os.path.basename(path.rstrip("/"))
    return base[2:] if base.startswith("sf") else base


def _ambient_membw_gbs(reps: int = 3) -> dict | None:
    """Ambient memory-bandwidth probes (~4 s): the flagship apply is
    memory-bus-bound (BENCH.md control experiment), and this sandbox's bus
    is shared with hypervisor co-tenants invisible to loadavg and to
    /proc/stat steal (measured 0.4% steal under full 32-core load).
    The r5 investigation measured the box's AGGREGATE copy bandwidth at
    2-4 GB/s peaking at 16 procs and COLLAPSING at 32 (0.07 GB/s/proc) —
    two orders of magnitude under a healthy host — drifting minute to
    minute, and the flagship wall tracks it inversely. Recording both
    probes WITH the benchmark makes a degraded window legible in the
    number of record instead of looking like a code regression.
    Returns {"single": GB/s best-of-reps, "agg8": 8-proc aggregate GB/s}."""
    try:
        import numpy as np
    except ImportError:
        return None
    a = np.ones(25_000_000)  # 200 MB of float64
    single = 0.0
    for _ in range(reps):
        t0 = time.time()
        a.copy()
        single = max(single, a.nbytes * 2 / (time.time() - t0) / 1e9)
    del a
    with multiprocessing.Pool(8) as pool:
        agg = sum(pool.map(_bw_worker, range(8)))
    return {"single": round(single, 2), "agg8": round(agg, 2)}


def _bw_worker(_i: int) -> float:
    import numpy as np

    x = np.ones(50_000_000 // 8)  # 50 MB
    t0 = time.time()
    for _ in range(5):
        x.copy()
    return x.nbytes * 2 * 5 / (time.time() - t0) / 1e9


def _session(cpus, scratch: str, conf: dict | None = None):
    from data_exchange_hl7_spark.session import build_session

    spark = build_session(
        "bench",
        master=f"local[{cpus}]",
        # shuffle/spill files follow the scratch dir for the same reason
        extra_conf={"spark.local.dir": os.path.join(scratch, "spark_local"), **(conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _write_wal(spark, n: int, path: str, cols: list[str] | None = None):
    """``n`` synthetic WAL events (all columns or ``cols``) as parquet at ``path``."""
    from data_exchange_hl7_spark.datagen import change_events

    wal = change_events(spark, n)
    wal.select(*(cols or wal.columns)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _warm_up(spark, wal, work: str) -> None:
    """A miniature apply compiles every codegen path (validate, window
    dedup, bucketed parquet write) before the timed run — the first JVM
    run otherwise pays ~35s of JIT that no steady-state micro-batch ever
    sees (cold vs warm measured 44s vs 9.6s)."""
    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

    eng = Engine(spark, os.path.join(work, "wh_warm"), n_buckets=64)
    table = eng.snapshot_table("repo_files")
    MicroBatchRunner(eng, epoch_size=20_000).run(wal.filter(wal["lsn"] < 20_000), table)
    table.snapshot().count()
    table.compact()


def _min_of_n(trial) -> list[float]:
    """Stability-adaptive min-of-N (2..5) trials in the same JVM; returns
    every trial's wall, ``trial(i)`` timing trial i. Trial 1 still pays
    C2-tier compilation even after the mini warmup (measured round 1), and
    shared hosts show multi-minute noisy-neighbor windows that once degraded
    the number of record by ~2x (r4's recorded snapshot: 11.5 s vs the same
    commit's quiet-window 6.1 s). Keep trialing until TWO trials agree
    within 10% of the running min — a quiet window stops at 2, a degraded
    one gets up to 5 chances to catch a quiet stretch instead of recording
    the noise."""
    walls: list[float] = []
    while True:
        walls.append(trial(len(walls)))
        best = min(walls)
        stable = sum(1 for x in walls if x <= best * 1.10)
        if (len(walls) >= 2 and stable >= 2) or len(walls) >= 5:
            return walls


def _apply_trials(spark, wal, n_events: int, epochs: int, work: str):
    """Time the MoR apply of ``wal`` in ``epochs`` epochs, min-of-N, each
    trial into a fresh warehouse; returns (walls, the last trial's table)."""
    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

    tables = []

    def trial(i: int) -> float:
        # only the last trial's table is read afterwards: keep scratch bounded
        shutil.rmtree(os.path.join(work, f"wh{i - 1}"), ignore_errors=True)
        eng = Engine(spark, os.path.join(work, f"wh{i}"), n_buckets=64)
        tables.append(eng.snapshot_table("repo_files"))
        t0 = time.time()
        MicroBatchRunner(eng, epoch_size=n_events // epochs).run(wal, tables[-1])
        return time.time() - t0

    return _min_of_n(trial), tables[-1]


def _noop_min(df) -> float:
    """Best wall of ``df`` computed without a sink, min-of-N."""

    def trial(_i: int) -> float:
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        return time.time() - t0

    return round(min(_min_of_n(trial)), 3)


def _gen(scratch: str, job: str, size: dict) -> None:
    """Write the WALs of ``job`` once, so every level reads the same files.
    Each job gets a dedicated WAL, NOT a filter of a bigger one: a
    selective filter over a larger set's files concentrates the surviving
    rows in ~1/4 of the input splits (file layout follows the larger set),
    collapsing task parallelism and tripling wall — measured and
    root-caused, see BENCH.md. The sequence WALs keep only the columns the
    job reads: its four sizes hold 36x base events at once, 392 B each
    with the payload against 84 B without (measured at 100k events)."""
    spark = _session(CPUS, scratch)
    try:
        for n in size.get("rows") or [size["events"]]:
            cols = ["repo", "path", "lsn", "ts", "event_id"] if job == "sequence" else None
            _write_wal(spark, n, os.path.join(scratch, f"wal_{n}"), cols)
    finally:
        spark.stop()


def _level(job: str, cpus: int, scratch: str, size: dict) -> dict:
    """One pass of ``job`` at local[cpus], run in a spawned interpreter so
    it has its own JVM and a clean local[N] scheduler."""
    from pyspark.sql import functions as F

    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.operators.dedup import sequence_by_key
    from data_exchange_hl7_spark.operators.normalize import clean_content, redact
    from data_exchange_hl7_spark.operators.validate import validate
    from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

    spark = _session(cpus, scratch, CHILD_CONF)
    work = os.path.join(scratch, f"work_{cpus}")
    try:
        if job == "sequence":
            walls = []
            for n in size["rows"]:
                wal = spark.read.parquet(os.path.join(scratch, f"wal_{n}"))
                seq = sequence_by_key(wal, ["repo", "path"], ["lsn", "ts", "event_id"])
                walls.append(_noop_min(seq))
            return {
                "wall_s": walls[-1],
                "walls": walls,
                # 20x the data against the time it took; the reference's
                # plan took 2.7x the time for 2x the data past 10M rows
                "time_ratio": round(walls[-1] / walls[0], 2),
            }
        n_events = size["events"]
        wal = spark.read.parquet(os.path.join(scratch, f"wal_{n_events}"))
        if job == "transform":
            # validate + redact + token/shingle minhash + content sha, no sink
            toks = F.split(F.coalesce(F.col("content"), F.lit("")), "\n")
            stage = (
                redact(validate(clean_content(wal)))
                .withColumn("sha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
                .withColumn("n_lines", F.size(toks))
                .withColumn(
                    "mh",
                    F.array_min(F.transform(toks, lambda s: F.md5(F.concat(s, F.lit(":0"))))),
                )
                .select("event_id", "status", "sha", "n_lines", "mh", "redaction_report")
            )
            return {"wall_s": _noop_min(stage)}
        _warm_up(spark, wal, work)
        if job == "apply":
            walls, table = _apply_trials(spark, wal, n_events, size["epochs"], work)
            return {
                "wall_s": round(min(walls), 3),
                "trials": [round(x, 3) for x in walls],
                "rows": table.snapshot().count(),
            }
        # sustained: one growing table, its per-epoch walls are the measure
        eng = Engine(spark, os.path.join(work, "wh"), n_buckets=64)
        table = eng.snapshot_table("repo_files")
        stats = MicroBatchRunner(
            eng,
            epoch_size=n_events // size["epochs"],
            compact_every=size["compact_every"],
            expire_keep_last=size["expire_keep_last"],
        ).run(wal, table)
        applied = [s for s in stats if s.get("applied")]
        # wall_s covers the apply only; maintenance_wall_s (compaction +
        # expiry, timed by the runner) is added so epoch walls and the
        # sustained number genuinely include maintenance
        walls = [round(s["wall_s"] + s.get("maintenance_wall_s", 0.0), 3) for s in applied]
        return {
            "wall_s": round(sum(walls), 3),
            "epoch_walls": walls,
            "compacted_epochs": [s["epoch"] for s in applied if "compaction" in s],
            "first4_mean_s": round(sum(walls[:4]) / 4, 3),
            "last4_mean_s": round(sum(walls[-4:]) / 4, 3),
            "rows": table.snapshot().count(),
        }
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def _spawn(fn, *args):
    """``fn(*args)`` in a fresh spawned interpreter; its result or error."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
        return pool.submit(fn, *args).result()


def summarize(levels: list[int], runs: dict[int, list[dict]], size: dict) -> dict:
    """The fastest pass of each level and, given two or more levels, the
    speedup and scaling efficiency from the first level to the last. Raises
    ``RuntimeError`` when a level has no surviving pass, or when final row
    counts disagree: parallelism must not change the result."""
    out = []
    for cpus in levels:
        got = runs[cpus]
        if not got:
            raise RuntimeError(f"every local[{cpus}] pass failed: no data")
        best = min(got, key=lambda r: r["wall_s"])
        out.append({**best, "cpus": cpus, "loadavg": [r["loadavg"] for r in got]})
        if "events" in size:
            out[-1]["events_per_sec"] = round(size["events"] / best["wall_s"], 1)
    summary: dict = {"runs": out}
    rows = {r["rows"] for got in runs.values() for r in got if "rows" in r}
    if len(rows) > 1:
        raise RuntimeError(f"parallelism changed the result: final rows {sorted(rows)}")
    if len(levels) > 1:
        speedup = out[0]["wall_s"] / out[-1]["wall_s"]
        summary["speedup"] = round(speedup, 2)
        summary["scaling_efficiency"] = round(speedup / (levels[-1] / levels[0]), 3)
    return summary


def run_levels(job: str, levels: list[int]) -> dict:
    """``job`` at each level over interleaved passes, one child per pass."""
    sf = _sf_tag(SF_DIR)
    size = sizes(sf)[job]
    membw_pre = _ambient_membw_gbs()
    scratch = _scratch_dir()
    runs: dict[int, list[dict]] = {c: [] for c in levels}
    failed = []
    try:
        _spawn(_gen, scratch, job, size)
        for p in range(PASSES):
            for cpus in levels:
                load1 = round(os.getloadavg()[0], 1)
                try:
                    res = _spawn(_level, job, cpus, scratch, size)
                except Exception:
                    # a transient child failure (a host that kills JVMs)
                    # must not void the surviving passes
                    traceback.print_exc()
                    failed.append(f"local[{cpus}] pass {p}")
                    continue
                runs[cpus].append({**res, "loadavg": load1})
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return {
        "job": job,
        "sf": sf,
        "sizes": size,
        "levels": levels,
        **summarize(levels, runs, size),
        "failed_passes": failed,
        "membw_pre": membw_pre,
        "membw_post": _ambient_membw_gbs(),
    }


def flagship() -> dict:
    import __spark_entry__ as entrymod

    membw_pre = _ambient_membw_gbs()
    scratch = _scratch_dir()
    spark = _session(CPUS, scratch)
    sf = _sf_tag(SF_DIR)
    timings: dict[str, float] = {}

    # ---- CDC upsert-apply flagship -------------------------------------
    n_events = CDC_EVENTS.get(sf, 200_000)
    # NB: the work dir must be a SIBLING of spark_local inside scratch, never
    # scratch itself — rmtree'ing spark.local.dir under a live session kills
    # every later shuffle.
    tmp = os.path.join(scratch, "work")
    os.makedirs(tmp, exist_ok=True)
    try:
        wal = _write_wal(spark, n_events, os.path.join(tmp, "wal"))
        _warm_up(spark, wal, tmp)
        trials, table = _apply_trials(spark, wal, n_events, EPOCHS, tmp)
        timings["cdc_apply"] = round(min(trials), 3)
        t0 = time.time()
        n_rows = table.snapshot().count()
        timings["cdc_read_resolve"] = round(time.time() - t0, 3)
        t0 = time.time()
        table.compact()
        timings["cdc_compact"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # ---- query library at benchmark SF ----------------------------------
    # min of 2 trials per query: this box shows multi-minute noisy-neighbor
    # drift (same query 2-4x between back-to-back runs), and the second
    # trial is also the JIT-warmed steady state a real cluster runs in
    from data_exchange_hl7_spark.queries_text import release_persisted_frames

    queries = entrymod.queries()
    for name in BENCH_QUERIES:
        fn = queries[name]
        best = None
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            # drop this query's cached band/bucket frames before the next —
            # 40 queries x several LSH variants otherwise pile up in storage
            release_persisted_frames()
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "cdc-apply+headline-queries wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cdc_events": n_events,
        "cdc_events_per_sec": round(n_events / min(trials), 1),
        "cdc_apply_trials": [round(x, 3) for x in trials],
        "cdc_final_rows": n_rows,
        "cpus": CPUS,
        # ambient memory-bandwidth probes (GB/s, single-thread +
        # 8-proc aggregate) at start and end: the flagship is
        # bus-bound and the bus is co-tenant-shared — a low probe
        # marks a degraded window (see _ambient_membw_gbs)
        "membw_pre": membw_pre,
        "membw_post": _ambient_membw_gbs(),
    }
    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    mode = p.add_mutually_exclusive_group()
    mode.add_argument(
        "--scaling", type=lambda s: [int(x) for x in s.split(",")], metavar="N,4N"
    )
    mode.add_argument("--sustained", action="store_true")
    p.add_argument("--job", choices=("apply", "transform", "sequence"))
    args = p.parse_args(argv)
    levels = args.scaling or []
    if any(a >= b for a, b in zip([0, *levels], levels)):
        p.error(f"--scaling levels must be positive and strictly increase: {levels}")
    if args.job and not args.scaling:
        p.error("--job needs --scaling")
    args.job = args.job or "apply"
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if args.scaling:
        out = run_levels(args.job, args.scaling)
    elif args.sustained:
        out = run_levels("sustained", [int(CPUS)])
    else:
        out = flagship()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
