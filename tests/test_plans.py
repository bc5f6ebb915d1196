"""Plan-shape regression tests: the scale contracts of SURVEY.md section 4.

These assert the PHYSICAL plan, not the result: pushdown reaches the parquet
scan, dim joins broadcast, the A1 dedup is a single shuffle, and no
row-at-a-time Python appears anywhere."""

from pyspark.sql import functions as F

from data_exchange_hl7_spark import queries as q
from data_exchange_hl7_spark import queries_text as qt
from data_exchange_hl7_spark.operators.dedup import latest_by_key
from data_exchange_hl7_spark.plans import (
    assert_broadcast_join,
    assert_no_python_udf,
    assert_pushed_filters,
    assert_single_shuffle,
    n_exchanges,
    read_schema_columns,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").filter(
        F.col("l_shipdate") <= "2023-09-01"
    ).select("l_quantity")
    assert_pushed_filters(df, "l_shipdate")


def test_column_pruning(spark):
    df = q.q1_pricing_summary(spark, SF)
    cols = read_schema_columns(df)
    assert "l_comment" not in cols  # not that it exists, but guard the idea:
    # only the 7 needed columns are read
    assert set(cols) <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }


def test_latest_by_key_is_single_shuffle(spark):
    """The BASELINE.md watch-item: the reference's dedup plan
    (groupBy+collect_list+self-join) is 2+ shuffles and degrades
    superlinearly; ours must stay ONE."""
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn("lsn", F.col("event_id"))
    out = latest_by_key(ev, ["user_id"], ["ts", "event_id"])
    assert_single_shuffle(out)


def test_dim_joins_broadcast(spark):
    assert_broadcast_join(q.q5_region_revenue(spark, SF), at_least=3)
    assert_broadcast_join(q.q3_shipping_priority(spark, SF), at_least=1)


def test_no_python_udf_anywhere(spark):
    for fn in [
        q.q1_pricing_summary, q.cdc_latest_state, q.sessionize,
        qt.minhash_signatures, qt.simhash_signatures, qt.ann_bruteforce_topk,
        qt.quality_score,
    ]:
        assert_no_python_udf(fn(spark, SF))


def test_engine_apply_plan_is_narrow_until_window(spark):
    """The epoch pipeline before the per-key window must not shuffle:
    validate/clean/rename-explode are narrow."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.operators.normalize import clean_content
    from data_exchange_hl7_spark.operators.validate import validate

    ev = validate(clean_content(change_events(spark, 1000)))
    assert n_exchanges(ev) == 0
    assert_no_python_udf(ev)


def test_ann_scale_paths_plan_shape(spark):
    """ivf_topk probes via a broadcast join on cell (no cross product);
    embedding_cosine_dups joins within LSH bucket (shuffle join on the
    bucket key, not a cartesian); both stay JVM-side."""
    ivf = qt.ivf_topk(spark, SF)
    assert_broadcast_join(ivf, at_least=1)
    assert_no_python_udf(ivf)
    from data_exchange_hl7_spark.plans import explain_str

    dups = qt.embedding_cosine_dups(spark, SF)
    plan = explain_str(dups)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_no_python_udf(dups)


def test_jaccard_df_pruned_hashed_join(spark):
    """ngram_jaccard_pairs' scale contract (round-1 fix): shingles are
    xxhash64-hashed longs and document-frequency-pruned BEFORE the self-join,
    so a hot shingle cannot create an O(n^2) join bucket; the join itself is
    an equi-join (no cartesian)."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.ngram_jaccard_pairs(spark, SF)
    plan = explain_str(df)
    assert "xxhash64" in plan  # join key is the 8-byte hash, not the string
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_no_python_udf(df)
    # the DF-prune aggregate (count per (source, shingle-hash) <= cap) sits
    # upstream of the pair join
    assert plan.count("HashAggregate") >= 2


def test_simhash_width_and_dup_cluster_properties(spark):
    """SimHash width is a real knob (40-bit spans two salted md5 blocks);
    dup_clusters output satisfies the component invariants: one canonical
    per cluster, cluster_id = min(doc_id), sizes consistent."""
    wide = qt.simhash_signatures(spark, SF, n_bits=40)
    row = wide.limit(1).collect()[0]
    assert len(row["simhash40"]) == 40
    assert set(row["simhash40"]) <= {"0", "1"}

    rows = qt.dup_clusters(spark, SF).collect()
    assert rows, "synth dups guarantee non-empty clusters"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert min(m["doc_id"] for m in members) == cid
        assert sum(m["is_canonical"] for m in members) == 1
        assert all(m["cluster_size"] == len(members) for m in members)


def test_decontamination_broadcasts_eval_side(spark):
    """Decontamination's scale contract: the eval/benchmark shingle set is
    the broadcast side, the training corpus streams through the probe — no
    shuffle of corpus shingles before the per-doc aggregate — and the join
    key is the md5-prefix hash, not the raw shingle string."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.decontamination(spark, SF)
    assert_broadcast_join(df, at_least=1)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_no_python_udf(df)


def test_simhash_pairs_banded_join_shape(spark):
    """simhash_dup_pairs candidates come from an equi-join on (band, bits)
    buckets — never a cartesian — and the whole pipeline stays JVM-side."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.simhash_dup_pairs(spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_no_python_udf(df)


def test_curation_ops_stay_jvm_side(spark):
    for fn in [qt.pii_scrub, qt.sequence_packing, qt.stratified_sample]:
        assert_no_python_udf(fn(spark, SF))


def test_c4_line_dedup_no_window_partial_agg(spark):
    """Hot-line defense (r2 scale-killer, tightened in r3): keep-first must
    be a min(struct) HASH AGGREGATE (map-side partial combine absorbs a
    corpus-wide hot line) — NO row_number window keyed by line anywhere in
    the plan — and exempt short lines are split out before the exchange."""
    from data_exchange_hl7_spark.plans import explain_str

    import re

    df = qt.c4_line_dedup(spark, SF)
    plan = explain_str(df)
    # zero Window nodes: the per-line keep-first is an aggregate now
    assert not re.findall(r"\(\d+\) Window\s*$", plan, re.M), "window crept back"
    assert "partial_min" in plan or "partial min" in plan.lower() or (
        "HashAggregate" in plan and "min(" in plan
    )
    assert "Union" in plan
    # the long-line filter guards the aggregate's exchange; the short branch
    # carries the complementary predicate
    assert f">= {qt.C4_MIN_LINE_CHARS}" in plan
    assert f"< {qt.C4_MIN_LINE_CHARS}" in plan
    assert_no_python_udf(df)


def test_sequence_packing_subshards_hot_source(spark):
    """The r2 verdict's second scale-killer fix: packing windows partition
    by (source, subshard), so one dominant source spreads over
    ceil(rows/K) tasks instead of one reducer; the per-subshard pack-base
    rebase join is a broadcast. Property: even a single source occupies
    more than one subshard at default K."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.sequence_packing(spark, SF)
    plan = explain_str(df)
    assert "subshard" in plan  # window + join keyed on the subshard
    assert_broadcast_join(df, at_least=1)
    assert_no_python_udf(df)

    one_source = (
        df.filter(F.col("source") == "src0")
        .select((F.col("doc_id") / qt.SEQ_SUBSHARD).cast("bigint").alias("sub"))
        .distinct()
        .count()
    )
    assert one_source > 1, "single source must span multiple window partitions"


def test_kmv_default_plan_builds_without_jobs(spark):
    """kmv_distinct_sketch's exact global distinct count is opt-in: the
    DEFAULT path must not run a full-corpus distinct().count() at
    plan-build time (at 100 TB that job IS the query cost)."""
    sc = spark.sparkContext
    # baseline: a bare table read costs one parquet schema-inference job;
    # the default sketch build must cost exactly that and nothing more.
    sc.setJobGroup("kmv_baseline", "bare read")
    spark.read.parquet(f"{SF}/documents.parquet")
    base = len(sc.statusTracker().getJobIdsForGroup("kmv_baseline"))
    sc.setJobGroup("kmv_default", "default build must be lazy")
    qt.kmv_distinct_sketch(spark, SF)
    n_default = len(sc.statusTracker().getJobIdsForGroup("kmv_default"))
    sc.setJobGroup("kmv_exact", "opt-in exact path runs the distinct count")
    qt.kmv_distinct_sketch(spark, SF, exact=True)
    n_exact = len(sc.statusTracker().getJobIdsForGroup("kmv_exact"))
    sc.setJobGroup("", "")
    assert n_default <= base, f"default KMV ran extra jobs: {n_default} > {base}"
    assert n_exact > n_default  # the opt-in really is the expensive path


def _jobs_in_group(sc, group: str, fn):
    """Run ``fn`` under a job group; return (result, jobs it launched).
    The listener bus is drained first, since job ids reach the status
    tracker asynchronously."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _final_stage_tasks(sc, group: str, fn):
    """Run ``fn`` under a job group; return (result, tasks in the final
    stage of the last job it launched). For a write that stage is the
    write itself: AQE runs each shuffle's map side as a job of its own, and
    a job's result stage has the highest id among its stages."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    st = sc.statusTracker()
    job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return out, st.getStageInfo(max(job.stageIds)).numTasks


def test_bucketed_writes_are_sized_by_the_data(spark, tmp_path, monkeypatch):
    """The exchanges in front of the bucketed writes have no fixed count, so
    AQE sizes them from the data: a 1,000-event epoch at 16 buckets (the
    test session has 8 shuffle partitions) writes its delta layer in one
    task, although the apply persists the deduped frame before the write,
    and the compaction that follows writes with fewer tasks than buckets.
    Each bucket still lands in one file."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable

    sc = spark.sparkContext
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=16)
    t = eng.snapshot_table("repo_files")
    merge_mor, tasks = LakeTable._merge_mor, []

    def merge_in_group(self, *args, **kwargs):
        out, n = _final_stage_tasks(sc, "apply_merge", lambda: merge_mor(self, *args, **kwargs))
        tasks.append(n)
        return out

    monkeypatch.setattr(LakeTable, "_merge_mor", merge_in_group)
    r = eng.apply_epoch(change_events(spark, 1000), t, epoch=0)
    assert tasks == [1], f"the delta write ran {tasks} tasks"
    assert r["delta_files"] == len(t.current_snapshot()["deltas"][0]["files"])

    c, n = _final_stage_tasks(sc, "compact", t.compact)
    assert c["compacted"] and n < 16, f"the compaction write ran {n} tasks"
    assert all(len(e["files"]) == 1 for e in t.current_snapshot()["buckets"].values())


def test_vacuum_paths_run_no_jobs(spark, tmp_path, monkeypatch):
    """The vacuum paths are metadata sweeps: remove_orphans,
    expire_snapshots and the CLI vacuum dry run launch no Spark job."""
    import contextlib
    import io
    import json
    import os

    from data_exchange_hl7_spark.__main__ import main
    from data_exchange_hl7_spark.lake.table import LakeTable

    sc = spark.sparkContext
    wh = str(tmp_path / "wh")
    t = LakeTable.create(
        spark, os.path.join(wh, "t"), [("k", "string"), ("v", "string"), ("lsn", "bigint")],
        ["k"], n_buckets=4, order_col="lsn",
    )
    cols = "k string, v string, lsn long, __op string"
    for e in range(2):
        t.merge(spark.createDataFrame([(f"k{i}", str(e), e, "U") for i in range(8)], cols), epoch=e)
    t.compact()
    d = os.path.join(t.data_dir, "s00000001-deadbeef", "__bucket=0")
    os.makedirs(d)
    with open(os.path.join(d, "part-orphan.parquet"), "wb") as f:
        f.write(b"PAR1 not a real file PAR1")

    # the CLI's build_session reads SPARK_GRAFT_CPUS; pin the test session's
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc, n = _jobs_in_group(
            sc, "vacuum_dry_run", lambda: main(["vacuum", "--warehouse", wh, "--table", "t"])
        )
    report = json.loads(out.getvalue().splitlines()[-1])
    assert rc == 0 and len(report["orphans"]) == 1
    assert n == 0, f"vacuum dry run launched {n} jobs"

    r, n = _jobs_in_group(sc, "remove_orphans", lambda: t.remove_orphans(older_than_s=0))
    assert r["removed_files"] == 1 and n == 0, f"remove_orphans launched {n} jobs"
    r, n = _jobs_in_group(sc, "expire", lambda: t.expire_snapshots(keep_last=1))
    assert r["removed_files"] > 0 and n == 0, f"expire_snapshots launched {n} jobs"


def test_sidecar_sweep_jobs_do_not_grow_with_epochs(spark, tmp_path):
    """A purge/redact sweep reads a sidecar's epoch dirs in one frame and
    decides from one aggregate, so a sweep that matches nothing runs the
    same number of Spark jobs over 2 and over 6 epoch dirs."""
    from data_exchange_hl7_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    jobs = []
    for n_dirs in (2, 6):
        root = tmp_path / f"sidecar{n_dirs}"
        for e in range(n_dirs):
            spark.createDataFrame(
                [(f"r{e}", "x", e)], "repo string, content string, lsn bigint"
            ).write.parquet(str(root / f"epoch={e}"))
        swept, n = _jobs_in_group(
            spark.sparkContext,
            f"sweep{n_dirs}",
            lambda: eng._sweep_sidecar(str(root), "repo = 'none'", None),  # noqa: B023
        )
        assert swept == 0
        jobs.append(n)
    assert jobs[0] == jobs[1], f"jobs at 2 and 6 epoch dirs: {jobs}"


def test_table_reads_plan_without_jobs(spark, tmp_path):
    """Table reads take their schema from the manifest, so building a MoR
    snapshot or lookup frame (base + one delta layer) launches no job. The
    lookup's key frame is a LocalRelation (no Python worker), and an 8-key
    lookup collects in at most 3 jobs: no inference, no distinct."""
    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.plans import explain_str

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "string"), ("lsn", "bigint")],
        ["k"], n_buckets=4, order_col="lsn",
    )
    cols = "k string, v string, lsn long, __op string"
    t.merge(spark.createDataFrame([(f"k{i}", "a", i, "U") for i in range(40)], cols), epoch=0)
    t.compact()
    t.merge(
        spark.createDataFrame([(f"k{i}", "b", 100 + i, "U") for i in range(0, 40, 2)], cols),
        epoch=1,
    )
    snap = t.current_snapshot()
    assert snap["buckets"] and len(snap["deltas"]) == 1

    sc = spark.sparkContext
    keys = [(f"k{i}",) for i in range(0, 16, 2)]
    _, n_scan = _jobs_in_group(sc, "read_snapshot_build", t.snapshot)
    df, n_lookup = _jobs_in_group(sc, "read_lookup_build", lambda: t.lookup(keys))
    assert (n_scan, n_lookup) == (0, 0)

    plan = explain_str(df, "extended")
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan

    rows, n_collect = _jobs_in_group(sc, "read_lookup_collect", df.collect)
    assert {r["k"]: r["v"] for r in rows} == {k: "b" for (k,) in keys}
    assert n_collect <= 3, f"8-key lookup ran {n_collect} jobs"


def test_empty_table_reads_are_local_relations(spark, tmp_path):
    """A read with no file to open (a fresh table, no quarantine sidecar,
    an empty change-feed window) builds its frame from an empty Arrow
    table: a LocalRelation, not a LogicalRDD, whose every action runs an
    extra job. Covers each column type an empty frame must carry."""
    from data_exchange_hl7_spark.lake.table import LakeTable

    schema = [
        ("k", "string"), ("n", "bigint"), ("tags", "array<string>"),
        ("attrs", "map<string,int>"), ("ts", "timestamp"), ("d", "date"),
        ("b", "binary"), ("lsn", "bigint"),
    ]
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k"], n_buckets=4,
        order_col="lsn",
    )
    sid = t.current_snapshot()["snapshot_id"]
    frames = {
        "snapshot": t.snapshot(),
        "quarantine": t.quarantine(),
        "changes_between": t.changes_between(sid),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, (name, plan)
        assert [f.dataType.simpleString() for f in df.schema][: len(schema)] == [
            "string", "bigint", "array<string>", "map<string,int>", "timestamp",
            "date", "binary", "bigint",
        ], name
        assert df.count() == 0


def test_kmeans_assignment_broadcasts_centroids(spark):
    """Lloyd's assignment must broadcast the k centroids (never shuffle the
    corpus against them) and keep the whole loop JVM-side. The trained
    centroids are localCheckpoint'ed (lineage truncated — the training
    rounds' joins are no longer visible in downstream plans), so the
    broadcast contract is asserted on an assignment built OVER the trained
    centroids: the exact plan every per-round assignment used during
    training and every consumer (IVF probe, SemDeDup cells) uses after."""
    from data_exchange_hl7_spark.plans.inspect import explain_str
    from data_exchange_hl7_spark.queries_text import (
        KMEANS_ITERS,
        KMEANS_K,
        _kmeans_assign,
        _kmeans_centroids,
        _quantized,
    )

    e = _quantized(spark, SF).select("vec_id", "q")
    cent = _kmeans_centroids(spark, SF, KMEANS_K, KMEANS_ITERS)
    df = _kmeans_assign(e, cent)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert_no_python_udf(df)
    # the trained-output query itself stays JVM-side
    assert_no_python_udf(qt.ivf_train_kmeans(spark, SF))


def test_repetition_flags_two_level_agg(spark):
    """Bigram mode = explode + partial-agg pipeline; the whole query keeps a
    bounded shuffle count (2x agg + 1 join + final sort) and no Python."""
    df = qt.repetition_quality_flags(spark, SF)
    assert n_exchanges(df) <= 5
    assert_no_python_udf(df)


def test_mmg_content_single_evaluation_shape(spark):
    """The content-validation query must aggregate entry categories via ONE
    explode (Generate) — not one array-filter per output column — and carry
    no Python stage."""
    df = q.mmg_content_validation(spark, SF)
    from data_exchange_hl7_spark.plans.inspect import explain_str

    plan = explain_str(df)
    assert plan.count("Generate") >= 1
    assert_no_python_udf(df)


def test_windowed_counts_single_shuffle_batch(spark):
    """Event-time window agg on a bounded WAL: partial agg map-side, one hash
    exchange on the (window, key) grouping, plus the final presentation sort."""
    from data_exchange_hl7_spark.streaming.windowed import windowed_counts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = windowed_counts(ev, ts_col="ts", keys=("event_type",), window="1 hour")
    assert n_exchanges(df) <= 1
    assert_no_python_udf(df)


def test_interval_range_join_is_hash_join(spark):
    """The bin-bucketed range join must execute as an equi hash join on the
    hour bin — never a CartesianProduct / BroadcastNestedLoopJoin."""
    from data_exchange_hl7_spark.plans.inspect import explain_str

    df = q.interval_range_join(spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan
    assert_no_python_udf(df)


def test_tfidf_top_terms_shape(spark):
    df = qt.tfidf_top_terms(spark, SF)
    assert_no_python_udf(df)
    # explode -> tf agg -> df agg -> join back -> window -> sort: bounded
    assert n_exchanges(df) <= 6


def test_vocab_enrichment_broadcasts_dim(spark):
    """enrich_coded's scale contract: the value-set dim is the broadcast
    side (config-sized); the child-table fact side streams through — and
    the whole query stays JVM-side."""
    df = q.sql_model_vocab_enriched(spark, SF)
    assert_broadcast_join(df, at_least=1)
    assert_no_python_udf(df)


def test_obx_epi_split_single_window_pass(spark):
    """split_obx_epi classifies with ONE per-message window (the as-of
    anchor carry-forward) and a narrow CASE — no second shuffle beyond the
    window exchange + presentation sort."""
    df = q.obx_epi_split(spark, SF)
    assert n_exchanges(df) <= 2
    assert_no_python_udf(df)


def test_extract_features_is_declared_arrow_stage(spark):
    """The one Python-visible batch stage must be mapInPandas (Arrow), never
    BatchEvalPython row-at-a-time."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.multimodal_extract_features(spark, SF)
    plan = explain_str(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_simhash_wide_banded_join_shape(spark):
    """The production-width (64-bit / 4x16-band) pair join keeps the banded
    equi-join shape — no cartesian at the width real dedup runs at."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.simhash_dup_pairs_wide(spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_no_python_udf(df)


def test_domain_mix_broadcasts_source_dim(spark):
    """domain_mix_plan: the per-source rate dim must broadcast back onto the
    doc scan (never a sort-merge join against the corpus), and the whole
    query stays JVM-side."""
    df = qt.domain_mix_plan(spark, SF)
    assert_broadcast_join(df)
    assert_no_python_udf(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_aggregate_prestate_scan_prunes_content(spark, tmp_path):
    """The aggregate view's pre-state read must column-prune through
    snapshot(keys_in=...) down to the parquet scan: reading `content` for a
    (repo, path, size_bytes) delta would multiply the scan bytes by the
    payload size at 100 TB."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import KEY_COLS, Engine, repo_stats_delta
    from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    t = eng.snapshot_table("repo_files")
    MicroBatchRunner(eng, epoch_size=1000).run(change_events(spark, 2000), t)
    changes = (
        change_events(spark, 2500)
        .filter(F.col("lsn") >= 2000)
        .select("repo", "path", F.lit("U").alias("__op"),
                F.lit(1).cast("int").alias("size_bytes"))
    )
    d = repo_stats_delta(changes, t.snapshot(keys_in=changes.select(*KEY_COLS)))
    plan = d._jdf.queryExecution().executedPlan().toString()
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet scan found in the plan"
    for s in schemas:
        assert "content" not in s, s


def test_chunking_and_code_quality_are_narrow(spark):
    """fixed_chunking and code_quality_flags are per-row column expressions:
    the only exchange in either plan is the presentation orderBy's range
    partitioning — zero hash shuffles (nothing groups or joins)."""
    from data_exchange_hl7_spark.plans.inspect import explain_str
    import re

    for fn in [qt.fixed_chunking, qt.code_quality_flags]:
        plan = explain_str(fn(spark, SF))
        assert not re.findall(r"\bExchange hashpartitioning", plan), fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__


def test_rare_token_filter_broadcasts_zipf_head(spark):
    """The rarity join must broadcast the (small) common-token head and
    anti-join the exploded tokens against it — never a sort-merge keyed by
    token (the full vocab would shuffle, and hot tokens would skew)."""
    from data_exchange_hl7_spark.plans.inspect import explain_str

    plan = explain_str(qt.rare_token_filter(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_index_dup_candidates_broadcasts_delta(spark):
    """Delta-vs-corpus dedup must broadcast the (one-epoch) changed side
    against the full index scan — a shuffle keyed by band signature would
    re-partition the whole index every epoch."""
    from data_exchange_hl7_spark.plans.inspect import explain_str

    df = q.index_dup_candidates(spark, SF)
    assert df.count() > 0  # non-vacuous: the dup families must collide
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_secret_scan_is_narrow(spark):
    """Secret scanning is per-row vectorized regex: zero hash shuffles
    (the only exchange is the presentation orderBy's range partitioning)
    and no Python anywhere."""
    from data_exchange_hl7_spark.plans.inspect import explain_str
    import re

    plan = explain_str(qt.secret_scan(spark, SF))
    assert not re.findall(r"\bExchange hashpartitioning", plan)
    assert "BatchEvalPython" not in plan


def test_repo_neardup_two_level_agg(spark):
    """The repo rollup must be TWO hash aggregations (doc-level partial,
    then source merge) feeding a band join over the rolled-up dim — the
    mergeable-sketch shape; the pair join must never touch doc-level rows."""
    from data_exchange_hl7_spark.plans.inspect import explain_str

    plan = explain_str(qt.repo_level_neardup(spark, SF))
    assert plan.count("HashAggregate") >= 4  # 2 aggs x (partial+final)
    assert "BatchEvalPython" not in plan
    df = qt.repo_level_neardup(spark, SF)
    assert df.count() > 0  # non-vacuous: shared-vocab sources must collide


def test_bpe_pair_counts_partial_agg(spark):
    """BPE pair counting must map-side combine: a partial_count
    HashAggregate below the exchange, so the shuffle carries the collapsed
    pair dim (<= |alphabet|^2 rows/partition), not the exploded pairs."""
    from data_exchange_hl7_spark.plans.inspect import explain_str

    plan = explain_str(qt.bpe_pair_counts(spark, SF))
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_substring_dedup_agg_join_not_window(spark):
    """Exact substring dedup must pick keepers via a mergeable hash agg +
    re-join (AQE-splittable), NEVER a window over the span hash — a
    corpus-hot boilerplate span would serialize one reducer. Assert the
    map-side partial min exists and no Window operator appears."""
    from data_exchange_hl7_spark.plans.inspect import explain_str

    plan = explain_str(qt.substring_span_dedup(spark, SF))
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_chunk_minhash_band_bucket_join(spark):
    """Chunk-level LSH must stay a band-bucket equi-join over chunk
    signatures (HashAggregate per chunk, join keyed on band+sig) — never a
    cartesian/broadcast-nested-loop over chunks."""
    from data_exchange_hl7_spark.plans.inspect import explain_str

    plan = explain_str(qt.chunk_minhash_dups(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert qt.chunk_minhash_dups(spark, SF).count() > 0  # non-vacuous


def test_lsh_queries_release_persisted_frames(spark):
    """Unpersist discipline: every LSH-family query registers its cached
    band/bucket frame with the module registry, and after the result
    materializes release_persisted_frames() leaves ZERO persistent RDDs —
    a long-lived session (bench runs ~40 queries) must not accumulate
    cached frames until LRU eviction."""
    jsc = spark.sparkContext._jsc
    # start clean so this test is order-independent
    for fn in (
        qt.minhash_dup_pairs,
        qt.simhash_dup_pairs,
        qt.embedding_cosine_dups,
        # checkpoints too: dup_clusters' per-round localCheckpoint RDDs are
        # freed round-by-round and the returned frame's storage rides the
        # same registry (localCheckpoint is invisible to DataFrame.unpersist,
        # so without id-tracking these linger until the async ContextCleaner)
        qt.dup_clusters,
        # iterative rank loop: edges/nodes/per-round rank frames all ride
        # the same checkpoint registry
        qt.module_pagerank,
    ):
        qt.release_persisted_frames()
        spark.catalog.clearCache()
        fn(spark, SF).write.mode("overwrite").format("noop").save()
        assert jsc.getPersistentRDDs().size() > 0, "band frame should be cached"
        released = qt.release_persisted_frames()
        assert released >= 1
        assert jsc.getPersistentRDDs().size() == 0, (
            f"{fn.__name__} leaked a persisted frame past release"
        )


def test_hard_negatives_ivf_cell_join_shape(spark):
    """hard_negatives_ivf's scale contract: the label-filtered probe is an
    equi-join on the k-means cell with the anchor side broadcast — never a
    cartesian over the corpus (the crossJoin inside centroid ASSIGNMENT is
    the broadcast-k-centroids argmin, bounded by k). The sketch-percentile
    verification likewise broadcasts the tiny per-(source,pctl) frame."""
    from data_exchange_hl7_spark.plans import explain_str

    hn = qt.hard_negatives_ivf(spark, SF)
    plan = explain_str(hn)
    assert "CartesianProduct" not in plan
    assert_broadcast_join(hn, at_least=1)
    assert_no_python_udf(hn)

    sk = qt.length_percentiles_sketch(spark, SF)
    plan = explain_str(sk)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_broadcast_join(sk, at_least=1)
    assert_no_python_udf(sk)


def test_semantic_dedup_and_dsir_scale_shapes(spark):
    """semantic_dedup's pair join is an equi-join on the trained cell key
    (never a corpus cartesian); dsir_importance's importance model is a
    broadcast dim (B=64 rows) over token scans. Both stay JVM-side."""
    from data_exchange_hl7_spark.plans import explain_str

    sd = qt.semantic_dedup(spark, SF)
    plan = explain_str(sd)
    assert "CartesianProduct" not in plan
    assert_no_python_udf(sd)

    ds = qt.dsir_importance(spark, SF)
    plan = explain_str(ds)
    assert "CartesianProduct" not in plan
    assert_broadcast_join(ds, at_least=1)
    assert_no_python_udf(ds)


def test_late_r4_code_ops_scale_shapes(spark):
    """Scale contracts of the late-r4 code-corpus family: the per-file gates
    (license, imports-extract, clone normalization, BPE state passes) are
    narrow column work — their only exchanges are the round-robin scan
    fan-out, aggregation, and presentation sort; the fan-in/size joins
    broadcast; nothing drops to per-row Python."""
    # license_detect: zero joins, bounded exchanges (fan-out + sort)
    df = qt.license_detect(spark, SF)
    assert n_exchanges(df) <= 2
    assert_no_python_udf(df)
    # import_graph: two-level mergeable agg, no join at all
    df = qt.import_graph(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert_no_python_udf(df)
    # normalized_clone_dedup: ONE hash agg on the norm hash, no window
    df = qt.normalized_clone_dedup(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert_no_python_udf(df)
    # repo_context_pack: the fan-in join must broadcast (never shuffle the
    # corpus against the source x module dim)
    df = qt.repo_context_pack(spark, SF)
    assert_broadcast_join(df)
    assert_no_python_udf(df)
    # repo_license_rollup: one agg over the verdict frame, no window
    df = qt.repo_license_rollup(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert_no_python_udf(df)
    # code_release_report: single corpus scan (flags bind pre-projection) —
    # the only join is the clone-group join back
    df = qt.code_release_report(spark, SF)
    assert_no_python_udf(df)
    # source_overlap_matrix: set-size dims broadcast onto the pair frame
    df = qt.source_overlap_matrix(spark, SF)
    assert_broadcast_join(df)
    assert_no_python_udf(df)
    # bpe_tokenize_apply: merge table is a literal — application adds NO
    # join; one agg by doc_id + presentation sort
    df = qt.bpe_tokenize_apply(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert_no_python_udf(df)


def test_session_snapshot_pagerank_shapes(spark):
    """The three r4-tail additions keep their scale contracts.

    session_window_counts: the native session agg plans as a keyed exchange
    + session merge — no per-row Python and exactly one shuffle for the agg
    (plus the presentation sort). snapshot_diff: the two snapshot reads
    full-outer-join on the key — never a nested-loop. module_pagerank: the
    corpus appears only under the edge agg; every rank iteration joins the
    (checkpointed, tiny) rank table BROADCAST against the edge list, and
    the dangling scalar rides a broadcast nested-loop of a 1-row frame —
    the corpus itself never re-enters the plan (scan count == 0 because the
    checkpoint cut the lineage)."""
    from data_exchange_hl7_spark.plans import explain_str

    df = q.session_window_counts(spark, SF)
    plan = explain_str(df)
    assert "SessionWindow" in plan or "session_window" in plan
    assert_no_python_udf(df)

    df = q.snapshot_diff(spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan
    assert_no_python_udf(df)
    # all four classifications are live at the oracle-gate SF (non-vacuous:
    # 8 added / 50 changed / 9 removed / 62 unchanged at sf0.01; the tiny
    # sf0.001 corpus only produces changed/unchanged)
    gate = q.snapshot_diff(spark, "/root/testdata/sf0.01")
    stats = {r["status"] for r in gate.select("status").distinct().collect()}
    assert stats == {"added", "removed", "changed", "unchanged"}

    try:
        # module_pagerank checkpoints each round (lineage truncated out of
        # downstream plans), so the broadcast contract is asserted on a LIVE
        # iteration step — the exact plan every round executes (same pattern
        # as the k-means assignment test)
        edges, nodes = qt._pagerank_graph(spark, SF)
        n = nodes.count()
        base = (qt.PR_SCALE * 15) // (100 * n)
        ranks = nodes.select(
            "node", F.lit(qt.PR_SCALE // n).cast("bigint").alias("rank")
        )
        srcs = edges.select(F.col("src").alias("node")).distinct()
        step = qt._pagerank_step(edges, nodes, srcs, ranks, n, base)
        plan = explain_str(step)
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan
        assert_no_python_udf(step)
        # lineage was cut at the checkpointed graph frames: the document
        # corpus is NOT rescanned by any iteration
        assert "Scan parquet" not in plan

        df = qt.module_pagerank(spark, SF)
        assert_no_python_udf(df)
        # the layered digraph has real dangling sinks (lib* never has
        # out-edges), so the redistributed mass is nonzero: every node,
        # including the in-edge-less mod roots, sits strictly above the
        # teleport-only floor
        rows = {r["node"]: r["rank_ppm"] for r in df.collect()}
        assert {k[:3] for k in rows} == {"mod", "pkg", "lib"}
        assert min(rows.values()) > base
        # and rank discriminates: hub packages outrank the uniform roots
        mod_floor = max(v for k, v in rows.items() if k.startswith("mod"))
        assert min(v for k, v in rows.items() if k.startswith("pkg")) > mod_floor
    finally:
        qt.release_persisted_frames()


def test_cms_sketch_shape_and_invariant(spark):
    """cms_heavy_hitters' scale contract: candidates come from TakeOrdered
    (partial top-k, never a global sort/window), the 256-cell sketch joins
    BROADCAST onto the probe, and the whole pipeline stays JVM-side. The
    CMS overestimate-only invariant holds on every row and is non-vacuous
    (w=8 over a ~31-token vocab guarantees real collisions)."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.cms_heavy_hitters(spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert_broadcast_join(df, at_least=1)
    assert_no_python_udf(df)
    rows = df.collect()
    assert len(rows) == qt.CMS_TOP
    assert all(r["over_by"] >= 0 for r in rows), "CMS must never underestimate"
    assert any(r["over_by"] > 0 for r in rows), "collision regime is vacuous"


def test_content_defined_chunks_narrow_until_agg(spark):
    """content_defined_chunks' scale contract: boundary detection + chunk
    assembly are array expressions at the scan (NO window, NO join, nothing
    keyed by position); the only exchanges are the final chunk_hash agg and
    the presentation sort. Cross-document duplicate chunks exist for real."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.content_defined_chunks(spark, SF)
    plan = explain_str(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert_no_python_udf(df)
    rows = df.collect()
    assert rows and any(r["n_docs"] >= 2 for r in rows)


def test_fim_transform_is_map_only(spark):
    """fim_transform's scale contract: cut-point derivation, span slicing,
    PSM/SPM assembly, and the sha256 are all per-row expressions at the
    scan — NO hash shuffle, window, or join anywhere (the presentation
    orderBy's range exchange is the only one). Mode mix must cover all
    three branches and spans must tile the document exactly."""
    import re
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.fim_transform(spark, SF)
    plan = explain_str(df)
    assert not re.findall(r"\bExchange hashpartitioning", plan)
    assert "Window" not in plan and "Join" not in plan
    assert_no_python_udf(df)
    rows = df.collect()
    assert {r["mode"] for r in rows} == {"plain", "psm", "spm"}
    doc = {r["doc_id"]: r for r in rows}
    lens = {
        r["doc_id"]: r["n_prefix"] + r["n_middle"] + r["n_suffix"] for r in rows
    }
    truth = dict(
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.length("text").cast("bigint").alias("L"))
        .collect()
    )
    assert lens == truth, "FIM spans must tile each document exactly"
    # replay stability: a second run reproduces byte-identical shas
    again = {r["doc_id"]: r["fim_sha256"] for r in qt.fim_transform(spark, SF).collect()}
    assert again == {k: v["fim_sha256"] for k, v in doc.items()}


def test_intradoc_line_dedup_two_doc_aggs(spark):
    """intradoc_line_dedup's scale contract: exactly the two doc-keyed hash
    aggregations (first-occurrence keeper, then per-doc reassembly) — no
    window, no join, no global keying (the line column never partitions an
    exchange alone, so a corpus-hot line cannot skew it). Repeats must be
    conserved: lines_in - lines_out == repeats_removed >= 0."""
    import re
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.intradoc_line_dedup(spark, SF)
    plan = explain_str(df)
    assert "Window" not in plan and "Join" not in plan
    assert_no_python_udf(df)
    keyings = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keyings, "expected the two doc-keyed aggs"
    assert all("doc_id" in k for k in keyings), keyings
    rows = df.collect()
    assert all(
        r["lines_in"] - r["lines_out"] == r["repeats_removed"] >= 0 for r in rows
    )


def test_contamination_score_broadcasts_eval_side(spark):
    """contamination_overlap_score's scale contract: the eval-set shingle
    hashes are BROADCAST into the probe join and the only hash exchange
    keys on doc_id (the count agg) — the training corpus must never
    shuffle by shingle, so a corpus-hot n-gram cannot skew it. Every
    train doc appears in the report (zero-overlap rows included), and the
    binary `decontamination` hit list must agree with the n_shared > 0
    subset."""
    import re
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.contamination_overlap_score(spark, SF)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    keyings = re.findall(r"hashpartitioning\(([^,)]*)", plan)
    # allowed exchanges: doc_id-keyed (the count agg) and at most ONE
    # h-keyed (the EVAL side's distinct — bounded by the benchmark suite's
    # size, and it feeds the broadcast). Corpus shingles never key one.
    assert keyings, keyings
    h_keyed = [k for k in keyings if k.startswith("h#")]
    assert len(h_keyed) <= 1, keyings
    assert all(("doc_id" in k) or k.startswith("h#") for k in keyings), keyings
    assert_no_python_udf(df)
    rows = df.collect()
    assert any(r["n_shared"] == 0 for r in rows), "zero-overlap rows missing"
    hits = {r["doc_id"] for r in qt.decontamination(spark, SF).collect()}
    assert {r["doc_id"] for r in rows if r["n_shared"] > 0} == hits


def test_continuation_session_queries_stay_jvm_side(spark):
    """temperature_mixing is one dim agg + broadcast folds (no Python, no
    window); knn_graph_clusters' scoring stays in built-ins (the top-k
    window is per-vector, bounded k); the constraint gate adds a narrow
    boolean projection — none may plan a Python UDF."""
    for fn in [qt.temperature_mixing, qt.knn_graph_clusters]:
        assert_no_python_udf(fn(spark, SF))


def test_constraint_gate_is_narrow_projection(spark):
    """The CHECK-constraint split adds zero exchanges on top of the change
    frame: tagging is a projection, the passing filter is narrow."""
    from data_exchange_hl7_spark.lake.table import LakeTable

    import tempfile

    loc = tempfile.mkdtemp(prefix="plan_cons_")
    t = LakeTable.create(
        spark, loc, [("k", "string"), ("n", "int"), ("lsn", "bigint")],
        ["k"], n_buckets=4, order_col="lsn",
    )
    ch = spark.createDataFrame(
        [("a", 1, 1, "U")], "k string, n int, lsn long, __op string"
    )
    good, _, handle = t._enforce_check_constraints(
        ch, {"n_pos": "n > 0"}, t.current_snapshot(), 0
    )
    try:
        assert n_exchanges(good) == 0
        assert_no_python_udf(good)
    finally:
        handle.unpersist()


def test_knn_graph_lsh_no_cartesian(spark):
    """The bucketed kNN-graph variant must plan a hash join on the SRP
    bucket key — never a cartesian product (its whole reason to exist)."""
    from data_exchange_hl7_spark.plans import explain_str

    df = qt.knn_graph_clusters_lsh(spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_no_python_udf(df)


def test_corpus_build_plan_shape(spark):
    """The composed corpus build keeps its constituent stages' scale
    contracts end-to-end: the eval-shingle set and the shard-offset dim are
    broadcast (the corpus side never shuffles for decontamination or for
    the rank rebase), nothing degenerates to a cartesian, and the whole
    6-stage composition stays JVM-side."""
    from data_exchange_hl7_spark.plans import explain_str

    df = q.corpus_build_read(spark, SF)
    plan = explain_str(df)
    assert_broadcast_join(df, at_least=2)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert_no_python_udf(df)
