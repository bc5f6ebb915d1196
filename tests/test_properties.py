"""Property-based tests (hypothesis) for the order-sensitive operators.

The reference ships no property tests (SURVEY.md section 5); these go beyond
it on the two places where a subtle ordering/parsing bug would silently
corrupt the final table state: the A1 latest-per-key tie-break cascade
(every variant must agree with a brute-force Python oracle under arbitrary
interleavings and ties) and the D2 debatcher (message count / index /
round-trip under arbitrary batch shapes). Spark-backed properties run few
examples (each example is a Spark job); the pure-Python parsers get the
full default example budget.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_exchange_hl7_spark.lake.table import ConcurrentCommitError

from data_exchange_hl7_spark.operators.debatch import debatch
from data_exchange_hl7_spark.operators.dedup import (
    latest_by_key,
    latest_by_key_bucketed,
)
from data_exchange_hl7_spark.operators.mmg_content import parse_cardinality
from data_exchange_hl7_spark.streaming.runner import _parse_byte_conf

SPARK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# (key, lsn, ts) with tiny domains so ties on every prefix of the order
# cascade are common; event_id is assigned by position, so the total order
# (lsn, ts, event_id) always has a unique winner to compare against.
events_strategy = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 6), st.integers(0, 2)),
    min_size=1,
    max_size=50,
)


def _python_latest(rows):
    best = {}
    for k, lsn, ts, eid in rows:
        if k not in best or (lsn, ts, eid) > best[k][1:]:
            best[k] = (k, lsn, ts, eid)
    return sorted(best.values())


@given(events_strategy)
@SPARK_SETTINGS
def test_latest_by_key_variants_match_python_oracle(spark, raw):
    rows = [(k, lsn, ts, i) for i, (k, lsn, ts) in enumerate(raw)]
    df = spark.createDataFrame(rows, "k int, lsn int, ts int, event_id int")
    expected = _python_latest(rows)

    plain = latest_by_key(df, ["k"], ["lsn", "ts", "event_id"])
    got = sorted(tuple(r) for r in plain.select("k", "lsn", "ts", "event_id").collect())
    assert got == expected

    from pyspark.sql import functions as F

    bucketed = latest_by_key_bucketed(
        df.withColumn("__bucket", F.pmod(F.xxhash64("k"), F.lit(3)).cast("int")),
        ["k"],
        ["lsn", "ts", "event_id"],
    )
    got_b = sorted(
        tuple(r) for r in bucketed.select("k", "lsn", "ts", "event_id").collect()
    )
    assert got_b == expected


token = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8)
message = st.builds(
    lambda a, b, extra_seg: f"MSH|^~\\&|{a}|{b}" + (f"\nPID|1|{a}" if extra_seg else ""),
    token,
    token,
    st.booleans(),
)
batch_file = st.tuples(
    st.booleans(),  # file headers present
    st.lists(message, min_size=0, max_size=6),
    st.booleans(),  # trailers present
)


@given(st.lists(batch_file, min_size=1, max_size=4))
@SPARK_SETTINGS
def test_debatch_count_index_roundtrip(spark, files):
    rows = []
    for i, (hdr, msgs, trl) in enumerate(files):
        parts = []
        if hdr:
            parts += ["FHS|^~\\&|sender", "BHS|^~\\&|batch"]
        parts += [m for m in msgs]
        if trl:
            parts += ["BTS|%d" % len(msgs), "FTS|1"]
        rows.append((f"f{i}", "\n".join(parts)))
    df = spark.createDataFrame(rows, "file_id string, content string")
    out = debatch(df).collect()

    by_file = {}
    for r in out:
        by_file.setdefault(r["file_id"], []).append(r)
    for i, (hdr, msgs, trl) in enumerate(files):
        got = sorted(by_file[f"f{i}"], key=lambda r: r["message_index"])
        if not msgs:
            # zero-message file -> exactly one REJECTED row, index 0
            assert len(got) == 1 and got[0]["message_index"] == 0
            continue
        assert len(got) == len(msgs)
        assert [r["message_index"] for r in got] == list(range(1, len(msgs) + 1))
        tag = "SINGLE" if len(msgs) == 1 else "BATCH"
        assert all(r["single_or_batch"] == tag for r in got)
        # round-trip: each emitted message equals its source message verbatim
        assert [r["message_content"] for r in got] == msgs
        if hdr:
            assert got[0]["batch_header"].startswith("FHS|")


@given(st.integers(0, 99), st.integers(0, 99))
def test_parse_cardinality_bounded(m, n):
    lo, hi = parse_cardinality(f"[{m}..{n}]")
    assert (lo, hi) == (m, n)


@given(st.integers(0, 99))
def test_parse_cardinality_unbounded(m):
    lo, hi = parse_cardinality(f"[{m}..*]")
    assert lo == m and hi is None


@given(
    st.integers(1, 10**12),
    st.sampled_from(["", "b", "k", "kb", "m", "mb", "g", "gb"]),
)
def test_parse_byte_conf(n, suffix):
    mult = {"": 1, "b": 1, "k": 1024, "kb": 1024, "m": 1024**2,
            "mb": 1024**2, "g": 1024**3, "gb": 1024**3}[suffix]
    assert _parse_byte_conf(f"{n}{suffix}") == n * mult


@given(
    st.lists(st.text(min_size=0, max_size=8), min_size=0, max_size=60),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_kmv_merge_equals_global_sketch(values, n_parts):
    """The mergeability identity kmv_distinct_sketch relies on: the k
    smallest of the union of per-partition k-minimum sets equals the k
    smallest of the global distinct set — for ANY partitioning."""
    import hashlib

    K = 5
    hashes = sorted({
        int(hashlib.md5(v.encode()).hexdigest()[:15], 16) for v in values
    })
    global_sketch = hashes[:K]
    parts = [set() for _ in range(n_parts)]
    for i, v in enumerate(values):
        parts[i % n_parts].add(int(hashlib.md5(v.encode()).hexdigest()[:15], 16))
    merged = sorted(set().union(*[sorted(p)[:K] for p in parts]))[:K]
    assert merged == global_sketch


@given(st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=300, deadline=None)
def test_sliding_window_coverage(epoch_s):
    """Window-assignment identity the sliding_window_counts oracle relies
    on: an event at time t is covered by exactly window//slide sliding
    windows, whose starts are the slide-aligned points in
    (t - window, t] — i.e. date_trunc(slide) minus 0..n-1 slides."""
    WINDOW, SLIDE = 3 * 3600, 3600
    starts = {
        (epoch_s // SLIDE) * SLIDE - i * SLIDE for i in range(WINDOW // SLIDE)
    }
    brute = {
        s for s in range(
            ((epoch_s - WINDOW) // SLIDE) * SLIDE, epoch_s + SLIDE, SLIDE
        )
        if s <= epoch_s < s + WINDOW
    }
    assert starts == brute


@given(st.lists(st.integers(0, 10_000_000), min_size=1, max_size=200, unique=True))
def test_split_assignment_stable_under_corpus_growth(ids):
    """dataset_split_assign's claim: a doc's split NEVER changes as the
    corpus grows (eval sets stay uncontaminated across dataset versions).
    The split is a pure function of doc_id — verify the exact permille rule
    in Python over arbitrary id sets and check it partitions (every doc in
    exactly one split), matching the constants the oracle uses."""
    from data_exchange_hl7_spark.queries_text import (
        SAMPLE_MULT,
        SPLIT_TRAIN_PM,
        SPLIT_VAL_PM,
    )

    def split_of(doc_id: int) -> str:
        b = (doc_id * SAMPLE_MULT) % 4294967296 % 1000
        if b < SPLIT_TRAIN_PM:
            return "train"
        if b < SPLIT_VAL_PM:
            return "val"
        return "test"

    full = {i: split_of(i) for i in ids}
    # growth: recompute over every prefix subset — assignments never move
    for k in range(1, len(ids)):
        sub = {i: split_of(i) for i in ids[:k]}
        assert all(full[i] == s for i, s in sub.items())
    assert set(full.values()) <= {"train", "val", "test"}


# ------------------- z-order rank: order preservation ----------------------


zorder_vals = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=2, max_size=40
)


@given(zorder_vals)
@SPARK_SETTINGS
def test_zorder_rank_is_order_preserving(spark, vals):
    """The z-order per-column range id must be NON-DECREASING in the
    column's natural order — that is the property that keeps raw per-file
    min/max stats tight after the interleave (a hash-based id would cluster
    equally well for equality probes but destroy range stats)."""
    from pyspark.sql import functions as F

    from data_exchange_hl7_spark.lake.table import LakeTable

    df = spark.createDataFrame([(v,) for v in vals], "c string")
    t = LakeTable.__new__(LakeTable)  # rank helpers only touch spark + df
    t.spark = spark
    bounds = LakeTable._zorder_boundaries(t, df, "c", 8)
    if not bounds:
        return  # <2 distinct values: rank is constant, trivially monotone
    arr = F.array(*[F.lit(b) for b in bounds])
    rank = F.aggregate(
        arr, F.lit(0), lambda acc, b: acc + F.when(F.col("c") > b, 1).otherwise(0)
    )
    got = {
        r["c"]: r["rank"]
        for r in df.select("c", rank.alias("rank")).distinct().collect()
    }
    ordered = sorted(got)
    ranks = [got[v] for v in ordered]
    assert ranks == sorted(ranks), f"rank not monotone: {list(zip(ordered, ranks))}"
    assert 0 <= min(ranks) and max(ranks) <= len(bounds)


# ------------------- license precedence: SPDX beats phrase -----------------


def test_license_precedence_is_total(spark):
    """Every doc gets exactly one verdict; SPDX-tagged docs always resolve
    to the tag regardless of which phrase also matches; docs with neither
    resolve NOASSERTION/unknown/none — the classification is total and
    mutually exclusive (the keep gate cannot silently drop or double-count
    a file)."""
    from data_exchange_hl7_spark import queries_text as qt

    rows = qt.license_detect(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["via"] in ("spdx", "phrase", "none")
        if r["via"] == "spdx":
            assert r["license"] == "BSD-2-Clause"  # the injected tag wins
        if r["via"] == "none":
            assert r["license"] == "NOASSERTION" and r["family"] == "unknown"
        assert (r["keep"] == 1) == (r["family"] == "permissive")


def test_content_defined_chunks_resync_after_edit(spark):
    """The defining CDC-chunking property: prepend one word to a document
    and only the FIRST chunk can change — boundaries re-synchronize at the
    first boundary word, so every later chunk hashes identically (fixed
    offset windows would ALL shift). Checked per document on the sf0.001
    corpus: |orig chunks ∩ edited chunks| >= |orig chunks| - 1."""
    from collections import Counter

    from pyspark.sql import functions as F

    from data_exchange_hl7_spark.queries_text import _cd_chunks

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
    )
    orig = _cd_chunks(docs).collect()
    edited = _cd_chunks(
        docs.withColumn("text", F.concat(F.lit("zEDITz "), F.col("text")))
    ).collect()
    by_doc_o, by_doc_e = {}, {}
    for r in orig:
        by_doc_o.setdefault(r["doc_id"], []).append(r["chunk_hash"])
    for r in edited:
        by_doc_e.setdefault(r["doc_id"], []).append(r["chunk_hash"])
    assert set(by_doc_o) == set(by_doc_e)
    multi = 0
    for doc_id, o in by_doc_o.items():
        e = Counter(by_doc_e[doc_id])
        shared = sum(min(c, e[h]) for h, c in Counter(o).items())
        assert shared >= len(o) - 1, f"doc {doc_id}: resync failed"
        if len(o) >= 2:
            multi += 1
            assert shared >= 1
    assert multi > 0, "corpus too short to exercise multi-chunk docs"


def test_bloom_decontaminate_one_sided_error(spark):
    """Bloom filters have ONE-sided error: every exactly-contaminated
    shingle must be flagged (no false negatives — n_flagged >= n_exact per
    doc, and every doc the exact path surfaces appears in the bloom path),
    while false positives are allowed and should actually occur at the test
    m/k so the accounting is exercised."""
    from data_exchange_hl7_spark import queries_text as qt

    sf = "/root/testdata/sf0.01"
    bloom = {r["doc_id"]: r for r in qt.bloom_decontaminate(spark, sf).collect()}
    exact = {r["doc_id"]: r["n_shared"] for r in qt.decontamination(spark, sf).collect()}
    for doc_id, n_shared in exact.items():
        assert doc_id in bloom, f"false negative: doc {doc_id} missing"
        assert bloom[doc_id]["n_exact"] == n_shared
    for r in bloom.values():
        assert r["n_flagged"] >= r["n_exact"]
        assert r["n_flagged"] <= r["n_grams"]
    assert any(r["n_flagged"] > r["n_exact"] for r in bloom.values()), (
        "no false positive at test m/k — FP accounting is vacuous"
    )


# --------------------------------------------------------------- rollback
# Model-based test: arbitrary interleavings of MoR merges and rollbacks
# must equal a pure-Python dict model replayed over the same ops. Catches
# the classes of bug a scenario test cannot enumerate: rolling back TO a
# rollback commit, consecutive rollbacks, merge-after-rollback lsn
# interactions, and delete/upsert mixes across the restored boundary.
_row_batch = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 5), st.booleans()),
    min_size=1,
    max_size=3,
    unique_by=lambda r: r[0],
)
_rollback_ops = st.lists(
    st.one_of(
        _row_batch.map(lambda rs: ("merge", rs)),
        st.integers(0, 1000).map(lambda i: ("rollback", i)),
        # compaction is state-preserving, so the model is unchanged — but a
        # rollback TO a pre-compaction snapshot (and compacting again after)
        # exercises the manifest paths the merge-only interleavings miss
        st.just(("compact", None)),
        # minor compaction likewise (tombstone-retaining layer fold);
        # interleaved with rollbacks it exercises rolling back past a
        # consolidate and re-stacking layers on a consolidated bucket
        st.just(("consolidate", None)),
        # branch ops: a branch_merge forks once (lazily) and then commits on
        # the fork's private model; publish fast-forwards ONLY if the parent
        # head is still the fork base (otherwise the publish must raise and
        # change NOTHING). Interleaved with parent merges and rollbacks this
        # covers publish-after-parent-moved, publish-after-parent-ROLLBACK
        # (same state, different sid — must still refuse), and
        # rollback-past-a-publish.
        _row_batch.map(lambda rs: ("branch_merge", rs)),
        st.just(("publish", None)),
    ),
    min_size=3,
    max_size=7,
)


@given(ops=_rollback_ops)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_rollback_model_equivalence(spark, ops):
    import shutil
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable

    loc = tempfile.mkdtemp(prefix="dex_rollprop_")
    try:
        t = LakeTable.create(
            spark,
            loc,
            [("k", "int"), ("v", "int"), ("lsn", "bigint")],
            ["k"],
            n_buckets=2,
            order_col="lsn",
        )
        model: dict[int, tuple[int, int]] = {}
        hist = [(0, dict(model))]  # (snapshot_id, model state at that commit)
        lsn = 0
        epoch = 0
        branch = None  # [branch_table, fork_base_sid, branch_model]
        n_forks = 0

        def _apply(rows_spec, m):
            nonlocal lsn
            rows = []
            for k, v, is_del in rows_spec:
                lsn += 1
                rows.append((k, v, lsn, "D" if is_del else "U"))
                if is_del:
                    m.pop(k, None)
                else:
                    m[k] = (v, lsn)
            return rows

        for kind, arg in ops:
            if kind == "merge":
                rows = _apply(arg, model)
                epoch += 1
                t.merge(
                    spark.createDataFrame(
                        rows, "k int, v int, lsn long, __op string"
                    ),
                    epoch=epoch,
                )
            elif kind == "rollback":
                sid, past = hist[arg % len(hist)]
                t.rollback_to(sid)
                model = dict(past)
            elif kind == "branch_merge":
                if branch is None:
                    n_forks += 1
                    bt = t.branch(loc + f"_br{n_forks}", name=f"br{n_forks}")
                    branch = [bt, t.current_snapshot()["snapshot_id"], dict(model)]
                bt, _base, bmodel = branch
                rows = _apply(arg, bmodel)
                epoch += 1
                bt.merge(
                    spark.createDataFrame(
                        rows, "k int, v int, lsn long, __op string"
                    ),
                    epoch=epoch,
                )
            elif kind == "publish":
                if branch is None:
                    continue
                bt, base, bmodel = branch
                if t.current_snapshot()["snapshot_id"] == base:
                    res = t.fast_forward(bt)
                    if res["fast_forwarded"]:
                        model = dict(bmodel)
                else:
                    # parent moved (merge OR rollback — even to the same
                    # state, the sid differs): publish must refuse and
                    # change nothing on the parent
                    before = t.current_snapshot()["snapshot_id"]
                    with pytest.raises(ConcurrentCommitError):
                        t.fast_forward(bt)
                    assert t.current_snapshot()["snapshot_id"] == before
                bt.drop()
                t.drop_tag(f"__branch_br{n_forks}")
                branch = None
            elif kind == "consolidate":
                t.consolidate_deltas()
            else:
                t.compact()
            hist.append((t.current_snapshot()["snapshot_id"], dict(model)))
        got = {r["k"]: (r["v"], r["lsn"]) for r in t.snapshot().collect()}
        assert got == model
    finally:
        shutil.rmtree(loc, ignore_errors=True)


# ---------------------------------------------------------------- cdf tail
# Replication convergence: for ANY change log (duplicate keys, out-of-order
# LSNs, deletes) and ANY partition of it into upstream epochs and ANY poll
# window size, the CDF-tail replica must equal the upstream table — which a
# brute-force Python oracle computes as max-LSN-per-key minus deleted keys.
changelog_strategy = st.tuples(
    st.lists(
        st.tuples(
            st.integers(0, 5),          # key
            st.integers(0, 30),         # lsn
            st.booleans(),              # is_delete
        ),
        min_size=1,
        max_size=24,
        unique_by=lambda r: r[1],       # unique LSNs (the engine contract)
    ),
    st.integers(1, 4),                  # number of upstream epochs
    st.integers(1, 3),                  # max_snapshots_per_poll
)


def _python_replica(rows):
    best = {}
    for k, lsn, dele in rows:
        if k not in best or lsn > best[k][0]:
            best[k] = (lsn, dele)
    return sorted((k, f"v{lsn}", lsn) for k, (lsn, dele) in best.items() if not dele)


@given(changelog_strategy)
@SPARK_SETTINGS
def test_cdf_tail_replica_converges(spark, tmp_path_factory, case):
    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.streaming.cdf_tail import replicate

    rows, n_epochs, per_poll = case
    base = tmp_path_factory.mktemp("cdf_prop")
    cols = [("k", "bigint"), ("v", "string"), ("lsn", "bigint")]
    up = LakeTable.create(
        spark, str(base / "up"), schema=cols, key_cols=["k"],
        n_buckets=4, order_col="lsn",
    )
    rep = LakeTable.create(
        spark, str(base / "rep"), schema=cols, key_cols=["k"],
        n_buckets=2, order_col="lsn",
    )
    for e in range(n_epochs):
        chunk = rows[e::n_epochs]
        if not chunk:
            continue
        # one row per key per merge: keep the chunk's max-lsn change per key
        per_key = {}
        for k, lsn, dele in chunk:
            if k not in per_key or lsn > per_key[k][1]:
                per_key[k] = (k, lsn, dele)
        payload = [
            (k, None if dele else f"v{lsn}", lsn, "D" if dele else "U")
            for k, lsn, dele in per_key.values()
        ]
        up.merge(
            spark.createDataFrame(payload, "k bigint, v string, lsn bigint, __op string"),
            epoch=e,
        )
    replicate(up, rep, max_snapshots_per_poll=per_poll)
    got = sorted(tuple(r) for r in rep.snapshot().collect())
    # the oracle must be computed from the per-epoch REDUCED payloads (the
    # engine's contract: one change per key per epoch), i.e. what upstream saw
    up_state = sorted(tuple(r) for r in up.snapshot().collect())
    assert got == up_state
    assert got == _python_replica(rows)


# ------------------------------------------------ CHECK-constraint gate

gate_rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),                      # key suffix
        st.one_of(st.none(), st.integers(-5, 5)),  # n (None -> NULL)
        st.sampled_from(["U", "D"]),
    ),
    min_size=1,
    max_size=12,
)


@given(rows=gate_rows_strategy)
@SPARK_SETTINGS
def test_constraint_gate_partitions_exactly(spark, tmp_path_factory, rows):
    """The gate PARTITIONS the change frame: every input row lands in
    exactly one of (merged-candidate, quarantined), with D rows and
    NULL-predicate rows always passing (SQL-standard CHECK) and negative-n
    U rows always quarantined — under arbitrary row mixes."""
    from data_exchange_hl7_spark.lake.table import LakeTable

    tmp = tmp_path_factory.mktemp("gate_prop")
    t = LakeTable.create(
        spark, str(tmp / "t"), [("k", "string"), ("n", "int"), ("lsn", "bigint")],
        ["k"], n_buckets=4, order_col="lsn",
    )
    # one row per key: keep the last occurrence (merge contract)
    dedup = {}
    for i, (ks, n, op) in enumerate(rows):
        dedup[f"k{ks}"] = (f"k{ks}", n, i, op)
    data = list(dedup.values())
    ch = spark.createDataFrame(data, "k string, n int, lsn long, __op string")
    good, n_bad, handle = t._enforce_check_constraints(
        ch, {"n_pos": "n > 0"}, t.current_snapshot(), 0
    )
    try:
        got_good = {(r["k"]) for r in good.collect()}
        expect_bad = {
            k for (k, n, _i, op) in data if op == "U" and n is not None and n <= 0
        }
        expect_good = {k for (k, *_rest) in data} - expect_bad
        assert got_good == expect_good
        assert n_bad == len(expect_bad)
    finally:
        handle.unpersist()
