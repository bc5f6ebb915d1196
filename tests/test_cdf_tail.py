"""CdfTailReplicator: table-to-table incremental replication by tailing
the upstream change feed (streaming/cdf_tail.py).

Contracts under test: replica == upstream at every catch-up point, offsets
live in the replica's epoch ledger (crash-resume = build a fresh replicator
and it picks up where the ledger says), exactly-once (re-polls NO-OP),
out-of-LSN-order windows resolve exactly as upstream does, schema evolution
propagates, partial replicas via transform, and the Iceberg retention
contract (a consumer lagging past upstream expiry raises, never skips).
"""

import pyspark.sql.functions as F
import pytest

from data_exchange_hl7_spark.lake.table import LakeTable
from data_exchange_hl7_spark.streaming.cdf_tail import CdfTailReplicator, replicate


def _mk(spark, path, n_buckets=4, cols=None):
    cols = cols or [("k", "bigint"), ("v", "string"), ("lsn", "bigint")]
    return LakeTable.create(
        spark,
        str(path),
        schema=cols,
        key_cols=["k"],
        n_buckets=n_buckets,
        order_col="lsn",
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string, lsn bigint, __op string")


def _state(t):
    return sorted((r["k"], r["v"], r["lsn"]) for r in t.snapshot().collect())


def test_replica_matches_upstream_incrementally(spark, tmp_path):
    up = _mk(spark, tmp_path / "up", n_buckets=8)
    rep = _mk(spark, tmp_path / "rep", n_buckets=4)
    tail = CdfTailReplicator(up, rep)

    up.merge(_changes(spark, [(1, "a", 10, "U"), (2, "b", 11, "U")]), epoch=0)
    st = tail.run_until_caught_up()
    assert [s["applied"] for s in st] == [True]
    assert _state(rep) == _state(up)

    up.merge(_changes(spark, [(1, "a2", 20, "U"), (3, "c", 21, "U")]), epoch=1)
    up.merge(_changes(spark, [(2, None, 30, "D")]), epoch=2)
    st = tail.run_until_caught_up()
    assert any(s["applied"] for s in st)
    assert _state(rep) == _state(up)
    assert _state(rep) == [(1, "a2", 20), (3, "c", 21)]


def test_offset_is_durable_and_exactly_once(spark, tmp_path):
    up = _mk(spark, tmp_path / "up")
    rep = _mk(spark, tmp_path / "rep")
    up.merge(_changes(spark, [(1, "a", 1, "U")]), epoch=0)
    up.merge(_changes(spark, [(2, "b", 2, "U")]), epoch=1)

    CdfTailReplicator(up, rep, max_snapshots_per_poll=1).poll()
    # crash here: a FRESH replicator (no shared state) resumes from the
    # replica's own ledger, replicating only the un-consumed window
    tail2 = CdfTailReplicator(up, rep, max_snapshots_per_poll=1)
    assert tail2.offset() == 1
    st = tail2.run_until_caught_up()
    assert [s["applied"] for s in st] == [True]
    assert _state(rep) == _state(up)
    # exactly-once: everything after catch-up is a NO-OP
    assert all(not s["applied"] for s in tail2.run_until_caught_up())
    assert tail2.lag() == 0


def test_out_of_lsn_order_window_resolves_like_upstream(spark, tmp_path):
    up = _mk(spark, tmp_path / "up")
    rep = _mk(spark, tmp_path / "rep")
    up.merge(_changes(spark, [(1, "new", 100, "U")]), epoch=0)
    # a LATER commit carrying an OLDER change for the same key (out-of-order
    # arrival): upstream's MoR resolve ignores it, the replica must too —
    # both when the two commits land in ONE poll window and when the replica
    # merges them as separate epochs
    up.merge(_changes(spark, [(1, "stale", 50, "U"), (4, "d", 51, "U")]), epoch=1)
    replicate(up, rep)  # single window spanning both snapshots
    assert _state(rep) == _state(up)
    assert _state(rep) == [(1, "new", 100), (4, "d", 51)]

    rep2 = _mk(spark, tmp_path / "rep2")
    replicate(up, rep2, max_snapshots_per_poll=1)  # one snapshot per window
    assert _state(rep2) == _state(up)


def test_order_col_tie_across_commits_resolves_like_upstream(spark, tmp_path):
    """Two commits carrying the SAME (key, lsn): upstream's MoR read keeps
    the LATER commit's row (layer sequence breaks order_col ties); the
    replica reduce must apply the same tie-break (_commit_snapshot), not an
    arbitrary winner — regression for the replica=='a' divergence."""
    up = _mk(spark, tmp_path / "up")
    up.merge(_changes(spark, [(1, "a", 5, "U")]), epoch=0)
    up.merge(_changes(spark, [(1, "b", 5, "U")]), epoch=1)
    assert _state(up) == [(1, "b", 5)]
    rep = _mk(spark, tmp_path / "rep")
    replicate(up, rep)  # one window spanning both commits
    assert _state(rep) == [(1, "b", 5)]
    # and the D-vs-U flavor: the later commit's delete must win the tie
    up2 = _mk(spark, tmp_path / "up2")
    up2.merge(_changes(spark, [(1, "a", 5, "U")]), epoch=0)
    up2.merge(_changes(spark, [(1, None, 5, "D")]), epoch=1)
    rep2 = _mk(spark, tmp_path / "rep2")
    replicate(up2, rep2)
    assert _state(rep2) == _state(up2) == []


def test_schema_evolution_propagates(spark, tmp_path):
    up = _mk(spark, tmp_path / "up")
    rep = _mk(spark, tmp_path / "rep")
    up.merge(_changes(spark, [(1, "a", 1, "U")]), epoch=0)
    up.add_column("lang", "string")
    up.merge(
        spark.createDataFrame(
            [(2, "b", 2, "U", "py")], "k bigint, v string, lsn bigint, __op string, lang string"
        ),
        epoch=1,
    )
    replicate(up, rep)
    assert "lang" in [f["name"] for f in rep.schema_fields()]
    got = {r["k"]: r["lang"] for r in rep.snapshot().collect()}
    assert got == {1: None, 2: "py"}


def test_partial_replica_via_transform(spark, tmp_path):
    up = _mk(spark, tmp_path / "up")
    rep = _mk(spark, tmp_path / "rep")
    up.merge(
        _changes(spark, [(1, "keep", 1, "U"), (2, "drop", 2, "U"), (3, "keep", 3, "U")]),
        epoch=0,
    )
    replicate(up, rep, transform=lambda df: df.filter(F.col("v") != "drop"))
    assert sorted(r["k"] for r in rep.snapshot().collect()) == [1, 3]
    # the filtered window still advanced the offset (empty merges commit)
    assert CdfTailReplicator(up, rep).lag() == 0


def test_transformed_replica_owns_its_schema(spark, tmp_path):
    """Schema evolution must NOT auto-propagate into a transformed replica —
    the transform decides what new upstream columns mean."""
    up = _mk(spark, tmp_path / "up")
    rep = _mk(spark, tmp_path / "rep")
    up.merge(_changes(spark, [(1, "a", 1, "U")]), epoch=0)
    up.add_column("extra", "string")
    up.merge(
        spark.createDataFrame(
            [(2, "b", 2, "U", "x")],
            "k bigint, v string, lsn bigint, __op string, extra string",
        ),
        epoch=1,
    )
    replicate(up, rep, transform=lambda df: df.select("k", "v", "lsn", "__op"))
    assert "extra" not in [f["name"] for f in rep.schema_fields()]
    assert sorted(r["k"] for r in rep.snapshot().collect()) == [1, 2]


def test_lagging_past_retention_raises(spark, tmp_path):
    up = _mk(spark, tmp_path / "up")
    rep = _mk(spark, tmp_path / "rep")
    for e in range(4):
        up.merge(_changes(spark, [(e, f"v{e}", e, "U")]), epoch=e)
    up.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        replicate(up, rep)


def test_replica_created_from_final_schema(spark, tmp_path):
    """A replica forked from the CURRENT upstream schema must still replay
    windows that PREDATE the newest columns (those rows fill null) —
    regression for the engine-built bench table whose schema evolves
    mid-stream."""
    up = _mk(spark, tmp_path / "up")
    up.merge(_changes(spark, [(1, "a", 1, "U")]), epoch=0)
    up.add_column("lang", "string")
    up.merge(
        spark.createDataFrame(
            [(2, "b", 2, "U", "py")],
            "k bigint, v string, lsn bigint, __op string, lang string",
        ),
        epoch=1,
    )
    rep = _mk(
        spark,
        tmp_path / "rep",
        cols=[(f["name"], f["type"]) for f in up.schema_fields()],
    )
    # one snapshot per poll: the FIRST window predates the lang column
    replicate(up, rep, max_snapshots_per_poll=1)
    got = {r["k"]: r["lang"] for r in rep.snapshot().collect()}
    assert got == {1: None, 2: "py"}


def test_window_with_many_changes_per_key_replicates_upstream_state(spark, tmp_path):
    """A poll window carrying several changes per key reduces to the latest
    one per key, so the replica equals the upstream state."""
    up = _mk(spark, tmp_path / "up")
    # 8 epochs re-writing the SAME 5 keys -> one poll window carries 8
    # changes per key, so the reduce actually has duplicates to resolve
    for e in range(8):
        up.merge(
            _changes(spark, [(k, f"v{e}_{k}", e * 5 + k, "U") for k in range(5)]),
            epoch=e,
        )
    rep = _mk(spark, tmp_path / "rep")
    CdfTailReplicator(up, rep).run_until_caught_up()
    assert _state(rep) == _state(up)


def test_replication_across_consolidation(spark, tmp_path):
    """A consolidation commit inside the window contributes no changes and
    must not break the feed (per-snapshot metadata is immutable)."""
    up = _mk(spark, tmp_path / "up")
    rep = _mk(spark, tmp_path / "rep")
    up.merge(_changes(spark, [(1, "a", 1, "U")]), epoch=0)
    up.merge(_changes(spark, [(2, "b", 2, "U")]), epoch=1)
    up.consolidate_deltas()
    up.merge(_changes(spark, [(3, "c", 3, "U")]), epoch=2)
    replicate(up, rep)
    assert _state(rep) == _state(up)
