"""Transaction log (operators/txlog.py) — the Delta-parity layer the
reference's silver sink implies (ETL/flight-silver-transformation
(1).ipynb:1299-1305 writes format('delta'); README.md:281-302 lists
MERGE/time-travel refresh). Pins the ACID contract: atomic publish,
snapshot isolation, time travel, optimistic concurrency, partition
overwrite, delete, exactly-once tokens, checkpointed log replay,
vacuum GC."""

from __future__ import annotations

import json
import os
import threading

import pytest

from us_flight_delay_data_pipeline_spark.operators.txlog import (
    TxConflictError,
    TxTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _vals(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, [(1, "a")]))
    v1 = t.append(_df(spark, [(2, "b")]))
    v2 = t.overwrite(_df(spark, [(9, "z")]))
    assert (v0, v1, v2) == (0, 1, 2)
    assert _vals(t.snapshot()) == [(9, "z")]
    assert _vals(t.snapshot(version=1)) == [(1, "a"), (2, "b")]
    assert _vals(t.snapshot(version=0)) == [(1, "a")]
    # time travel by timestamp: ts of v1 resolves to v1
    ts1 = t.history()[1]["ts"]
    assert _vals(t.snapshot(as_of_ts=ts1)) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError):
        t.snapshot(version=7)


def test_snapshot_isolation_against_later_writes(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    old = t.snapshot(version=0)  # resolved BEFORE the overwrite
    t.overwrite(_df(spark, [(2, "b")]))
    assert _vals(old) == [(1, "a")]  # still reads the old dirs


def test_overwrite_partitions_replaces_only_matching(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite_partitions(_df(spark, [(1, "jan")]), "month", ["jan"])
    t.overwrite_partitions(_df(spark, [(2, "feb")]), "month", ["feb"])
    t.overwrite_partitions(_df(spark, [(3, "jan")]), "month", ["jan"])
    assert _vals(t.snapshot()) == [(2, "feb"), (3, "jan")]


def test_delete_where_copy_on_write(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    t.delete_where("k = 2")
    assert _vals(t.snapshot()) == [(1, "a"), (3, "c")]
    # older snapshot still sees the deleted row (until vacuum)
    assert (2, "b") in _vals(t.snapshot(version=1))
    # the untouched dir was NOT rewritten: only the matching dir's
    # add/remove appear in the delete manifest
    m = t.history()[-1]
    assert m["op"] == "delete" and len(m["remove"]) == 1


def test_exactly_once_token(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    assert t.commit_once(_df(spark, [(1, "a")]), token="q1/0") == 0
    assert t.commit_once(_df(spark, [(1, "a")]), token="q1/0") is None
    assert t.commit_once(_df(spark, [(2, "b")]), token="q1/1") == 1
    assert _vals(t.snapshot()) == [(1, "a"), (2, "b")]


def test_optimistic_concurrency_parallel_appends(spark, tmp_path):
    """8 threads race appends into one table; every commit must land
    at a distinct version and no rows may be lost."""
    t = TxTable(spark, str(tmp_path / "t"))
    versions = []
    lock = threading.Lock()

    def worker(i: int):
        tt = TxTable(spark, str(tmp_path / "t"))
        v = tt.append(_df(spark, [(i, f"w{i}")]))
        with lock:
            versions.append(v)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sorted(versions) == list(range(8))
    assert len(_vals(t.snapshot())) == 8


def test_publish_is_atomic_create_if_absent(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    ok = t._publish(0, {"version": 0, "op": "x", "add": [], "remove": [],
                        "ts": 0, "schema": None, "meta": {}})
    assert ok is False  # version taken -> loser told to retry
    # and the existing manifest was not clobbered
    assert t.history()[0]["op"] == "append"


def test_conflict_error_when_retries_exhausted(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"), max_retries=0)
    with pytest.raises(TxConflictError):
        t.append(_df(spark, [(1, "a")]))


def test_checkpoint_bounds_replay_and_carries_tokens(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_every=4)
    for i in range(9):
        t.commit_once(_df(spark, [(i, "x")]), token=f"q/{i}")
    cks = [f for f in os.listdir(t.log_dir) if f.endswith(".ckpt.json")]
    assert sorted(cks) == ["00000003.ckpt.json", "00000007.ckpt.json"]
    # token dedup consults the checkpoint for pre-checkpoint tokens
    assert t.commit_once(_df(spark, [(0, "dup")]), token="q/0") is None
    with open(os.path.join(t.log_dir, "00000007.ckpt.json")) as f:
        ck = json.load(f)
    assert ck["tokens"] == [f"q/{i}" for i in range(8)]
    assert len(_vals(t.snapshot())) == 9
    # a snapshot at a pre-checkpoint version replays from scratch fine
    assert len(_vals(t.snapshot(version=2))) == 3


def test_vacuum_gc_unreachable_dirs(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    data_root = os.path.join(str(tmp_path / "t"), "data")
    assert len(os.listdir(data_root)) == 2
    deleted = t.vacuum(retain_last=1)
    assert len(deleted) == 1
    assert len(os.listdir(data_root)) == 1
    assert _vals(t.snapshot()) == [(2, "b")]


def test_compact_folds_active_dirs(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, [(i, "x")]))
    t.compact(target_partitions=1)
    assert len(t._state_at(t.latest_version())[0]) == 1
    assert len(_vals(t.snapshot())) == 4
    # pre-compaction snapshots unaffected
    assert len(_vals(t.snapshot(version=3))) == 4


def test_empty_snapshot_preserves_schema(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.delete_where("k = 1")
    snap = t.snapshot()
    assert snap.count() == 0
    assert [f.name for f in snap.schema.fields] == ["k", "v"]


def test_foreach_batch_replay_via_commit_once(spark, tmp_path):
    """Drives the streaming contract directly: replaying batch 1 after
    a simulated crash must not duplicate rows."""
    t = TxTable(spark, str(tmp_path / "t"))

    def handle(batch_df, batch_id):
        TxTable(spark, str(tmp_path / "t")).commit_once(
            batch_df, token=f"sink/{batch_id}")

    handle(_df(spark, [(1, "a")]), 0)
    handle(_df(spark, [(2, "b")]), 1)
    handle(_df(spark, [(2, "b")]), 1)  # replay
    assert _vals(t.snapshot()) == [(1, "a"), (2, "b")]


def test_write_silver_versioned_roundtrip(spark, tmp_path):
    """The silver sink through the txlog: two overwrites -> the live
    read sees only the second, the first stays time-travelable (the
    Delta contract of ETL/…ipynb:1299-1305 without delta-spark)."""
    from us_flight_delay_data_pipeline_spark.plans.silver import (
        write_silver_versioned,
    )
    path = str(tmp_path / "silver")
    v0 = write_silver_versioned(_df(spark, [(1, "2003")]), path)
    v1 = write_silver_versioned(_df(spark, [(2, "2004"), (3, "2005")]), path)
    assert (v0, v1) == (0, 1)
    t = TxTable(spark, path)
    assert _vals(t.snapshot()) == [(2, "2004"), (3, "2005")]
    assert _vals(t.snapshot(version=0)) == [(1, "2003")]


def test_data_skipping_prunes_dirs_by_stats(spark, tmp_path):
    """Per-dir min/max stats recorded at commit turn a range predicate
    into metadata-only dir skipping — the Delta data-skipping
    contract. inputFiles() proves the pruned dirs are never read."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(_df(spark, [(1, "a"), (5, "b")]))     # k in [1, 5]
    t.append(_df(spark, [(10, "c"), (20, "d")]))   # k in [10, 20]
    t.append(_df(spark, [(100, "e")]))             # k in [100, 100]
    pruned = t.snapshot(prune=("k", 8, 30))
    assert _vals(pruned) == [(10, "c"), (20, "d")]
    assert len({f.rsplit("/", 2)[-2] for f in pruned.inputFiles()}) == 1
    # one-sided ranges
    assert _vals(t.snapshot(prune=("k", 50, None))) == [(100, "e")]
    assert len(_vals(t.snapshot(prune=("k", None, 6)))) == 2
    # pruning is never lossy: filter on the pruned read == full filter
    full = sorted(r.k for r in t.snapshot().filter("k BETWEEN 8 AND 30")
                  .collect())
    got = sorted(r.k for r in t.snapshot(prune=("k", 8, 30))
                 .filter("k BETWEEN 8 AND 30").collect())
    assert got == full


def test_data_skipping_stats_survive_checkpoint_and_delete(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_every=2,
                stats_cols=("k",))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(50, "b")]))   # checkpoint at v1
    t.append(_df(spark, [(900, "c")]))
    # stats from before AND after the checkpoint both prune
    assert _vals(t.snapshot(prune=("k", 800, 999))) == [(900, "c")]
    assert _vals(t.snapshot(prune=("k", 0, 10))) == [(1, "a")]
    # copy-on-write delete refreshes the rewritten dir's stats
    t.delete_where("k = 900")
    t.append(_df(spark, [(901, "d")]))
    assert _vals(t.snapshot(prune=("k", 800, 999))) == [(901, "d")]


def test_dirs_without_stats_are_always_read(spark, tmp_path):
    # table created WITHOUT stats_cols, then reopened WITH them:
    # old dirs have no recorded range and must never be skipped
    t0 = TxTable(spark, str(tmp_path / "t"))
    t0.append(_df(spark, [(1, "a")]))
    t1 = TxTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t1.append(_df(spark, [(100, "b")]))
    assert _vals(t1.snapshot(prune=("k", 90, 110))) == [(1, "a"), (100, "b")]


def test_merge_update_and_insert_atomic(spark, tmp_path):
    """Delta MERGE semantics as one committed version: matched keys
    update, new keys insert, untouched dirs are not rewritten."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(100, "z")]))   # disjoint key range
    v = t.merge(_df(spark, [(2, "B2"), (3, "c")]), keys=["k"])
    assert _vals(t.snapshot()) == [(1, "a"), (2, "B2"), (3, "c"), (100, "z")]
    m = t.history()[v]
    assert m["op"] == "merge"
    # data skipping on the merge key: dir [100,100] was NOT rewritten
    assert len(m["remove"]) == 1
    # pre-merge snapshot unaffected (atomicity)
    assert _vals(t.snapshot(version=1)) == [(1, "a"), (2, "b"), (100, "z")]
    with pytest.raises(AssertionError):
        t.merge(_df(spark, [(7, "x"), (7, "y")]), keys=["k"])


def test_changes_cdf_insert_and_delete(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))            # v0
    t.append(_df(spark, [(2, "b")]))            # v1
    t.delete_where("k = 1")                      # v2
    ch = t.changes(0)  # everything after v0
    rows = sorted((r.k, r._change_type, r._commit_version)
                  for r in ch.collect())
    assert rows == [(1, "delete", 2), (2, "insert", 1)]
    # empty range keeps the CDF schema
    empty = t.changes(2)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_changes_overwrite_is_delete_plus_insert(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "old")]))
    t.overwrite(_df(spark, [(1, "new")]))
    rows = sorted((r.v, r._change_type) for r in t.changes(0).collect())
    assert rows == [("new", "insert"), ("old", "delete")]


def test_optimize_clusters_dirs_and_improves_skipping(spark, tmp_path):
    """OPTIMIZE: interleaved appends give every dir the full key range
    (no skipping possible); the clustering rewrite re-establishes
    disjoint per-dir ranges so a range predicate reads ~1/n dirs."""
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(_df(spark, [(1, "a"), (100, "b")]))   # both dirs span
    t.append(_df(spark, [(2, "c"), (99, "d")]))    # the whole range
    before = t.snapshot(prune=("k", 0, 10))
    assert len({f.rsplit("/", 2)[-2] for f in before.inputFiles()}) == 2
    v = t.optimize(cluster_by=("k",), n_dirs=2)
    assert t.history()[v]["op"] == "optimize"
    # values unchanged
    assert _vals(t.snapshot()) == [(1, "a"), (2, "c"), (99, "d"), (100, "b")]
    # skipping now prunes to one clustered dir
    after = t.snapshot(prune=("k", 0, 10))
    assert _vals(after.filter("k <= 10")) == [(1, "a"), (2, "c")]
    assert len({f.rsplit("/", 2)[-2] for f in after.inputFiles()}) == 1
    # pre-optimize snapshot unaffected
    assert len(_vals(t.snapshot(version=1))) == 4
    # no staging leftovers
    import os as _os
    leftovers = [d for d in _os.listdir(_os.path.join(str(tmp_path / "t"),
                                                      "data"))
                 if d.startswith("_opt-")]
    assert leftovers == []


def test_schema_evolution_merge_schema_read(spark, tmp_path):
    """Commits may add columns over time; merge_schema=True unions the
    dir schemas (absent columns read as NULL), while the default read
    and the manifest's recorded schema keep the latest contract."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(spark.createDataFrame([(2, "b", 9.5)],
                                   "k int, v string, score double"))
    evolved = t.snapshot(merge_schema=True)
    assert sorted(evolved.columns) == ["k", "score", "v"]
    rows = {r.k: (r.v, r.score) for r in evolved.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # the manifest records the evolving write-side schema per commit
    import json as _json
    schemas = [len(_json.loads(m["schema"])["fields"])
               for m in t.history()]
    assert schemas == [2, 3]


def _nonnull_table(spark, tmp_path):
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)
    schema = StructType([StructField("k", IntegerType(), False),
                         StructField("v", StringType(), True)])
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], schema))
    t.append(spark.createDataFrame([(2, None)], schema))
    return t


def test_snapshot_runs_no_spark_job(spark, tmp_path):
    """The snapshot reads with the manifest's recorded schema, so
    planning it starts no footer-reading (schema inference) job."""
    t = _nonnull_table(spark, tmp_path)
    sc = spark.sparkContext
    group = f"snapshot-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        snap = t.snapshot()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sorted(tuple(r) for r in snap.collect()) == [(1, "a"), (2, None)]


def test_snapshot_schema_equals_parquet_inference(spark, tmp_path):
    """The recorded schema (``k`` written non-nullable) reads back as
    exactly what Spark's own parquet inference gives."""
    t = _nonnull_table(spark, tmp_path)
    recorded = json.loads(t.history()[-1]["schema"])
    assert recorded["fields"][0]["nullable"] is False
    dirs = [os.path.join(t.path, d) for d in t._state_at(1)[0]]
    assert t.snapshot().schema == spark.read.parquet(*dirs).schema


def test_restore_is_metadata_only_and_time_travelable(spark, tmp_path):
    """Delta RESTORE: reinstating an old snapshot is a new commit that
    adds the old dirs back without copying a byte; stats come along so
    skipping still works; the overwritten history stays readable."""
    import os as _os
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(_df(spark, [(1, "a")]))                 # v0
    t.overwrite(_df(spark, [(2, "b")]))              # v1
    data_root = _os.path.join(str(tmp_path / "t"), "data")
    n_dirs_before = len(_os.listdir(data_root))
    v = t.restore(0)                                 # v2 == v0 content
    assert v == 2
    assert len(_os.listdir(data_root)) == n_dirs_before  # no new data dir
    assert _vals(t.snapshot()) == [(1, "a")]
    assert _vals(t.snapshot(version=1)) == [(2, "b")]  # history intact
    # restored dirs keep their data-skipping stats
    assert _vals(t.snapshot(prune=("k", 0, 1))) == [(1, "a")]
    assert t.history()[2]["meta"]["restore_of"] == 0
    # restore refuses when the target's dirs were vacuumed
    t.overwrite(_df(spark, [(3, "c")]))              # v3
    t.vacuum(retain_last=1)
    with pytest.raises(ValueError):
        t.restore(1)


def test_concurrent_mixed_ops_keep_log_consistent(spark, tmp_path):
    """8 threads race mixed append/overwrite/merge commits. Outcomes
    are order-dependent by design (last-overwrite-wins), but the LOG
    invariants must hold: contiguous versions, every version's
    snapshot readable, every active dir existing on disk."""
    import os as _os
    path = str(tmp_path / "t")
    TxTable(spark, path).append(_df(spark, [(0, "seed")]))
    errs = []

    def worker(i):
        try:
            tt = TxTable(spark, path)
            if i % 3 == 0:
                tt.append(_df(spark, [(i, "a")]))
            elif i % 3 == 1:
                tt.merge(_df(spark, [(i, "m")]), keys=["k"])
            else:
                tt.overwrite(_df(spark, [(i, "o")]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    import threading
    ts = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert errs == []
    t = TxTable(spark, path)
    vs = t._versions()
    assert vs == list(range(9))  # contiguous, no gaps
    for v in vs:
        active, _, _ = t._state_at(v)
        for rel in active:
            assert _os.path.isdir(_os.path.join(path, rel)), (v, rel)
        t.snapshot(version=v).count()  # readable


def test_stream_txlog_sink_end_to_end(spark, tmp_path):
    """A real writeStream through the txlog sink: a file-source stream
    drains into a versioned table; every micro-batch is one committed
    version with its replay token recorded, and the final snapshot
    equals the batch input."""
    from us_flight_delay_data_pipeline_spark.streaming.ingest import (
        stream_txlog_sink,
    )
    src_dir = str(tmp_path / "src")
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(src_dir)
    stream = (spark.readStream.schema("k int, v string").parquet(src_dir))
    q = stream_txlog_sink(stream, str(tmp_path / "table"),
                          str(tmp_path / "ckpt"), query_id="t1")
    q.awaitTermination()
    t = TxTable(spark, str(tmp_path / "table"))
    assert _vals(t.snapshot()) == [(1, "a"), (2, "b")]
    tokens = [(m.get("meta") or {}).get("token") for m in t.history()]
    assert all(tok and tok.startswith("t1/") for tok in tokens)


def test_medallion_with_versioned_silver(spark, tmp_path):
    """End-to-end medallion with the versioned silver sink: bronze
    envelope -> silver v0; a corrected re-run overwrites to v1; gold
    aggregates computed from the v0 snapshot are unaffected by v1
    (the audit/rollback property the reference's Delta sink implies),
    and the v1 gold reflects the correction."""
    import sys, os as _os
    sys.path.insert(0, _os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))))
    from tests.flight_fixtures import bronze_df, encode_bodies, \
        make_clean_rows
    from us_flight_delay_data_pipeline_spark.plans.silver import (
        silver_transform, write_silver_versioned)
    from us_flight_delay_data_pipeline_spark.plans.gold import (
        agg_carrier, derive_kpis)

    rows = make_clean_rows(n=40, seed=3)
    silver_v0 = silver_transform(bronze_df(spark, encode_bodies(rows)))
    path = str(tmp_path / "silver")
    write_silver_versioned(silver_v0, path)

    corrected = make_clean_rows(n=40, seed=3)[:30]  # late correction
    silver_v1 = silver_transform(bronze_df(spark, encode_bodies(corrected)))
    write_silver_versioned(silver_v1, path)

    t = TxTable(spark, path)
    g0 = agg_carrier(derive_kpis(t.snapshot(version=0)))
    g1 = agg_carrier(derive_kpis(t.snapshot()))
    n0 = sum(r["total_arr_flights"] or 0 for r in g0.collect())
    n1 = sum(r["total_arr_flights"] or 0 for r in g1.collect())
    exp0 = sum(int(float(r["arr_flights"])) for r in rows)
    exp30 = sum(int(float(r["arr_flights"])) for r in corrected)
    assert n0 == exp0 and n1 == exp30 and n0 != n1


def test_merge_multi_key(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "x", "old"), (1, "y", "keep"), (2, "x", "keep2")],
        "k int, sub string, v string"))
    t.merge(spark.createDataFrame(
        [(1, "x", "NEW"), (3, "z", "ins")], "k int, sub string, v string"),
        keys=["k", "sub"])
    got = sorted((r.k, r.sub, r.v) for r in t.snapshot().collect())
    assert got == [(1, "x", "NEW"), (1, "y", "keep"),
                   (2, "x", "keep2"), (3, "z", "ins")]


def test_changes_after_restore_shows_reinserts(spark, tmp_path):
    """CDF semantics of RESTORE: the restore commit re-adds the old
    dirs, so changes() reports their rows as inserts at the restore
    version and the displaced rows as deletes — exactly what an
    incremental consumer must apply to follow a rollback."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))     # v0
    t.overwrite(_df(spark, [(2, "b")]))  # v1
    t.restore(0)                          # v2
    rows = sorted((r.k, r._change_type, r._commit_version)
                  for r in t.changes(1).collect())
    assert rows == [(1, "insert", 2), (2, "delete", 2)]


@pytest.mark.slow  # fast-profile exclusion (see pytest.ini)
def test_long_log_checkpoints_vacuum_restore_chain(spark, tmp_path):
    """Long-log stress: 40 commits across 4 checkpoints, mixed
    appends/overwrites/deletes, then restore to a mid-chain version,
    vacuum, and verify every still-reachable snapshot — the
    maintenance lifecycle a long-lived table actually sees."""
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_every=10,
                stats_cols=("k",))
    import os as _os
    expected_latest = {}
    state: dict = {}
    for i in range(40):
        if i % 7 == 3:
            t.overwrite(_df(spark, [(i, "o")]))
            state = {i: "o"}
        elif i % 11 == 5:
            t.delete_where(f"k = {i - 1}")
            state.pop(i - 1, None)
        else:
            t.append(_df(spark, [(i, "a")]))
            state[i] = state.get(i, "a")
        expected_latest[i] = dict(state)
    cks = [f for f in _os.listdir(t.log_dir) if f.endswith(".ckpt.json")]
    assert len(cks) == 4
    # spot-check three historical snapshots against the model
    for v in (9, 24, 39):
        got = {r.k: r.v for r in t.snapshot(version=v).collect()}
        assert got == expected_latest[v], v
    # restore to v24, then vacuum everything but the last 2 versions
    t.restore(24)
    assert {r.k: r.v for r in t.snapshot().collect()} \
        == expected_latest[24]
    t.vacuum(retain_last=2)
    assert {r.k: r.v for r in t.snapshot().collect()} \
        == expected_latest[24]


def test_log_names_sort_lexicographically_numeric():
    """Object-store posture invariant (SCALE.md): manifest/checkpoint
    names must sort lexicographically in NUMERIC version order across
    the whole 8-digit namespace — the precondition for paginated
    start-after prefix listing reading only the post-checkpoint
    suffix. An unpadded name (9.json > 10.json) would silently break
    suffix listing at version 10."""
    from us_flight_delay_data_pipeline_spark.operators.txlog import (
        _ckpt_name, _manifest_name)

    versions = [0, 1, 9, 10, 99, 100, 12345678, 99999999]
    names = [_manifest_name(v) for v in versions]
    assert names == sorted(names)
    # checkpoints of version V sort BEFORE V's manifest (suffix
    # ".ckpt.json" < ".json" at the same 8-digit stem) and after
    # V-1's, so a start-after=<ckpt name of V> listing re-includes
    # exactly one already-checkpointed manifest (V's own — harmless,
    # replay is idempotent) and keeps every later version
    for v in versions[:-1]:
        assert _ckpt_name(v) < _manifest_name(v) < _ckpt_name(v + 1)
