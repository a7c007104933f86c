"""Snapshot-manifest table layer (operators/snapshots): atomic commits,
time travel, isolation from unreferenced files, compaction under one
replace commit, expiry set arithmetic, conflict detection."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ratatool_spark.operators.snapshots import (
    CommitConflict,
    commit_append,
    commit_replace,
    compact_snapshot,
    current_snapshot_id,
    expire_snapshots,
    read_manifest,
    read_snapshot,
    snapshot_log,
    snapshot_manifest,
    _publish,
)


def _tbl(spark, tmp_path, n=3, rows=10):
    """n append commits of `rows` rows each; returns the table path."""
    path = str(tmp_path / "tbl")
    for i in range(n):
        df = spark.range(i * rows, (i + 1) * rows).select(
            F.col("id").cast("long"),
            (F.col("id") % 7).cast("long").alias("grp"),
        )
        commit_append(df, path)
    return path


def test_append_and_current(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=3)
    assert current_snapshot_id(path) == 3
    assert read_snapshot(spark, path).count() == 30


def test_time_travel_reads_exact_snapshot(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=3)
    for sid, expect in [(1, 10), (2, 20), (3, 30)]:
        got = read_snapshot(spark, path, sid)
        assert got.count() == expect
        assert got.agg(F.max("id")).first()[0] == expect - 1


def test_reader_isolated_from_unreferenced_files(spark, tmp_path):
    """Files on disk but absent from the manifest (a failed commit's
    orphans) are invisible to every reader."""
    path = _tbl(spark, tmp_path, n=1)
    orphan_dir = os.path.join(path, "data", "deadbeef")
    spark.range(100, 105).select(
        F.col("id").cast("long"), F.lit(0).cast("long").alias("grp")
    ).write.parquet(orphan_dir)
    assert read_snapshot(spark, path).count() == 10  # orphans unseen


def test_schema_mismatch_rejected(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=1)
    bad = spark.range(5).select(F.col("id").alias("renamed"))
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_append(bad, path)


def test_replace_preserves_other_files(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=2)
    m = read_manifest(path)
    victim = next(e["path"] for e in m["files"] if e["rows"] > 0)
    kept_rows = read_snapshot(spark, path).count()
    victim_rows = [e["rows"] for e in m["files"] if e["path"] == victim][0]
    rewritten = spark.read.parquet(os.path.join(path, victim))
    sid = commit_replace(spark, path, [victim], rewritten)
    assert sid == 3
    assert read_snapshot(spark, path).count() == kept_rows
    # and the old snapshot still reads the OLD file set (time travel)
    assert read_snapshot(spark, path, 2).count() == kept_rows
    assert victim_rows > 0


def test_replace_unknown_path_rejected(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=1)
    with pytest.raises(ValueError, match="not in snapshot"):
        commit_replace(spark, path, ["data/nope.parquet"], None)


def test_commit_conflict_on_same_id(spark, tmp_path):
    """Two committers racing to publish the same snapshot id: exactly one
    wins (exclusive manifest create is the atomicity point)."""
    path = _tbl(spark, tmp_path, n=1)
    m = read_manifest(path)
    _publish(path, 1, m["files"], m["schema"], "append")  # v2 published
    with pytest.raises(CommitConflict):
        _publish(path, 1, m["files"], m["schema"], "append")


def test_replace_stale_parent_conflict(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=2)
    m = read_manifest(path)
    df = spark.range(1).select(
        F.col("id").cast("long"), F.lit(0).cast("long").alias("grp")
    )
    commit_append(df, path)  # someone else commits (now v3)
    with pytest.raises(CommitConflict, match="replan"):
        commit_replace(
            spark, path, [m["files"][0]["path"]], None, expected_parent=2
        )


def test_compact_single_replace_commit_preserves_data(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=4, rows=50)
    before = read_snapshot(spark, path)
    before_agg = sorted(
        before.groupBy("grp").agg(F.count("*"), F.sum("id")).collect()
    )
    n_before = len(read_manifest(path)["files"])
    sid = compact_snapshot(spark, path, target_bytes=1 << 30)  # one bin
    assert sid == 5  # exactly ONE replace commit
    m = read_manifest(path)
    assert m["operation"] == "replace"
    assert len(m["files"]) < n_before
    after = read_snapshot(spark, path)
    after_agg = sorted(
        after.groupBy("grp").agg(F.count("*"), F.sum("id")).collect()
    )
    assert before_agg == after_agg
    # pre-compaction snapshot still readable (old files still live)
    assert read_snapshot(spark, path, 4).count() == 200


def test_compact_noop_when_all_bins_single(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=1)
    # tiny target: every file its own bin -> nothing to do
    assert compact_snapshot(spark, path, target_bytes=1) is None
    assert current_snapshot_id(path) == 1


def test_expire_deletes_only_dead_files(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=3, rows=20)
    compact_snapshot(spark, path, target_bytes=1 << 30)  # v4 rewrite
    dead = expire_snapshots(path, keep_last=1)
    assert dead  # the pre-compaction files are now unreferenced
    # current snapshot unaffected
    assert read_snapshot(spark, path).count() == 60
    # expired manifests gone
    with pytest.raises(FileNotFoundError):
        read_manifest(path, 1)
    # every surviving manifest's files still exist
    for e in read_manifest(path)["files"]:
        assert os.path.exists(os.path.join(path, e["path"]))


def test_expire_pure_appends_orphan_nothing(spark, tmp_path):
    """Append-only history: every old file is still referenced by the
    newest snapshot, so expiry finds no dead files (manifests drop, data
    stays)."""
    path = _tbl(spark, tmp_path, n=2)
    assert expire_snapshots(path, keep_last=1, delete=False) == []


def test_expire_dry_run_deletes_nothing(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=2)
    compact_snapshot(spark, path, target_bytes=1 << 30)  # v3 rewrite
    dead = expire_snapshots(path, keep_last=1, delete=False)
    assert dead
    assert current_snapshot_id(path) == 3
    assert read_snapshot(spark, path, 1).count() == 10  # still readable


def test_snapshot_log_and_manifest(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=2, rows=5)
    log = snapshot_log(spark, path).orderBy("snapshot_id").collect()
    assert [r["snapshot_id"] for r in log] == [1, 2]
    assert [r["rows"] for r in log] == [5, 10]
    assert log[0]["parent"] is None and log[1]["parent"] == 1
    man = snapshot_manifest(spark, path)
    assert man.agg(F.sum("rows")).first()[0] == 10
    # manifest bytes match the files on disk
    for r in man.collect():
        assert os.path.getsize(os.path.join(path, r["path"])) == r["bytes"]


def test_cli_snapshot_lifecycle(spark, tmp_path, capsys):
    """CLI verbs drive the full lifecycle: append x2 -> time-travel read
    -> compact -> expire -> log."""
    from ratatool_spark.cli import main

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(10).select(
        F.col("id").cast("long"), (F.col("id") % 3).cast("long").alias("grp")
    ).write.parquet(a)
    spark.range(10, 30).select(
        F.col("id").cast("long"), (F.col("id") % 3).cast("long").alias("grp")
    ).write.parquet(b)
    tbl = str(tmp_path / "tbl")
    assert main(["snapshot", "--mode", "append", "--table", tbl, "--input", a]) == 0
    assert main(["snapshot", "--mode", "append", "--table", tbl, "--input", b]) == 0
    asof1 = str(tmp_path / "asof1")
    assert main([
        "snapshot", "--mode", "read", "--table", tbl,
        "--snapshotId", "1", "--output", asof1,
    ]) == 0
    assert spark.read.parquet(asof1).count() == 10
    assert main([
        "snapshot", "--mode", "compact", "--table", tbl,
        "--targetBytes", str(1 << 30),
    ]) == 0
    assert main(["snapshot", "--mode", "expire", "--table", tbl]) == 0
    capsys.readouterr()
    assert main(["snapshot", "--mode", "log", "--table", tbl]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1  # only the compacted snapshot survives expiry
    assert json.loads(out[0])["rows"] == 30


def test_manifest_carries_file_stats(spark, tmp_path):
    path = _tbl(spark, tmp_path, n=1, rows=50)
    entries = [e for e in read_manifest(path)["files"] if e["rows"] > 0]
    assert entries
    for e in entries:
        assert 0 <= e["stats"]["id"][0] <= e["stats"]["id"][1] <= 49
        assert 0 <= e["stats"]["grp"][0] <= e["stats"]["grp"][1] <= 6
    # the union of per-file ranges covers the data
    assert min(e["stats"]["id"][0] for e in entries) == 0
    assert max(e["stats"]["id"][1] for e in entries) == 49


def test_read_snapshot_where_prunes_and_matches_filter(spark, tmp_path):
    """Stats-pruned read == unpruned read + filter, and the pruning
    actually skips files (ids are range-disjoint across commits)."""
    from ratatool_spark.operators.snapshots import files_intersecting

    path = str(tmp_path / "tbl")
    for i in range(4):  # commit i holds ids [100i, 100i+100) in 1 file
        df = spark.range(i * 100, (i + 1) * 100).coalesce(1).select(
            F.col("id").cast("long"),
            (F.col("id") % 7).cast("long").alias("grp"),
        )
        commit_append(df, path)
    m = read_manifest(path)
    kept = files_intersecting(m, {"id": (150, 249)})
    assert len(kept) == 2  # only commits 1 and 2 can intersect
    pruned = read_snapshot(spark, path, where={"id": (150, 249)})
    full = read_snapshot(spark, path).where(F.col("id").between(150, 249))
    assert sorted(pruned.collect()) == sorted(full.collect())
    # stats-absent column: never prunes (safe), still filters rows
    m["files"][0]["stats"].pop("id", None)
    assert len(files_intersecting(m, {"id": (150, 249)})) == 3


def test_cluster_snapshot_zorder_rewrite(spark, tmp_path):
    """Clustering rewrite: one replace commit, logical content identical,
    files physically reordered by the Morton key (footer stats become
    selective — the audit half is covered in test_layout)."""
    from ratatool_spark.operators.snapshots import cluster_snapshot

    path = _tbl(spark, tmp_path, n=3, rows=100)
    before = sorted(read_snapshot(spark, path).collect())
    sid = cluster_snapshot(spark, path, ["id", "grp"], num_partitions=4)
    assert sid == 4
    m = read_manifest(path)
    assert m["operation"] == "replace"
    after = sorted(read_snapshot(spark, path).collect())
    assert before == after
    # old snapshot still readable (time travel across the rewrite)
    assert read_snapshot(spark, path, 3).count() == 300


def _range_local_table(spark, tmp_path):
    """4 commits, ids range-disjoint per file (commit i = [100i, 100i+100)
    in one file) — the layout CoW merge/delete prune against."""
    path = str(tmp_path / "cow")
    for i in range(4):
        df = spark.range(i * 100, (i + 1) * 100).coalesce(1).select(
            F.col("id").cast("long"),
            (F.col("id") * 2).cast("long").alias("val"),
        )
        commit_append(df, path)
    return path


def test_merge_snapshot_upsert_rewrites_only_touched_files(spark, tmp_path):
    from ratatool_spark.operators.snapshots import merge_snapshot

    path = _range_local_table(spark, tmp_path)
    before = {e["path"] for e in read_manifest(path)["files"]}
    # updates for ids 120..129 plus brand-new ids 1000..1004 — the box
    # [120, 1004] touches files 1,2,3 but NOT file 0
    changes = spark.range(10).select(
        (F.col("id") + 120).cast("long").alias("id"),
        F.lit(-1).cast("long").alias("val"),
    ).unionByName(
        spark.range(5).select(
            (F.col("id") + 1000).cast("long").alias("id"),
            F.lit(-2).cast("long").alias("val"),
        )
    )
    sid = merge_snapshot(spark, path, changes, ["id"])
    assert sid == 5
    after = {e["path"] for e in read_manifest(path)["files"]}
    assert before & after  # untouched files carried over (file 0)
    got = read_snapshot(spark, path)
    assert got.count() == 405  # 400 + 5 inserts
    assert got.where(F.col("val") == -1).count() == 10  # updates applied
    assert got.where(F.col("val") == -2).count() == 5
    # non-matching rows untouched
    assert got.where((F.col("id") == 50) & (F.col("val") == 100)).count() == 1
    # exactly-one-row-per-key invariant
    assert got.select("id").distinct().count() == 405


def test_merge_rejects_duplicate_keys_allows_null_keys(spark, tmp_path):
    from ratatool_spark.operators.snapshots import merge_snapshot

    path = _range_local_table(spark, tmp_path)
    dup = spark.createDataFrame(
        [(5, -1), (5, -2)], "id long, val long"
    )
    with pytest.raises(ValueError, match="duplicate-key"):
        merge_snapshot(spark, path, dup, ["id"])
    # NULL-key rows are plain inserts, not duplicates of each other
    nulls = spark.createDataFrame(
        [(None, -1), (None, -2), (7, -3)], "id long, val long"
    )
    merge_snapshot(spark, path, nulls, ["id"])
    got = read_snapshot(spark, path)
    assert got.where(F.col("id").isNull()).count() == 2
    assert got.where((F.col("id") == 7) & (F.col("val") == -3)).count() == 1
    assert got.count() == 402  # 400 - 1 replaced + 3 inserts


@pytest.mark.parametrize("seed", [3, 41])
def test_merge_randomized_sequence_equals_dict_fold(spark, tmp_path, seed):
    """Fuzzed upsert contract: any sequence of unique-key change batches
    merged one by one equals the driver-side dict fold (last write per
    key wins, new keys accumulate)."""
    import random

    from ratatool_spark.operators.snapshots import merge_snapshot

    rng = random.Random(seed)
    path = str(tmp_path / f"fz{seed}")
    state = {i: i * 2 for i in range(60)}
    commit_append(
        spark.createDataFrame(
            sorted(state.items()), "id long, val long"
        ),
        path,
    )
    for b in range(4):
        ks = rng.sample(range(120), rng.randint(1, 25))
        batch = {k: rng.randint(-999, 999) for k in ks}
        state.update(batch)
        merge_snapshot(
            spark,
            path,
            spark.createDataFrame(sorted(batch.items()), "id long, val long"),
            ["id"],
        )
    got = {
        r["id"]: r["val"] for r in read_snapshot(spark, path).collect()
    }
    assert got == state


def test_merge_all_null_key_batch_is_pure_insert(spark, tmp_path):
    from ratatool_spark.operators.snapshots import merge_snapshot

    path = _range_local_table(spark, tmp_path)
    before = {e["path"] for e in read_manifest(path)["files"]}
    nulls = spark.createDataFrame(
        [(None, -1), (None, -2)], "id long, val long"
    )
    merge_snapshot(spark, path, nulls, ["id"])
    after = {e["path"] for e in read_manifest(path)["files"]}
    assert before <= after  # no existing file rewritten
    got = read_snapshot(spark, path)
    assert got.count() == 402
    assert got.where(F.col("id").isNull()).count() == 2


def test_merge_snapshot_empty_batch_noop(spark, tmp_path):
    from ratatool_spark.operators.snapshots import merge_snapshot

    path = _range_local_table(spark, tmp_path)
    empty = read_snapshot(spark, path).where(F.lit(False))
    assert merge_snapshot(spark, path, empty, ["id"]) == 4


def test_delete_snapshot_where_complement_kept(spark, tmp_path):
    from ratatool_spark.operators.snapshots import delete_snapshot_where

    path = _range_local_table(spark, tmp_path)
    before = {e["path"] for e in read_manifest(path)["files"]}
    sid = delete_snapshot_where(spark, path, {"id": (150, 249)})
    assert sid == 5
    after = {e["path"] for e in read_manifest(path)["files"]}
    assert before & after  # files 0 and 3 carried over untouched
    got = read_snapshot(spark, path)
    assert got.count() == 300
    assert got.where(F.col("id").between(150, 249)).count() == 0
    assert got.where(F.col("id") == 149).count() == 1
    assert got.where(F.col("id") == 250).count() == 1
    # old snapshot still holds the data until expiry (erasure note)
    assert read_snapshot(spark, path, 4).count() == 400


def test_delete_where_keeps_null_rows(spark, tmp_path):
    """NULL-valued rows never match a range predicate — they must
    survive a CoW delete that rewrites their file."""
    from ratatool_spark.operators.snapshots import delete_snapshot_where

    path = str(tmp_path / "tb")
    df = spark.range(10).coalesce(1).select(
        F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("id"))
        .cast("long").alias("id"),
        F.lit(1).cast("long").alias("val"),
    )
    commit_append(df, path)
    delete_snapshot_where(spark, path, {"id": (0, 9)})
    got = read_snapshot(spark, path).collect()
    assert len(got) == 1 and got[0]["id"] is None


def test_stream_append_batches_and_replay_idempotent(spark, tmp_path):
    """Streaming sink: one atomic commit per micro-batch; re-delivering
    the same batch ids (fresh checkpoint -> ids restart at 0) changes
    NOTHING — the manifest ledger makes at-least-once delivery
    exactly-once table contents."""
    from ratatool_spark.operators.snapshots import (
        current_snapshot_id,
        read_snapshot,
    )
    from ratatool_spark.streaming.snapshots import (
        committed_stream_batches,
        stream_snapshot_append,
    )

    src = spark.range(90).select(
        F.col("id").cast("long"), (F.col("id") % 5).cast("long").alias("grp")
    )
    in_dir = str(tmp_path / "in")
    src.repartitionByRange(3, F.col("id")).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    tbl = str(tmp_path / "tbl")
    q = stream_snapshot_append(stream, tbl, checkpoint=str(tmp_path / "ck1"))
    q.awaitTermination()
    assert current_snapshot_id(tbl) == 3
    assert committed_stream_batches(tbl) == {0, 1, 2}
    assert read_snapshot(spark, tbl).count() == 90
    # redeliver everything under a FRESH checkpoint: same batch ids,
    # ledger hits, zero new commits
    stream2 = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q2 = stream_snapshot_append(stream2, tbl, checkpoint=str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert current_snapshot_id(tbl) == 3
    assert read_snapshot(spark, tbl).count() == 90


def test_snapshot_changes_incremental_scan(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        compact_snapshot,
        snapshot_changes,
    )

    path = _tbl(spark, tmp_path, n=3, rows=10)  # ids 0-9, 10-19, 20-29
    # everything since snapshot 1 = commits 2 and 3
    got = snapshot_changes(spark, path, 1)
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 30))
    # from 0 = the whole table
    assert snapshot_changes(spark, path, 0).count() == 30
    # a replace commit (compaction) is maintenance, not data change
    compact_snapshot(spark, path, target_bytes=1 << 30)  # snapshot 4
    assert snapshot_changes(spark, path, 3).count() == 0
    # an append AFTER the compaction surfaces exactly its own rows,
    # even though the compacted file is also "new" since snapshot 3
    commit_append(
        spark.range(100, 105).select(
            F.col("id").cast("long"),
            (F.col("id") % 7).cast("long").alias("grp"),
        ),
        path,
    )
    got2 = snapshot_changes(spark, path, 3)
    assert sorted(r["id"] for r in got2.collect()) == [100, 101, 102, 103, 104]
    with pytest.raises(ValueError, match="bad snapshot range"):
        snapshot_changes(spark, path, 9, 2)


def test_evolve_add_columns_metadata_only(spark, tmp_path):
    from ratatool_spark.operators.snapshots import evolve_add_columns

    path = _tbl(spark, tmp_path, n=2, rows=10)
    files_before = {e["path"] for e in read_manifest(path)["files"]}
    sid = evolve_add_columns(spark, path, {"tag": "string"})
    assert sid == 3
    m = read_manifest(path)
    assert m["operation"] == "evolve"
    assert {e["path"] for e in m["files"]} == files_before  # no rewrite
    got = read_snapshot(spark, path)
    assert got.columns == ["id", "grp", "tag"]
    assert got.where(F.col("tag").isNull()).count() == 20  # old files: NULL
    # appends must now carry the new column
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_append(
            spark.range(3).select(
                F.col("id").cast("long"),
                F.lit(0).cast("long").alias("grp"),
            ),
            path,
        )
    commit_append(
        spark.range(3).select(
            F.col("id").cast("long"),
            F.lit(0).cast("long").alias("grp"),
            F.lit("x").alias("tag"),
        ),
        path,
    )
    cur = read_snapshot(spark, path)
    assert cur.where(F.col("tag") == "x").count() == 3
    # time travel BEFORE the evolution serves the old shape
    assert read_snapshot(spark, path, 2).columns == ["id", "grp"]
    with pytest.raises(ValueError, match="already exists"):
        evolve_add_columns(spark, path, {"tag": "string"})


def _age(path_or_dir, seconds=24 * 3600):
    """Backdate mtimes (recursively for a dir) — simulates an orphan old
    enough to be outside the vacuum retention window."""
    import time

    old = time.time() - seconds
    if os.path.isdir(path_or_dir):
        for root, dirs, files in os.walk(path_or_dir, topdown=False):
            for f in files + dirs:
                os.utime(os.path.join(root, f), (old, old))
        os.utime(path_or_dir, (old, old))
    else:
        os.utime(path_or_dir, (old, old))


def test_vacuum_orphans_removes_only_aged_unreferenced(spark, tmp_path):
    from ratatool_spark.operators.snapshots import vacuum_orphans

    path = _tbl(spark, tmp_path, n=2, rows=10)
    orphan_dir = os.path.join(path, "data", "feedface")
    spark.range(7).coalesce(1).select(
        F.col("id").cast("long"), F.lit(0).cast("long").alias("grp")
    ).write.parquet(orphan_dir)
    # fresh orphan: inside the retention window, default vacuum spares it
    assert vacuum_orphans(path, delete=False) == []
    _age(orphan_dir)  # now outside the window
    dry = vacuum_orphans(path, delete=False)
    assert len(dry) == 1 and dry[0].startswith("data/feedface")
    assert os.path.exists(os.path.join(path, dry[0]))  # dry run
    dead = vacuum_orphans(path)
    assert dead == dry
    assert not os.path.exists(orphan_dir)
    # table intact
    assert read_snapshot(spark, path).count() == 20
    assert vacuum_orphans(path) == []


def test_vacuum_spares_in_flight_commit(spark, tmp_path):
    """The data-loss race the retention guard exists for: a committer has
    written its data files but not yet published its manifest. A vacuum
    running in that window must NOT delete them; the commit must then
    publish and read back intact."""
    from ratatool_spark.operators.snapshots import (
        _publish,
        _write_data_files,
        vacuum_orphans,
    )

    path = _tbl(spark, tmp_path, n=1, rows=10)
    in_flight = spark.range(100, 105).select(
        F.col("id").cast("long"), F.lit(0).cast("long").alias("grp")
    )
    files = _write_data_files(in_flight, path)  # manifest NOT yet published
    assert vacuum_orphans(path) == []  # default retention spares them
    for e in files:
        assert os.path.exists(os.path.join(path, e["path"]))
    m = read_manifest(path)
    _publish(path, 1, m["files"] + files, m["schema"], "append")
    got = read_snapshot(spark, path)
    assert got.count() == 15
    assert got.where(F.col("id") >= 100).count() == 5
    # but older_than=0 (offline/single-writer maintenance) WOULD have
    # taken them — the guard is the only thing standing in between
    files2 = _write_data_files(in_flight, path)
    dead = vacuum_orphans(path, older_than=0.0)
    assert sorted(e["path"] for e in files2) == dead


def test_merge_nan_float_key_touches_all_files(spark, tmp_path):
    """A NaN in a float key column degenerates the stats bounding box
    (nothing compares >= / <= NaN) — merge must fall back to touching
    every file, or matching keys in the same batch would silently
    duplicate."""
    from ratatool_spark.operators.snapshots import merge_snapshot

    path = str(tmp_path / "nan")
    base = spark.createDataFrame(
        [(1.0, 10), (2.0, 20), (float("nan"), 30)], "k double, val long"
    ).coalesce(1)
    commit_append(base, path)
    changes = spark.createDataFrame(
        [(2.0, -2), (float("nan"), -3), (9.0, -9)], "k double, val long"
    )
    merge_snapshot(spark, path, changes, ["k"])
    got = read_snapshot(spark, path)
    assert got.count() == 4  # 3 - 2 replaced + 3 = 4 (NaN matched NaN)
    vals = {r["val"] for r in got.collect()}
    assert vals == {10, -2, -3, -9}


def test_snapshot_changes_expired_cursor_dedicated_error(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        SnapshotExpired,
        compact_snapshot,
        snapshot_changes,
    )

    path = _tbl(spark, tmp_path, n=3, rows=10)
    compact_snapshot(spark, path, target_bytes=1 << 30)  # v4
    expire_snapshots(path, keep_last=2)  # drops v1, v2
    with pytest.raises(SnapshotExpired, match="rebase"):
        snapshot_changes(spark, path, 1)
    with pytest.raises(SnapshotExpired, match="rebase"):
        snapshot_changes(spark, path, 0)  # baseline replay also gone
    # a retained cursor still works
    assert snapshot_changes(spark, path, 3).count() == 0


def test_cli_snapshot_merge_delete_cluster(spark, tmp_path, capsys):
    from ratatool_spark.cli import main

    base = str(tmp_path / "base")
    spark.range(100).coalesce(1).select(
        F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
    ).write.parquet(base)
    tbl = str(tmp_path / "tbl")
    assert main(["snapshot", "--mode", "append", "--table", tbl,
                 "--input", base]) == 0
    ch = str(tmp_path / "ch")
    spark.range(5).coalesce(1).select(
        F.col("id").cast("long"), F.lit(-1).cast("long").alias("val")
    ).write.parquet(ch)
    assert main(["snapshot", "--mode", "merge", "--table", tbl,
                 "--input", ch, "--keys", "id"]) == 0
    assert main(["snapshot", "--mode", "cluster", "--table", tbl,
                 "--zorderBy", "id,val"]) == 0
    assert main(["snapshot", "--mode", "delete", "--table", tbl,
                 "--where", "id:90:99"]) == 0
    out = str(tmp_path / "out")
    assert main(["snapshot", "--mode", "read", "--table", tbl,
                 "--where", "id:0:9", "--output", out]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.where(F.col("val") == -1).count() == 5
    from ratatool_spark.operators.snapshots import read_snapshot
    assert read_snapshot(spark, tbl).count() == 90


def test_manifest_schema_roundtrip_empty_read(spark, tmp_path):
    """A replace that removes everything leaves an empty but readable
    table with the pinned schema."""
    path = _tbl(spark, tmp_path, n=1)
    paths = [e["path"] for e in read_manifest(path)["files"]]
    commit_replace(spark, path, paths, None)
    empty = read_snapshot(spark, path)
    assert empty.count() == 0
    assert empty.columns == ["id", "grp"]
    assert json.loads(read_manifest(path)["schema"])  # schema retained


# ---------------------------------------------------------------------------
# round 9: merge-on-read deletion vectors, row-level CDC, scalable manifests


def test_mor_merge_read_equals_cow_merge(spark, tmp_path):
    """The MoR contract: read_snapshot after merge_snapshot_mor returns
    EXACTLY what the CoW merge of the same batch would produce — same
    upserted values, one row per key — while rewriting zero files."""
    from ratatool_spark.operators.snapshots import (
        merge_snapshot,
        merge_snapshot_mor,
        read_manifest,
    )

    pa = _range_local_table(spark, tmp_path)  # CoW twin
    pb = str(tmp_path / "mor")
    for i in range(4):
        df = spark.range(i * 100, (i + 1) * 100).coalesce(1).select(
            F.col("id").cast("long"),
            (F.col("id") * 2).cast("long").alias("val"),
        )
        commit_append(df, pb)
    changes = spark.range(10).select(
        (F.col("id") + 120).cast("long").alias("id"),
        F.lit(-1).cast("long").alias("val"),
    ).unionByName(
        spark.range(5).select(
            (F.col("id") + 1000).cast("long").alias("id"),
            F.lit(-2).cast("long").alias("val"),
        )
    )
    before = {e["path"] for e in read_manifest(pb)["files"]}
    merge_snapshot(spark, pa, changes, ["id"])
    merge_snapshot_mor(spark, pb, changes, ["id"])
    after = {e["path"] for e in read_manifest(pb)["files"]}
    assert before <= after  # MoR rewrote NOTHING
    m = read_manifest(pb)
    assert len(m["deletes"]) == 1 and m["deletes"][0]["keys"] == ["id"]
    cow = {(r["id"], r["val"]) for r in read_snapshot(spark, pa).collect()}
    mor = {(r["id"], r["val"]) for r in read_snapshot(spark, pb).collect()}
    assert mor == cow
    assert read_snapshot(spark, pb).count() == 405


def test_mor_sequence_stacking_last_write_wins(spark, tmp_path):
    """Two stacked MoR merges on the same key: the second's sidecar
    shadows the first's data file (seq 5 < 6) but NOT its own — the
    Iceberg sequence-number rule, end to end."""
    from ratatool_spark.operators.snapshots import merge_snapshot_mor

    path = str(tmp_path / "tb")
    commit_append(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, val long"), path
    )
    merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(1, -1), (3, -3)], "id long, val long"),
        ["id"],
    )
    merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(1, -11), (4, -4)], "id long, val long"),
        ["id"],
    )
    got = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert got == {1: -11, 2: 20, 3: -3, 4: -4}
    # an append AFTER the merges is not shadowed by them
    commit_append(
        spark.createDataFrame([(9, 90)], "id long, val long"), path
    )
    got = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert got[9] == 90 and len(got) == 5


def test_fold_deletes_materializes_and_clears(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        fold_deletes,
        merge_snapshot_mor,
        read_manifest,
    )

    path = str(tmp_path / "tb")
    for i in range(2):  # two range-local files: ids 0-49, 50-99
        commit_append(
            spark.range(i * 50, (i + 1) * 50).coalesce(1).select(
                F.col("id").cast("long"),
                (F.col("id") * 2).cast("long").alias("val"),
            ),
            path,
        )
    merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(5, -5), (7, -7)], "id long, val long"),
        ["id"],
    )
    before = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    m = read_manifest(path)
    untouched_file = next(  # ids 50-99: outside the [5,7] box
        e["path"] for e in m["files"] if e["stats"]["id"][0] == 50
    )
    sid = fold_deletes(spark, path)
    assert sid == 4
    m = read_manifest(path)
    assert m["deletes"] == []
    # box pruning: the 50-99 file was NOT rewritten by the fold
    assert untouched_file in {e["path"] for e in m["files"]}
    after = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert after == before
    assert after[5] == -5 and after[6] == 12
    # nothing pending -> no-op
    assert fold_deletes(spark, path) is None


def test_mor_then_cow_and_compaction_fold(spark, tmp_path):
    """CoW merge and compaction on a table with pending MoR deletes must
    read through the sidecars (no resurrection of shadowed rows)."""
    from ratatool_spark.operators.snapshots import (
        compact_snapshot,
        merge_snapshot,
        merge_snapshot_mor,
        read_manifest,
    )

    path = str(tmp_path / "tb")
    commit_append(
        spark.range(20).coalesce(1).select(
            F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
        ),
        path,
    )
    merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(3, -3)], "id long, val long"), ["id"],
    )
    merge_snapshot(  # CoW on top of pending MoR delete
        spark, path,
        spark.createDataFrame([(4, -4)], "id long, val long"), ["id"],
    )
    got = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert got[3] == -3 and got[4] == -4 and len(got) == 20
    compact_snapshot(spark, path, target_bytes=1 << 30)
    got2 = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert got2 == got
    # compaction rewrote every file into one bin -> deletes fully folded
    # (entries carried, but no file has seq < any delete's seq with rows)
    m = read_manifest(path)
    assert all(e["seq"] == m["snapshot_id"] for e in m["files"])


def test_mor_null_key_rows_insert_without_sidecar(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        merge_snapshot_mor,
        read_manifest,
    )

    path = str(tmp_path / "tb")
    commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(None, -1), (None, -2)], "id long, val long"),
        ["id"],
    )
    assert read_manifest(path)["deletes"] == []  # nothing to shadow
    got = read_snapshot(spark, path)
    assert got.count() == 3
    assert got.where(F.col("id").isNull()).count() == 2
    # duplicate keys rejected, same contract as CoW
    import pytest as _pt

    with _pt.raises(ValueError, match="duplicate-key"):
        merge_snapshot_mor(
            spark, path,
            spark.createDataFrame([(7, -1), (7, -2)], "id long, val long"),
            ["id"],
        )


def test_change_feed_merge_delete_append(spark, tmp_path):
    """The CDC surface end to end: append -> CoW merge -> CoW delete ->
    MoR merge, replayed row-for-row with typed _change_type."""
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_where,
        merge_snapshot,
        merge_snapshot_mor,
        snapshot_change_feed,
    )

    path = str(tmp_path / "tb")
    commit_append(  # v1: ids 0..9
        spark.range(10).coalesce(1).select(
            F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
        ),
        path,
    )
    merge_snapshot(  # v2: update id 3, insert id 100
        spark, path,
        spark.createDataFrame([(3, -3), (100, -100)], "id long, val long"),
        ["id"],
    )
    delete_snapshot_where(spark, path, {"id": (8, 9)})  # v3
    merge_snapshot_mor(  # v4: upsert id 0, insert id 200
        spark, path,
        spark.createDataFrame([(0, -9), (200, -200)], "id long, val long"),
        ["id"],
    )
    feed = snapshot_change_feed(spark, path, 1)
    rows = {(r["id"], r["val"], r["_change_type"], r["_commit_snapshot_id"])
            for r in feed.collect()}
    assert rows == {
        (3, 6, "update_preimage", 2),
        (3, -3, "update_postimage", 2),
        (100, -100, "insert", 2),
        (8, 16, "delete", 3),
        (9, 18, "delete", 3),
        (0, -9, "upsert", 4),
        (200, -200, "upsert", 4),
    }
    # full-history feed includes v1's appended rows as inserts
    full = snapshot_change_feed(spark, path, 0)
    assert full.where(F.col("_change_type") == "insert").count() == 1 + 10
    # sub-ranges slice cleanly
    assert snapshot_change_feed(spark, path, 3).count() == 2


def test_change_feed_maintenance_commits_silent(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        cluster_snapshot,
        compact_snapshot,
        evolve_add_columns,
        snapshot_change_feed,
    )

    path = _tbl(spark, tmp_path, n=2, rows=10)
    compact_snapshot(spark, path, target_bytes=1 << 30)  # v3
    cluster_snapshot(spark, path, ["id"], num_partitions=2)  # v4
    evolve_add_columns(spark, path, {"tag": "string"})  # v5
    assert snapshot_change_feed(spark, path, 2).count() == 0
    # evolution inside the range: pre-evolve inserts surface tag=NULL
    commit_append(
        spark.range(100, 103).select(
            F.col("id").cast("long"),
            F.lit(0).cast("long").alias("grp"),
            F.lit("x").alias("tag"),
        ),
        path,
    )
    feed = snapshot_change_feed(spark, path, 1)
    assert feed.where(F.col("tag") == "x").count() == 3
    assert feed.where(F.col("tag").isNull()).count() == 10  # v2's rows


def test_change_feed_replay_reconstructs_table(spark, tmp_path):
    """Fold the feed (upsert/delete aware) over the v1 snapshot — must
    reproduce the current table exactly: the CDC completeness check."""
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_where,
        merge_snapshot,
        merge_snapshot_mor,
        snapshot_change_feed,
    )

    path = str(tmp_path / "tb")
    commit_append(
        spark.range(50).coalesce(1).select(
            F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
        ),
        path,
    )
    merge_snapshot(
        spark, path,
        spark.createDataFrame([(7, -7), (70, -70)], "id long, val long"),
        ["id"],
    )
    delete_snapshot_where(spark, path, {"id": (40, 49)})
    merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(7, -77), (80, -80)], "id long, val long"),
        ["id"],
    )
    state = {
        r["id"]: r["val"]
        for r in read_snapshot(spark, path, snapshot_id=1).collect()
    }
    feed = snapshot_change_feed(spark, path, 1).orderBy("_commit_snapshot_id")
    for r in feed.collect():
        if r["_change_type"] in ("insert", "update_postimage", "upsert"):
            state[r["id"]] = r["val"]
        elif r["_change_type"] == "delete":
            state.pop(r["id"], None)
    current = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert state == current


def test_externalized_manifest_roundtrip_and_pruning(spark, tmp_path, monkeypatch):
    """Past FILES_INLINE_MAX the files list lives in a parquet sidecar:
    commits, reads, stats-pruned reads (via the Spark planning job), and
    time travel must behave identically to inline manifests."""
    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 2)
    path = str(tmp_path / "tb")
    for i in range(4):  # 4 single-file commits, range-disjoint ids
        snap.commit_append(
            spark.range(i * 100, (i + 1) * 100).coalesce(1).select(
                F.col("id").cast("long"),
                (F.col("id") % 7).cast("long").alias("grp"),
            ),
            path,
        )
    m = snap.read_manifest(path)
    assert "files_ref" in m and m["n_files"] == 4
    assert len(m["files"]) == 4  # reconstructed in memory
    assert all(e["stats"]["id"] for e in m["files"])
    assert snap.read_snapshot(spark, path).count() == 400
    # spark-side pruning == python pruning
    box = {"id": (150, 249)}
    py_kept = {e["path"] for e in snap.files_intersecting(m, box)}
    sp_kept = {
        r["path"]
        for r in snap.files_intersecting_spark(
            snap.manifest_files_df(spark, path), box
        ).collect()
    }
    assert py_kept == sp_kept and len(py_kept) == 2
    pruned = snap.read_snapshot(spark, path, where=box)
    full = snap.read_snapshot(spark, path).where(F.col("id").between(150, 249))
    assert sorted(pruned.collect()) == sorted(full.collect())
    # expiry deletes the expired manifests' sidecars too
    import glob as _g

    snap.compact_snapshot(spark, path, target_bytes=1 << 30)
    n_sidecars = len(_g.glob(f"{path}/snapshots/f*.parquet"))
    snap.expire_snapshots(path, keep_last=1)
    assert len(_g.glob(f"{path}/snapshots/f*.parquet")) < n_sidecars
    assert snap.read_snapshot(spark, path).count() == 400


def test_manifest_spark_pruning_handles_str_and_float(spark, tmp_path, monkeypatch):
    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    path = str(tmp_path / "tb")
    rows = [(i, float(i) / 2.0, chr(97 + i % 26) * 3) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, x double, s string")
    snap.commit_append(df.where("id < 50").coalesce(1), path)
    snap.commit_append(df.where("id >= 50").coalesce(1), path)
    m = snap.read_manifest(path)
    mdf = snap.manifest_files_df(spark, path)
    for box in ({"x": (0.0, 10.0)}, {"s": ("aaa", "ccc")},
                {"id": (60, 70), "x": (30.0, 35.0)}):
        py = {e["path"] for e in snap.files_intersecting(m, box)}
        sp = {r["path"]
              for r in snap.files_intersecting_spark(mdf, box).collect()}
        assert py == sp, box
        got = sorted(snap.read_snapshot(spark, path, where=box).collect())
        want = snap.read_snapshot(spark, path)
        for c, (lo, hi) in box.items():
            want = want.where(F.col(c).between(lo, hi))
        assert got == sorted(want.collect()), box


def test_vacuum_collects_orphaned_change_and_delete_files(spark, tmp_path):
    """CDC change files and MoR sidecars referenced by NO manifest are
    vacuum debris like data files; referenced ones must survive."""
    from ratatool_spark.operators.snapshots import (
        _write_data_files,
        merge_snapshot,
        merge_snapshot_mor,
        vacuum_orphans,
    )

    path = str(tmp_path / "tb")
    commit_append(
        spark.range(10).coalesce(1).select(
            F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
        ),
        path,
    )
    merge_snapshot(
        spark, path,
        spark.createDataFrame([(1, -1)], "id long, val long"), ["id"],
    )
    merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(2, -2)], "id long, val long"), ["id"],
    )
    # orphan debris in both sidecar dirs (a crashed commit's leftovers)
    orphans = _write_data_files(
        spark.createDataFrame([(9, -9)], "id long, val long"),
        path, subdir="changes",
    ) + _write_data_files(
        spark.createDataFrame([(9,)], "id long"), path, subdir="deletes",
    )
    for e in orphans:
        _age(os.path.join(path, e["path"]))
    dead = vacuum_orphans(path)
    assert sorted(e["path"] for e in orphans) == dead
    # referenced change/delete files intact: feed + MoR read still work
    from ratatool_spark.operators.snapshots import snapshot_change_feed

    assert snapshot_change_feed(spark, path, 1).count() == 3
    got = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert got[1] == -1 and got[2] == -2


def test_cli_snapshot_mor_fold_changes_mirror(spark, tmp_path, capsys):
    """CLI round-9 verbs: merge-mor -> fold -> changes feed -> mirror."""
    import json as _json

    from ratatool_spark.cli import main

    base = str(tmp_path / "base")
    spark.range(100).coalesce(1).select(
        F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
    ).write.parquet(base)
    tbl = str(tmp_path / "tbl")
    assert main(["snapshot", "--mode", "append", "--table", tbl,
                 "--input", base]) == 0
    ch = str(tmp_path / "ch")
    spark.range(5).coalesce(1).select(
        F.col("id").cast("long"), F.lit(-1).cast("long").alias("val")
    ).write.parquet(ch)
    capsys.readouterr()
    assert main(["snapshot", "--mode", "merge-mor", "--table", tbl,
                 "--input", ch, "--keys", "id"]) == 0
    assert _json.loads(capsys.readouterr().out)["snapshot_id"] == 2
    assert main(["snapshot", "--mode", "fold", "--table", tbl]) == 0
    assert _json.loads(capsys.readouterr().out)["folded"] is True
    feed_out = str(tmp_path / "feed")
    assert main(["snapshot", "--mode", "changes", "--table", tbl,
                 "--fromId", "1", "--output", feed_out]) == 0
    feed = spark.read.parquet(feed_out)
    assert feed.count() == 5
    assert feed.where(F.col("_change_type") == "upsert").count() == 5
    mirror_tbl = str(tmp_path / "mirror")
    assert main(["snapshot", "--mode", "mirror", "--table", mirror_tbl,
                 "--source", tbl, "--checkpoint", str(tmp_path / "ck")]) == 0
    got = spark.read.parquet(mirror_tbl + "/data/*")  # only v1's append
    assert got.count() == 100
    from ratatool_spark.operators.snapshots import read_snapshot

    assert read_snapshot(spark, mirror_tbl).count() == 100


def test_rollback_snapshot_restores_as_new_commit(spark, tmp_path):
    """RESTORE semantics: rollback publishes a NEW commit with the
    target's file list — content flips atomically, history is kept, a
    rollback can be rolled back, and the change feed sees nothing."""
    from ratatool_spark.operators.snapshots import (
        merge_snapshot,
        rollback_snapshot,
        snapshot_change_feed,
    )

    path = str(tmp_path / "tb")
    commit_append(
        spark.range(10).coalesce(1).select(
            F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
        ),
        path,
    )
    merge_snapshot(  # v2: bad deploy doubles-writes garbage
        spark, path,
        spark.createDataFrame([(3, -999), (11, -1)], "id long, val long"),
        ["id"],
    )
    assert read_snapshot(spark, path).count() == 11
    sid = rollback_snapshot(path, 1)
    assert sid == 3 and current_snapshot_id(path) == 3
    m = read_manifest(path)
    assert m["operation"] == "rollback" and m["rolled_back_to"] == 1
    got = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert got == {i: i * 2 for i in range(10)}  # v1 exactly
    # forensics: the bad snapshot is still readable until expiry
    assert read_snapshot(spark, path, 2).count() == 11
    # rollback the rollback -> back to the bad state
    rollback_snapshot(path, 2)
    assert read_snapshot(spark, path).count() == 11
    # the feed REFUSES to replay across a rollback (content changed
    # with no recorded change rows — a silent skip would reconstruct
    # the wrong state); ranges before it still work
    from ratatool_spark.operators.snapshots import ChangeFeedDiscontinuity

    with pytest.raises(ChangeFeedDiscontinuity, match="rebase"):
        snapshot_change_feed(spark, path, 2)
    # v2's merge recorded pre(3) + post(3) + insert(11) = 3 change rows
    assert snapshot_change_feed(spark, path, 1, to_id=2).count() == 3
    # no-op when already there; expired target raises
    assert rollback_snapshot(path, 4) == 4
    expire_snapshots(path, keep_last=1)
    with pytest.raises(FileNotFoundError):
        rollback_snapshot(path, 1)


def test_rollback_preserves_mor_deletes(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        merge_snapshot_mor,
        rollback_snapshot,
    )

    path = str(tmp_path / "tb")
    commit_append(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, val long"), path
    )
    merge_snapshot_mor(  # v2: shadow id 1 via sidecar
        spark, path,
        spark.createDataFrame([(1, -1)], "id long, val long"), ["id"],
    )
    commit_append(  # v3
        spark.createDataFrame([(5, 50)], "id long, val long"), path
    )
    rollback_snapshot(path, 2)  # restore pre-v3, sidecar must ride along
    got = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert got == {1: -1, 2: 20}


def test_expire_older_than_keeps_young_snapshots(spark, tmp_path):
    """Timestamp retention: only snapshots outside the age window
    expire; the newest keep_last survive regardless of age."""
    from ratatool_spark.operators.snapshots import _snap_path

    path = _tbl(spark, tmp_path, n=3, rows=10)
    compact_snapshot(spark, path, target_bytes=1 << 30)  # v4
    # everything is fresh: nothing expires under a 1h window
    assert expire_snapshots(path, keep_last=1, older_than=3600.0) == []
    assert current_snapshot_id(path) == 4
    # age v1+v2 manifests beyond the window; v3 stays young
    for sid in (1, 2):
        _age(_snap_path(path, sid))
    dead = expire_snapshots(path, keep_last=1, older_than=3600.0)
    from ratatool_spark.operators.snapshots import _snap_ids

    assert _snap_ids(path) == [3, 4]  # young v3 retained, old v1/v2 gone
    assert read_snapshot(spark, path, 3).count() == 30
    assert read_snapshot(spark, path).count() == 30
    # v1/v2's files were all carried into v3/v4, so nothing died
    assert dead == []
    # with age satisfied everywhere, count retention still rules
    for sid in (3, 4):
        _age(_snap_path(path, sid))
    expire_snapshots(path, keep_last=1, older_than=60.0)
    assert _snap_ids(path) == [4]


def test_commit_with_retry_wins_after_conflict(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        CommitConflict,
        commit_with_retry,
    )

    path = _tbl(spark, tmp_path, n=1)
    calls = {"n": 0}

    def racy_append():
        calls["n"] += 1
        if calls["n"] == 1:
            # another committer sneaks in before our publish
            commit_append(
                spark.range(100, 103).select(
                    F.col("id").cast("long"),
                    F.lit(0).cast("long").alias("grp"),
                ),
                path,
            )
            raise CommitConflict("simulated lost race")
        return commit_append(
            spark.range(200, 205).select(
                F.col("id").cast("long"), F.lit(0).cast("long").alias("grp")
            ),
            path,
        )

    sid = commit_with_retry(racy_append)
    assert sid == 3 and calls["n"] == 2
    assert read_snapshot(spark, path).count() == 18  # 10 + 3 + 5
    # exhaustion surfaces the conflict, not an infinite loop
    def always_loses():
        raise CommitConflict("hot table")

    with pytest.raises(CommitConflict, match="gave up"):
        commit_with_retry(always_loses, max_retries=2)


def test_stream_source_expired_snapshot_raises_rebase_error(spark, tmp_path):
    """Retention racing a lagging consumer must fail LOUDLY with rebase
    guidance, not FileNotFoundError or a silent short batch. Two race
    shapes: (a) a commit's added DATA file was reclaimed while its
    manifest is still streamed; (b) the PARENT manifest needed for the
    added-diff is gone."""
    from ratatool_spark.operators.snapshots import (
        _snap_path,
        commit_append,
        read_manifest,
    )
    from ratatool_spark.streaming.snapshots import stream_snapshot_source

    def _mk(root):
        a = str(root)
        for i in range(2):
            commit_append(
                spark.range(i * 10, (i + 1) * 10).coalesce(1).select(
                    F.col("id").cast("long"),
                    (F.col("id") * 2).cast("long").alias("val"),
                ),
                a,
            )
        return a

    # (a) data file of v2 reclaimed, manifest still visible to the stream
    a = _mk(tmp_path / "a")
    prev = {e["path"] for e in read_manifest(a, 1)["files"]}
    added = next(
        e["path"] for e in read_manifest(a, 2)["files"] if e["path"] not in prev
    )
    os.remove(os.path.join(a, added))
    seen = []
    q = stream_snapshot_source(
        spark, a, lambda df, sid: seen.append(sid), str(tmp_path / "cka")
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination()
    # foreachBatch wraps our error in StreamingQueryException — the
    # SnapshotExpired message (with the rebase hint) must surface
    assert "expired" in str(ei.value) and "rebase" in str(ei.value)

    # (b) parent manifest expired under the consumer
    b = _mk(tmp_path / "b")
    os.remove(_snap_path(b, 1))
    q = stream_snapshot_source(
        spark, b, lambda df, sid: None, str(tmp_path / "ckb")
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination()
    assert "expired" in str(ei.value) and "rebase" in str(ei.value)


@pytest.mark.parametrize(
    "seed,partitioned", [(7, False), (1234, False), (42, True)]
)
def test_randomized_op_sequence_equals_model(
    spark, tmp_path, seed, partitioned
):
    """Whole-layer fuzz: a random interleaving of append / CoW merge /
    MoR merge / range delete / position delete / fold / compact /
    rollback must equal the
    driver-side dict model after EVERY operation, and every retained
    snapshot must time-travel to the model state recorded when it was
    current — the upsert fuzz test generalized to the full maintenance
    surface (MoR sidecars included). The ``partitioned`` variant runs
    the same op mix on a bucket(id)-partitioned table and additionally
    asserts the partition-alignment lifecycle invariant after every op
    (every maintenance rewrite must re-derive partition tuples)."""
    import random

    from ratatool_spark.operators.snapshots import (
        delete_snapshot_rows_mor,
        delete_snapshot_where,
        delete_snapshot_where_mor,
        fold_deletes,
        merge_snapshot,
        merge_snapshot_mor,
        rollback_snapshot,
    )

    rng = random.Random(seed)
    path = str(tmp_path / f"fz{seed}")

    def df_of(d):
        return spark.createDataFrame(
            sorted(d.items()), "id long, val long"
        )

    state = {i: i * 10 for i in range(40)}
    spec = (
        [{"col": "id", "transform": "bucket", "param": 4}]
        if partitioned else None
    )
    commit_append(df_of(state), path, partition_spec=spec)
    history = {1: dict(state)}

    for _step in range(8):
        op = rng.choice(
            ["append", "merge", "merge_mor", "delete", "delete_mor",
             "delete_pos", "fold", "compact", "rollback"]
        )
        if op == "append":
            base = max(state, default=0) + 1
            batch = {base + j: rng.randint(-99, 99) for j in range(rng.randint(1, 8))}
            state.update(batch)
            commit_append(df_of(batch), path)
        elif op in ("merge", "merge_mor"):
            ks = rng.sample(range(150), rng.randint(1, 12))
            batch = {k: rng.randint(-999, 999) for k in ks}
            state.update(batch)
            fn = merge_snapshot if op == "merge" else merge_snapshot_mor
            fn(spark, path, df_of(batch), ["id"])
        elif op in ("delete", "delete_mor"):
            lo = rng.randint(0, 120)
            hi = lo + rng.randint(0, 30)
            state = {k: v for k, v in state.items() if not lo <= k <= hi}
            fn = (delete_snapshot_where if op == "delete"
                  else delete_snapshot_where_mor)
            fn(spark, path, {"id": (lo, hi)})
        elif op == "delete_pos":
            mod = rng.randint(2, 9)
            rem = rng.randint(0, mod - 1)
            state = {k: v for k, v in state.items() if k % mod != rem}
            delete_snapshot_rows_mor(spark, path, f"id % {mod} = {rem}")
        elif op == "fold":
            fold_deletes(spark, path)
        elif op == "compact":
            compact_snapshot(spark, path, target_bytes=1 << 30)
        else:  # rollback to a random retained snapshot
            target = rng.choice(sorted(history))
            rollback_snapshot(path, target)
            state = dict(history[target])
        history[current_snapshot_id(path)] = dict(state)
        got = {
            r["id"]: r["val"] for r in read_snapshot(spark, path).collect()
        }
        assert got == state, f"divergence after {op} (step {_step})"
        if partitioned:
            m = read_manifest(path)
            assert all(
                "partition" in e for e in m["files"]
            ), f"alignment lost after {op} (step {_step})"

    # every retained snapshot time-travels to its recorded model state
    for sid, model in history.items():
        got = {
            r["id"]: r["val"]
            for r in read_snapshot(spark, path, snapshot_id=sid).collect()
        }
        assert got == model, f"time travel to {sid} diverged"


def test_mor_range_delete_metadata_only(spark, tmp_path):
    """Range delete as a predicate sidecar: zero files rewritten, read
    equals the CoW complement, NULL rows survive, fold materializes,
    and the CDC feed records the deleted rows."""
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_where_mor,
        fold_deletes,
        snapshot_change_feed,
    )

    path = str(tmp_path / "tb")
    df = spark.range(20).coalesce(1).select(
        F.when(F.col("id") == 7, F.lit(None)).otherwise(F.col("id"))
        .cast("long").alias("id"),
        (F.col("id") * 2).cast("long").alias("val"),
    )
    commit_append(df, path)
    before = {e["path"] for e in read_manifest(path)["files"]}
    delete_snapshot_where_mor(spark, path, {"id": (5, 9)})
    m = read_manifest(path)
    assert {e["path"] for e in m["files"]} == before  # ZERO rewrites
    assert m["deletes"][0]["kind"] == "range"
    got = read_snapshot(spark, path)
    assert got.count() == 16  # 20 - 4 in [5,9] (7 is NULL: survives)
    assert got.where(F.col("id").isNull()).count() == 1
    assert got.where(F.col("id").between(5, 9)).count() == 0
    # feed completeness: the deleted rows were recorded
    feed = snapshot_change_feed(spark, path, 1)
    assert sorted(
        r["id"] for r in feed.where(F.col("_change_type") == "delete")
        .collect()
    ) == [5, 6, 8, 9]
    # rows appended AFTER the delete are not shadowed by it
    commit_append(
        spark.createDataFrame([(6, -6)], "id long, val long"), path
    )
    assert read_snapshot(spark, path).where(F.col("id") == 6).count() == 1
    # fold materializes: same content, no pending deletes
    pre = sorted(map(str, read_snapshot(spark, path).collect()))
    fold_deletes(spark, path)
    assert read_manifest(path)["deletes"] == []
    assert sorted(map(str, read_snapshot(spark, path).collect())) == pre


def test_mor_range_delete_stacks_with_equality(spark, tmp_path):
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_where_mor,
        merge_snapshot_mor,
    )

    path = str(tmp_path / "tb")
    commit_append(
        spark.range(10).coalesce(1).select(
            F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
        ),
        path,
    )
    merge_snapshot_mor(  # v2: upsert id 3
        spark, path,
        spark.createDataFrame([(3, -3)], "id long, val long"), ["id"],
    )
    delete_snapshot_where_mor(spark, path, {"id": (2, 4)})  # v3
    got = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    # the range delete shadows v2's upsert row too (seq 2 < 3)
    assert got == {i: i * 2 for i in range(10) if not 2 <= i <= 4}


def test_externalized_manifest_with_mor_and_feed(spark, tmp_path, monkeypatch):
    """The r9 surfaces compose: on a table whose manifests are
    externalized to parquet sidecars, MoR merges/deletes, the deletes-
    aware read, fold, and the CDC feed must all behave exactly as on
    inline manifests."""
    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    path = str(tmp_path / "tb")
    snap.commit_append(
        spark.range(20).coalesce(1).select(
            F.col("id").cast("long"), (F.col("id") * 2).cast("long").alias("val")
        ),
        path,
    )
    snap.merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(3, -3), (100, -100)], "id long, val long"),
        ["id"],
    )
    snap.delete_snapshot_where_mor(spark, path, {"id": (15, 19)})
    m = snap.read_manifest(path)
    assert "files_ref" in m and len(m["deletes"]) == 2
    got = {r["id"]: r["val"] for r in snap.read_snapshot(spark, path).collect()}
    want = {i: i * 2 for i in range(15)}
    want[3] = -3
    want[100] = -100
    assert got == want
    # pruned read through the spark planning path still honors deletes
    pruned = snap.read_snapshot(spark, path, where={"id": (0, 5)})
    assert {r["id"]: r["val"] for r in pruned.collect()} == {
        0: 0, 1: 2, 2: 4, 3: -3, 4: 8, 5: 10
    }
    # CDC feed across the externalized commits
    feed = snap.snapshot_change_feed(spark, path, 1)
    kinds = {r["_change_type"] for r in feed.collect()}
    assert kinds == {"upsert", "delete"}
    assert feed.where(F.col("_change_type") == "delete").count() == 5
    # fold + expiry on the externalized layout
    snap.fold_deletes(spark, path)
    assert snap.read_manifest(path)["deletes"] == []
    got2 = {r["id"]: r["val"] for r in snap.read_snapshot(spark, path).collect()}
    assert got2 == want
    snap.expire_snapshots(path, keep_last=1)
    assert {r["id"]: r["val"]
            for r in snap.read_snapshot(spark, path).collect()} == want


def test_rollback_on_externalized_manifest(spark, tmp_path, monkeypatch):
    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    path = str(tmp_path / "tb")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.merge_snapshot(
        spark, path,
        spark.createDataFrame([(1, -1)], "id long, val long"), ["id"],
    )
    snap.rollback_snapshot(path, 1)
    got = snap.read_snapshot(spark, path).collect()
    assert len(got) == 1 and got[0]["val"] == 10
    # the rollback commit's own manifest externalized too
    assert "files_ref" in snap.read_manifest(path)


def test_mor_delete_date_bounds_and_bad_bounds(spark, tmp_path):
    """Date/datetime bounds serialize as ISO strings in the manifest
    (the typical retention predicate) and filter correctly at read;
    non-serializable bounds fail up front, before any write."""
    import datetime

    from ratatool_spark.operators.snapshots import delete_snapshot_where_mor

    path = str(tmp_path / "tb")
    df = spark.createDataFrame(
        [(i, datetime.date(2020, 1, 1 + i)) for i in range(10)],
        "id long, d date",
    ).coalesce(1)
    commit_append(df, path)
    delete_snapshot_where_mor(
        spark, path,
        {"d": (datetime.date(2020, 1, 3), datetime.date(2020, 1, 5))},
        record_changes=False,
    )
    got = sorted(r["id"] for r in read_snapshot(spark, path).collect())
    assert got == [0, 1, 5, 6, 7, 8, 9]  # Jan 3-5 = ids 2,3,4 erased
    with pytest.raises(ValueError, match="not manifest-serializable"):
        delete_snapshot_where_mor(
            spark, path, {"id": (b"\x00", b"\xff")}, record_changes=False
        )


def test_spark_pruning_keeps_files_on_type_mismatch(spark, tmp_path, monkeypatch):
    """A predicate bound that can't cast against a stats map's type must
    KEEP the file (NULL comparison != rule-out), never silently drop."""
    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    path = str(tmp_path / "tb")
    snap.commit_append(
        spark.range(10).coalesce(1).select(
            F.col("id").cast("long"), F.lit("x").alias("s")
        ),
        path,
    )
    mdf = snap.manifest_files_df(spark, path)
    # string bounds against the int-stat column: cast -> NULL -> keep
    kept = snap.files_intersecting_spark(mdf, {"id": ("a", "z")}).count()
    assert kept == mdf.count()


def test_failed_publish_cleans_externalized_sidecar(spark, tmp_path, monkeypatch):
    import glob as _g

    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    path = str(tmp_path / "tb")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    n0 = len(_g.glob(f"{path}/snapshots/f*.parquet"))
    m = snap.read_manifest(path)
    with pytest.raises(snap.CommitConflict):
        snap._publish(path, 0, m["files"], m["schema"], "append")  # v1 taken
    assert len(_g.glob(f"{path}/snapshots/f*.parquet")) == n0  # no debris


def test_vacuum_reclaims_aged_metadata_debris(spark, tmp_path, monkeypatch):
    """Orphan manifest sidecars and stale tmp manifests are vacuum
    debris, age-gated like data orphans; live sidecars survive."""
    import glob as _g

    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    path = str(tmp_path / "tb")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    # simulated crash debris: an unpublished sidecar + a tmp manifest
    orphan_ref = snap._write_files_sidecar(path, 99, snap.read_manifest(path)["files"])
    tmp_manifest = snap._snap_path(path, 99) + ".tmp-deadbeef"
    open(tmp_manifest, "w").write("{}")
    assert snap.vacuum_orphans(path) == []  # fresh: retention spares them
    _age(os.path.join(path, orphan_ref))
    _age(tmp_manifest)
    dead = snap.vacuum_orphans(path)
    assert sorted(dead) == sorted(
        [orphan_ref, os.path.relpath(tmp_manifest, path)]
    )
    # the LIVE manifest's sidecar survived; table reads fine
    assert len(_g.glob(f"{path}/snapshots/f*.parquet")) == 1
    assert snap.read_snapshot(spark, path).count() == 1


def test_expire_dry_run_reports_sidecars(spark, tmp_path, monkeypatch):
    import ratatool_spark.operators.snapshots as snap

    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    path = str(tmp_path / "tb")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.compact_snapshot(spark, path, target_bytes=1 << 30)
    dry = snap.expire_snapshots(path, keep_last=1, delete=False)
    assert any(p.startswith("snapshots/f") for p in dry)  # audited
    wet = snap.expire_snapshots(path, keep_last=1, delete=True)
    assert sorted(wet) == sorted(dry)  # the audit matched reality


def test_position_delete_arbitrary_predicate(spark, tmp_path):
    """delete_snapshot_rows_mor removes rows matching an arbitrary
    disjunctive predicate with NO file rewritten; the sidecar names
    exactly the touched files, and stacked position deletes compose."""
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_rows_mor,
        read_manifest,
        read_snapshot,
    )

    path = _tbl(spark, tmp_path, n=2, rows=20)
    before = {e["path"] for e in read_manifest(path)["files"]}
    delete_snapshot_rows_mor(
        spark, path, (F.col("id") % 7 == 3) | (F.col("id") > 35)
    )
    m = read_manifest(path)
    assert {e["path"] for e in m["files"]} == before  # metadata commit
    entry = m["deletes"][-1]
    assert entry["kind"] == "position"
    assert set(entry["files"]) <= before
    exp = [k for k in range(40) if not (k % 7 == 3 or k > 35)]
    got = sorted(r["id"] for r in read_snapshot(spark, path).collect())
    assert got == exp
    # stacked second position delete over the survivors
    delete_snapshot_rows_mor(spark, path, "id % 11 = 0")
    exp2 = [k for k in exp if k % 11 != 0]
    got2 = sorted(r["id"] for r in read_snapshot(spark, path).collect())
    assert got2 == exp2


def test_position_delete_fold_rewrites_only_named_files(spark, tmp_path):
    """fold_deletes after a position delete rewrites exactly the files
    the entry names — untouched files keep their identity."""
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_rows_mor,
        fold_deletes,
        read_manifest,
        read_snapshot,
    )

    path = _tbl(spark, tmp_path, n=3, rows=10)
    before = {e["path"] for e in read_manifest(path)["files"]}
    # rows 0..9 live in commit 1's files only
    delete_snapshot_rows_mor(spark, path, "id < 5")
    named = set(read_manifest(path)["deletes"][-1]["files"])
    assert named and named < before  # strictly fewer than all files
    fold_deletes(spark, path)
    m = read_manifest(path)
    assert m["deletes"] == []
    after = {e["path"] for e in m["files"]}
    assert before - after == named  # only named files rewritten
    got = sorted(r["id"] for r in read_snapshot(spark, path).collect())
    assert got == list(range(5, 30))


def test_position_delete_mixes_with_equality_and_range(spark, tmp_path):
    """Position, equality (MoR merge), and range deletes stack in seq
    order and the read equals the dict-fold truth."""
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_rows_mor,
        delete_snapshot_where_mor,
        merge_snapshot_mor,
        read_snapshot,
    )

    path = _tbl(spark, tmp_path, n=2, rows=20)
    state = {k: k % 7 for k in range(40)}
    # position delete: id % 5 == 1
    delete_snapshot_rows_mor(spark, path, "id % 5 = 1")
    state = {k: v for k, v in state.items() if k % 5 != 1}
    # MoR merge: upsert grp=99 for id in [10, 14]
    batch = spark.range(10, 15).select(
        F.col("id").cast("long"), F.lit(99).cast("long").alias("grp")
    )
    merge_snapshot_mor(spark, path, batch, ["id"])
    for k in range(10, 15):
        state[k] = 99
    # range delete: id in [30, 40]
    delete_snapshot_where_mor(spark, path, {"id": (30, 40)})
    state = {k: v for k, v in state.items() if not (30 <= k <= 40)}
    got = {
        r["id"]: r["grp"] for r in read_snapshot(spark, path).collect()
    }
    assert got == state


def test_position_delete_noop_and_cdc(spark, tmp_path):
    """Zero-match predicate publishes nothing; the CDC feed carries the
    deleted rows of a real position delete."""
    from ratatool_spark.operators.snapshots import (
        current_snapshot_id,
        delete_snapshot_rows_mor,
        snapshot_change_feed,
    )

    path = _tbl(spark, tmp_path, n=2, rows=10)
    sid = current_snapshot_id(path)
    assert delete_snapshot_rows_mor(spark, path, "id = -1") == sid
    assert current_snapshot_id(path) == sid
    delete_snapshot_rows_mor(spark, path, "id >= 15")
    feed = snapshot_change_feed(spark, path, sid)
    dels = sorted(
        r["id"] for r in feed.where(F.col("_change_type") == "delete").collect()
    )
    assert dels == list(range(15, 20))


def test_position_delete_already_shadowed_rows_not_rerecorded(spark, tmp_path):
    """The predicate is evaluated against CURRENT logical content: rows
    an earlier sidecar shadows are not matched again, so the second
    entry records only the newly-deleted rows (exact CDC)."""
    from ratatool_spark.operators.snapshots import (
        delete_snapshot_rows_mor,
        read_manifest,
    )

    path = _tbl(spark, tmp_path, n=1, rows=20)
    delete_snapshot_rows_mor(spark, path, "id < 10")
    delete_snapshot_rows_mor(spark, path, "id < 15")  # overlaps the first
    entries = read_manifest(path)["deletes"]
    assert [e["rows"] for e in entries] == [10, 5]


def _ptbl(spark, tmp_path, name="pt"):
    """40-row table partitioned by identity(g) with a NULL g row."""
    from ratatool_spark.operators.snapshots import commit_append

    path = str(tmp_path / name)
    df = spark.range(40).select(
        F.col("id").cast("long"),
        F.when(F.col("id") == 13, None)
        .otherwise(F.col("id") % 4).cast("long").alias("g"),
    )
    commit_append(
        df, path, partition_spec=[{"col": "g", "transform": "identity"}]
    )
    return path


def test_partitioned_prune_exact_and_content(spark, tmp_path):
    """Identity partitioning: a point predicate keeps exactly the
    matching partition's files, a NULL-partition file is dropped under
    any range predicate, and the pruned read equals the plain filter."""
    from ratatool_spark.operators.snapshots import (
        partition_prune,
        read_manifest,
        read_snapshot,
        table_partition_spec,
    )

    path = _ptbl(spark, tmp_path)
    m = read_manifest(path)
    spec = table_partition_spec(path)
    assert all("partition" in e for e in m["files"])
    kept = partition_prune(
        spark, spec, m["schema"], m["files"], {"g": (2, 2)}
    )
    assert {e["partition"]["p0"] for e in kept} == {"2"}
    got = sorted(
        r["id"] for r in read_snapshot(spark, path, where={"g": (2, 2)}).collect()
    )
    assert got == [k for k in range(40) if k % 4 == 2 and k != 13]
    # full read still sees the NULL row
    assert read_snapshot(spark, path).count() == 40


def test_partition_transforms_bucket_truncate_month(spark, tmp_path):
    """bucket prunes point predicates through Spark's own hash; int
    truncate floors to multiples; month maps ISO prefixes — all three
    keep exactly the partitions the data demands."""
    import datetime

    from ratatool_spark.operators.snapshots import (
        commit_append,
        partition_prune,
        read_manifest,
        read_snapshot,
        table_partition_spec,
    )

    path = str(tmp_path / "tf")
    df = spark.range(120).select(
        F.col("id").cast("long"),
        F.col("id").cast("int").alias("ci"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 90).cast("int")).alias("d"),
    )
    commit_append(df, path, partition_spec=[
        {"col": "ci", "transform": "bucket", "param": 4},
        {"col": "id", "transform": "truncate", "param": 50},
        {"col": "d", "transform": "month"},
    ])
    m = read_manifest(path)
    spec = table_partition_spec(path)
    # bucket: point predicate
    kept = partition_prune(spark, spec, m["schema"], m["files"], {"ci": (42, 42)})
    assert len({e["partition"]["p0"] for e in kept}) == 1
    assert 42 in {r["id"] for r in read_snapshot(
        spark, path, where={"ci": (42, 42)}).collect()}
    # int truncate: [60, 110] -> floors 50 and 100 only
    kept = partition_prune(spark, spec, m["schema"], m["files"], {"id": (60, 110)})
    assert {e["partition"]["p1"] for e in kept} == {"50", "100"}
    # month: Feb only
    w = {"d": (datetime.date(2024, 2, 1), datetime.date(2024, 2, 29))}
    kept = partition_prune(spark, spec, m["schema"], m["files"], w)
    assert {e["partition"]["p2"] for e in kept} == {"2024-02"}
    n = read_snapshot(spark, path, where=w).count()
    assert n == sum(
        1 for k in range(120)
        if datetime.date(2024, 1, 1) + datetime.timedelta(days=k % 90)
        >= datetime.date(2024, 2, 1)
        and datetime.date(2024, 1, 1) + datetime.timedelta(days=k % 90)
        <= datetime.date(2024, 2, 29)
    )


def test_partitioned_externalized_sidecar_parity(spark, tmp_path):
    """The part map survives the parquet manifest sidecar round-trip and
    the Spark-side prune keeps the same file set as the driver-side."""
    import ratatool_spark.operators.snapshots as snap

    old = snap.FILES_INLINE_MAX
    snap.FILES_INLINE_MAX = 0
    try:
        path = _ptbl(spark, tmp_path, "ext")
    finally:
        snap.FILES_INLINE_MAX = old
    m = snap.read_manifest(path)
    assert "files_ref" in m
    assert all("partition" in e for e in m["files"])
    w = {"g": (1, 2)}
    spec = snap.table_partition_spec(path)
    drv = {e["path"] for e in snap.files_intersecting(
        {"files": snap.partition_prune(spark, spec, m["schema"], m["files"], w)},
        w)}
    sp = {r["path"] for r in snap.files_intersecting_spark(
        snap.manifest_files_df(spark, path), w,
        spec=spec, schema_json=m["schema"]).collect()}
    assert drv == sp
    got = sorted(r["id"] for r in snap.read_snapshot(spark, path, where=w).collect())
    assert got == [k for k in range(40) if k % 4 in (1, 2) and k != 13]


def test_drop_partition_metadata_only(spark, tmp_path):
    """drop_partition removes a partition's files without writing data,
    records CDC, matches NULL partitions via None, and refuses unknown
    names and unaligned tables."""
    import json as _json

    import pytest as _pytest

    from ratatool_spark.operators.snapshots import (
        _snap_path,
        current_snapshot_id,
        drop_partition,
        read_manifest,
        read_snapshot,
        snapshot_change_feed,
    )

    path = _ptbl(spark, tmp_path, "dp")
    sid = current_snapshot_id(path)
    before = {e["path"] for e in read_manifest(path)["files"]}
    drop_partition(spark, path, {"p0": 2})
    m = read_manifest(path)
    after = {e["path"] for e in m["files"]}
    assert after < before and not (after - before)
    assert read_snapshot(spark, path).where("g = 2").count() == 0
    feed = snapshot_change_feed(spark, path, sid)
    assert feed.where("_change_type = 'delete'").count() == 10
    # NULL partition drop
    drop_partition(spark, path, {"p0": None})
    assert read_snapshot(spark, path).where("g IS NULL").count() == 0
    with _pytest.raises(ValueError, match="unknown partition names"):
        drop_partition(spark, path, {"nope": 1})
    # simulate an imported unaligned file: strip one entry's partition
    cur = current_snapshot_id(path)
    mp = _snap_path(path, cur)
    man = _json.load(open(mp))
    man["files"][0].pop("partition")
    _json.dump(man, open(mp, "w"))
    with _pytest.raises(ValueError, match="partition alignment"):
        drop_partition(spark, path, {"p0": 1})


def test_partition_spec_immutable_and_maintenance_aligned(spark, tmp_path):
    """The spec is fixed at creation (later spec passes raise); every
    maintenance rewrite (MoR merge + fold, compaction) re-derives
    partition values, so alignment is a lifecycle invariant."""
    import pytest as _pytest

    from ratatool_spark.operators.snapshots import (
        commit_append,
        compact_snapshot,
        fold_deletes,
        merge_snapshot_mor,
        read_manifest,
        read_snapshot,
    )

    path = _ptbl(spark, tmp_path, "im")
    df2 = spark.range(100, 110).select(
        F.col("id").cast("long"), (F.col("id") % 4).cast("long").alias("g")
    )
    with _pytest.raises(ValueError, match="first commit"):
        commit_append(df2, path,
                      partition_spec=[{"col": "g", "transform": "identity"}])
    commit_append(df2, path)  # inherits the spec automatically
    batch = spark.range(5).select(
        F.col("id").cast("long"), F.lit(3).cast("long").alias("g")
    )
    merge_snapshot_mor(spark, path, batch, ["id"])
    fold_deletes(spark, path)
    compact_snapshot(spark, path, target_bytes=1 << 30)
    m = read_manifest(path)
    assert all("partition" in e for e in m["files"])
    # post-maintenance content: ids 0..39 (g overridden for 0..4) + 100..109
    got = {r["id"]: r["g"] for r in read_snapshot(spark, path).collect()}
    assert len(got) == 50
    assert all(got[k] == 3 for k in range(5))


def test_cli_delete_rows_and_drop_partition(spark, tmp_path, capsys):
    """CLI verbs for the position delete and partition retirement."""
    import json as _json

    from ratatool_spark.cli import main as cli_main
    from ratatool_spark.operators.snapshots import read_snapshot
    from ratatool_spark.sources.io import write_table

    src = str(tmp_path / "src.parquet")
    df = spark.range(30).select(
        F.col("id").cast("long"), (F.col("id") % 3).cast("long").alias("g")
    )
    write_table(df, src)
    tbl = str(tmp_path / "ctbl")
    cli_main([
        "snapshot", "--mode", "append", "--table", tbl, "--input", src,
        "--partitionBy", "g:identity",
    ])
    assert _json.loads(capsys.readouterr().out.strip())["snapshot_id"] == 1
    cli_main([
        "snapshot", "--mode", "delete-rows", "--table", tbl,
        "--predicate", "id % 10 = 4",
    ])
    capsys.readouterr()
    cli_main([
        "snapshot", "--mode", "drop-partition", "--table", tbl,
        "--partition", "p0=2",
    ])
    capsys.readouterr()
    got = sorted(r["id"] for r in read_snapshot(spark, tbl).collect())
    assert got == [
        k for k in range(30) if k % 10 != 4 and k % 3 != 2
    ]


def test_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish: staged rows are invisible to main, the
    branch view shows the candidate state, publish is a metadata-only
    fast-forward, and a stale stage (main advanced) cannot publish."""
    import pytest as _pytest

    import ratatool_spark.operators.snapshots as snap

    path = _tbl(spark, tmp_path, n=1, rows=20)
    batch = spark.range(20, 30).select(
        F.col("id").cast("long"), (F.col("id") % 7).cast("long").alias("grp")
    )
    snap.stage_append(batch, path, "etl")
    assert snap.read_snapshot(spark, path).count() == 20
    assert snap.read_branch(spark, path, "etl").count() == 30
    with _pytest.raises(snap.BranchExists):
        snap.stage_append(batch, path, "etl")
    # staged files survive an aggressive vacuum
    assert snap.vacuum_orphans(path, delete=False, older_than=0) == []
    before = {
        e["path"] for e in __import__("json").load(
            open(snap._stage_path(path, "etl")))["files"]
    }
    snap.publish_branch(spark, path, "etl")
    assert {e["path"] for e in snap.read_manifest(path)["files"]} == before
    assert snap.read_snapshot(spark, path).count() == 30
    # stale stage: main advances underneath
    snap.stage_append(batch.withColumn("grp", F.lit(0).cast("long")),
                      path, "late")
    commit_append(batch.select(
        (F.col("id") + 100).alias("id"), F.col("grp")), path)
    with _pytest.raises(snap.CommitConflict):
        snap.publish_branch(spark, path, "late")
    assert snap.discard_branch(path, "late")
    assert not snap.discard_branch(path, "late")
    # discarded stage's files become vacuumable once aged
    dead = snap.vacuum_orphans(path, delete=True, older_than=0)
    assert dead  # the late-stage data files


def test_check_constraints_lifecycle(spark, tmp_path):
    """CHECK constraints: add validates existing content, row-adding
    commits reject violating batches atomically (id unchanged), NULL
    passes, drop re-opens the gate."""
    import pytest as _pytest

    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "ct")
    df = spark.range(10).select(
        F.col("id").cast("long"),
        F.when(F.col("id") == 3, None).otherwise(F.col("id") * 2.0)
        .alias("v"),
    )
    commit_append(df, path)
    snap.add_constraint(spark, path, "v_nonneg", "v >= 0")  # NULL passes
    with _pytest.raises(snap.ConstraintViolation):
        snap.add_constraint(spark, path, "strict", "v > 100")
    sid = snap.current_snapshot_id(path)
    bad = spark.range(1).select(
        F.lit(99).cast("long").alias("id"), F.lit(-1.0).alias("v"))
    with _pytest.raises(snap.ConstraintViolation):
        commit_append(bad, path)
    with _pytest.raises(snap.ConstraintViolation):
        snap.merge_snapshot(spark, path, bad, ["id"])
    with _pytest.raises(snap.ConstraintViolation):
        snap.merge_snapshot_mor(spark, path, bad, ["id"])
    with _pytest.raises(snap.ConstraintViolation):
        snap.stage_append(bad, path, "b")
    assert snap.current_snapshot_id(path) == sid
    assert snap.drop_constraint(path, "v_nonneg")
    commit_append(bad, path)  # gate re-opened
    assert snap.read_snapshot(spark, path).count() == 11


def test_cluster_partitioned_table_keeps_alignment_and_zorder(spark, tmp_path):
    """cluster_snapshot on a PARTITIONED table: partition alignment is
    preserved (drop_partition still works afterwards) AND the z-layout
    survives the partition routing — a 2-D box prunes files within
    partitions. Without the layout-aware writer the partition shuffle
    would silently destroy the z-locality."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "zp")
    df = spark.range(20000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        F.pmod(F.hash(F.col("id")), F.lit(1000)).cast("long").alias("x"),
        F.pmod(F.hash(F.col("id") + 7), F.lit(1000)).cast("long").alias("y"),
    )
    snap.commit_append(
        df, path, partition_spec=[{"col": "g", "transform": "identity"}]
    )
    snap.cluster_snapshot(spark, path, ["x", "y"], num_partitions=12)
    m = snap.read_manifest(path)
    assert all("partition" in e for e in m["files"])
    assert len(m["files"]) >= 6  # range chunks actually materialized
    w = {"x": (100, 200), "y": (100, 200)}
    kept = snap.files_intersecting(m, w)
    assert len(kept) < len(m["files"]) / 2  # z-pruning survived routing
    got = snap.read_snapshot(spark, path, where=w).count()
    exp = df.where(
        "x between 100 and 200 and y between 100 and 200"
    ).count()
    assert got == exp
    # partition ops still available after the clustering rewrite
    snap.drop_partition(spark, path, {"p0": 1}, record_changes=False)
    assert snap.read_snapshot(spark, path).where("g = 1").count() == 0


def test_cli_wap_and_constraints(spark, tmp_path, capsys):
    """CLI verbs for write-audit-publish and CHECK constraints."""
    import json as _json

    from ratatool_spark.cli import main as cli_main
    from ratatool_spark.operators.snapshots import read_snapshot
    from ratatool_spark.sources.io import write_table

    base = spark.range(10).select(
        F.col("id").cast("long"), (F.col("id") * 2.0).alias("v")
    )
    batch = spark.range(10, 15).select(
        F.col("id").cast("long"), (F.col("id") * 2.0).alias("v")
    )
    src0, src1 = str(tmp_path / "b0.parquet"), str(tmp_path / "b1.parquet")
    write_table(base, src0)
    write_table(batch, src1)
    tbl = str(tmp_path / "wtbl")
    cli_main(["snapshot", "--mode", "append", "--table", tbl, "--input", src0])
    capsys.readouterr()
    cli_main(["snapshot", "--mode", "add-constraint", "--table", tbl,
              "--name", "v_nonneg", "--expr", "v >= 0"])
    assert _json.loads(capsys.readouterr().out.strip())["added"] == "v_nonneg"
    cli_main(["snapshot", "--mode", "stage", "--table", tbl,
              "--input", src1, "--branch", "etl"])
    assert _json.loads(capsys.readouterr().out.strip())["branch"] == "etl"
    assert read_snapshot(spark, tbl).count() == 10  # staged invisible
    out = str(tmp_path / "branch.parquet")
    cli_main(["snapshot", "--mode", "read-branch", "--table", tbl,
              "--branch", "etl", "--output", out])
    capsys.readouterr()
    assert spark.read.parquet(out).count() == 15
    cli_main(["snapshot", "--mode", "publish", "--table", tbl,
              "--branch", "etl"])
    assert _json.loads(capsys.readouterr().out.strip())["snapshot_id"] == 2
    assert read_snapshot(spark, tbl).count() == 15
    cli_main(["snapshot", "--mode", "discard", "--table", tbl,
              "--branch", "etl"])
    assert _json.loads(capsys.readouterr().out.strip())["discarded"] is False
    cli_main(["snapshot", "--mode", "drop-constraint", "--table", tbl,
              "--name", "v_nonneg"])
    assert _json.loads(capsys.readouterr().out.strip())["dropped"] is True


def test_timestamp_time_travel(spark, tmp_path):
    """read_snapshot_as_of resolves the snapshot current at a wall-clock
    instant; pre-table timestamps raise, post-expiry timestamps raise
    the dedicated SnapshotExpired."""
    import json as _json
    import time as _time

    import pytest as _pytest

    from ratatool_spark.operators.snapshots import (
        SnapshotExpired,
        _snap_path,
        expire_snapshots,
        read_snapshot_as_of,
        snapshot_id_as_of,
    )

    path = str(tmp_path / "tt")
    t0 = _time.time()
    commit_append(spark.range(10).select(F.col("id").cast("long")), path)
    commit_append(
        spark.range(10, 20).select(F.col("id").cast("long")), path
    )
    # stamp distinct commit times so the boundary is unambiguous
    for sid, ts in ((1, t0 + 100), (2, t0 + 200)):
        mp = _snap_path(path, sid)
        m = _json.load(open(mp))
        m["committed_at"] = ts
        _json.dump(m, open(mp, "w"))
    assert snapshot_id_as_of(path, t0 + 150) == 1
    assert snapshot_id_as_of(path, t0 + 999) == 2
    assert read_snapshot_as_of(spark, path, t0 + 150).count() == 10
    with _pytest.raises(ValueError, match="predates the table"):
        snapshot_id_as_of(path, t0 - 10)
    expire_snapshots(path, keep_last=1)
    with _pytest.raises(SnapshotExpired):
        snapshot_id_as_of(path, t0 + 150)


def test_maintain_agg_view_algebra_and_refusals(spark, tmp_path):
    """CDC view maintenance: signed insert/preimage/postimage/delete
    algebra matches a direct recompute; zero-count groups drop out;
    MoR 'upsert' feeds are refused."""
    import pytest as _pytest

    from ratatool_spark.operators.snapshots import (
        delete_snapshot_where,
        maintain_agg_view,
        merge_snapshot,
        merge_snapshot_mor,
        read_snapshot,
        snapshot_change_feed,
    )

    path = str(tmp_path / "mv")
    df = spark.range(20).select(
        F.col("id").cast("long"),
        (F.col("id") % 3).cast("long").alias("g"),
        (F.col("id") * 10).cast("decimal(18,2)").alias("v"),
    )
    commit_append(df, path)
    view = maintain_agg_view(
        None,
        read_snapshot(spark, path).withColumn(
            "_change_type", F.lit("insert")
        ),
        ["g"], ["v"],
    ).localCheckpoint()
    # update all of g=1 and delete all of g=2 (group must vanish)
    batch = df.where("g = 1").withColumn(
        "v", (F.col("v") * 2).cast("decimal(18,2)")
    )
    merge_snapshot(spark, path, batch, ["id"])
    delete_snapshot_where(spark, path, {"g": (2, 2)})
    feed = snapshot_change_feed(spark, path, 1)
    view2 = maintain_agg_view(view, feed, ["g"], ["v"])
    got = {r["g"]: (r["__n"], r["sum_v"]) for r in view2.collect()}
    direct = {
        r["g"]: (r["__n"], r["sum_v"])
        for r in read_snapshot(spark, path)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == direct
    assert 2 not in got  # zero-count group dropped
    # MoR upsert feeds are refused
    merge_snapshot_mor(
        spark, path,
        df.where("id = 0").withColumn(
            "v", F.lit(999).cast("decimal(18,2)")
        ),
        ["id"],
    )
    feed2 = snapshot_change_feed(spark, path, 1)
    with _pytest.raises(ValueError, match="complete feed"):
        maintain_agg_view(view, feed2, ["g"], ["v"])


def test_partition_spec_retry_idempotent_but_immutable(spark, tmp_path):
    """A crashed first commit can leave the spec file without a
    manifest: an identical retry proceeds; a different spec is refused."""
    import pytest as _pytest

    from ratatool_spark.operators.snapshots import (
        _store_partition_spec,
        commit_append,
        read_manifest,
    )

    path = str(tmp_path / "sr")
    spec = [{"col": "g", "transform": "identity"}]
    import os

    os.makedirs(path, exist_ok=True)
    _store_partition_spec(path, spec)  # simulated crash: spec, no commit
    df = spark.range(6).select(
        F.col("id").cast("long"), (F.col("id") % 2).cast("long").alias("g")
    )
    commit_append(df, path, partition_spec=spec)  # retry succeeds
    assert all("partition" in e for e in read_manifest(path)["files"])
    with _pytest.raises(ValueError, match="immutable"):
        _store_partition_spec(
            path, [{"col": "g", "transform": "bucket", "param": 2}]
        )


def test_tags_create_read_delete(spark, tmp_path):
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "tags")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path)
    snap.commit_append(
        spark.createDataFrame([(2, 20)], "id long, val long"), path)
    sid = snap.create_tag(path, "freeze-v1", snapshot_id=1)
    assert sid == 1 and snap.read_tag(path, "freeze-v1") == 1
    with pytest.raises(ValueError, match="immutable"):
        snap.create_tag(path, "freeze-v1")  # tags never move
    with pytest.raises(KeyError, match="no tag"):
        snap.read_tag(path, "nope")
    with pytest.raises(FileNotFoundError):
        snap.create_tag(path, "bad", snapshot_id=99)
    assert snap.delete_tag(path, "freeze-v1") is True
    assert snap.delete_tag(path, "freeze-v1") is False


def test_tagged_snapshot_survives_expiry(spark, tmp_path):
    """A tag is a retention anchor: expire_snapshots keeps the tagged
    snapshot AND every data file it references; deleting the tag makes
    it expirable again."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "tagexp")
    for i in range(4):
        snap.commit_append(
            spark.createDataFrame([(i, i * 10)], "id long, val long"), path)
    snap.create_tag(path, "training-freeze", snapshot_id=2)
    removed = snap.expire_snapshots(path, keep_last=1)
    assert snap._snap_ids(path) == [2, 4]  # 1 and 3 expired, 2 pinned
    frozen = snap.read_snapshot(spark, path, snapshot_id=2)
    assert sorted(r["id"] for r in frozen.collect()) == [0, 1]
    # none of the tagged snapshot's data files were reclaimed
    tagged_files = {
        e["path"] for e in snap.read_manifest(path, 2)["files"]}
    assert not tagged_files & set(removed)
    snap.delete_tag(path, "training-freeze")
    snap.expire_snapshots(path, keep_last=1)
    assert snap._snap_ids(path) == [4]
    assert snap.read_snapshot(spark, path).count() == 4


def test_snapshot_rowcount_metadata_only(spark, tmp_path):
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "rc")
    snap.commit_append(spark.range(100).coalesce(2), path)
    snap.commit_append(spark.range(100, 130).coalesce(1), path)
    assert snap.snapshot_rowcount(path) == 130
    assert snap.snapshot_rowcount(path, snapshot_id=1) == 100
    # pending MoR sidecars would make the metadata sum an overcount
    snap.merge_snapshot_mor(
        spark, path,
        spark.createDataFrame([(5,)], "id long"), ["id"])
    with pytest.raises(ValueError, match="pending merge-on-read"):
        snap.snapshot_rowcount(path)
    snap.fold_deletes(spark, path)
    assert snap.snapshot_rowcount(path) == 130


def test_vacuum_sweeps_stale_metadata_tmp_files(spark, tmp_path):
    import os
    import time

    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "vt")
    snap.commit_append(spark.range(5).coalesce(1), path)
    stale = os.path.join(path, "snapshots", "tags.json.tmp-deadbeef")
    with open(stale, "w") as f:
        f.write("{}")
    old = time.time() - 10 * 3600
    os.utime(stale, (old, old))
    removed = snap.vacuum_orphans(path)
    assert not os.path.exists(stale)
    assert any("tags.json.tmp" in r for r in removed)
    # live metadata is untouched
    assert snap.read_snapshot(spark, path).count() == 5


def test_branch_lineage_isolation_and_fast_forward(spark, tmp_path):
    """Named branches (Iceberg branch refs): a branch takes its own
    commit lineage — main never observes a branch byte; branch-local
    time travel works; fast-forward publishes the whole lineage as ONE
    metadata-only main commit and resets the branch at the new head."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "br")
    snap.commit_append(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, val long"), path
    )
    base = snap.create_branch(path, "dev")
    assert base == 1
    with pytest.raises(snap.BranchExists):
        snap.create_branch(path, "dev")
    # fresh branch reads as its fork point
    assert snap.read_branch_snapshot(spark, path, "dev").count() == 2
    k1 = snap.commit_append_branch(
        spark.createDataFrame([(3, 30)], "id long, val long"), path, "dev"
    )
    k2 = snap.commit_append_branch(
        spark.createDataFrame([(4, 40)], "id long, val long"), path, "dev"
    )
    assert (k1, k2) == (1, 2)
    # isolation: main still sees only the fork-point rows
    assert snap.read_snapshot(spark, path).count() == 2
    assert snap.current_snapshot_id(path) == 1
    # branch-local time travel
    assert snap.read_branch_snapshot(spark, path, "dev", 1).count() == 3
    assert snap.read_branch_snapshot(spark, path, "dev", 0).count() == 2
    assert snap.read_branch_snapshot(spark, path, "dev").count() == 4
    b = snap.table_branches(path)["dev"]
    assert b["base"] == 1 and b["head"] == 2
    # fast-forward: one main commit carries both branch commits
    new_id = snap.fast_forward_branch(path, "dev")
    assert new_id == 2
    got = sorted(
        (r["id"], r["val"])
        for r in snap.read_snapshot(spark, path).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30), (4, 40)]
    m = snap.read_manifest(path)
    assert m["fast_forward_branch"] == "dev" and m["branch_commits"] == 2
    # the branch reset at the new head: empty lineage, usable name
    b = snap.table_branches(path)["dev"]
    assert b["base"] == 2 and b["head"] == 0
    assert snap.branch_snapshot_ids(path, "dev") == []


def test_branch_fast_forward_conflicts_when_main_moves(spark, tmp_path):
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "brc")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.createDataFrame([(2, 20)], "id long, val long"), path, "dev"
    )
    snap.commit_append(  # main advances past the fork point
        spark.createDataFrame([(9, 90)], "id long, val long"), path
    )
    with pytest.raises(snap.CommitConflict, match="no longer fast-forward"):
        snap.fast_forward_branch(path, "dev")
    # the branch itself is still readable and deletable
    assert snap.read_branch_snapshot(spark, path, "dev").count() == 2
    assert snap.delete_branch(path, "dev") is True
    assert snap.delete_branch(path, "dev") is False


def test_branch_anchors_retention_and_vacuum(spark, tmp_path):
    """A branch's fork-point snapshot is a retention anchor (like a
    tag), and branch-committed data files are NOT vacuum orphans."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bra")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.create_branch(path, "hold")
    kb = snap.commit_append_branch(
        spark.createDataFrame([(5, 50)], "id long, val long"), path, "hold"
    )
    assert kb == 1
    snap.commit_append(
        spark.createDataFrame([(2, 20)], "id long, val long"), path
    )
    snap.commit_append(
        spark.createDataFrame([(3, 30)], "id long, val long"), path
    )
    removed = snap.expire_snapshots(path, keep_last=1)
    # snapshot 1 (the fork point) survives: still readable
    assert snap.read_snapshot(spark, path, snapshot_id=1).count() == 1
    # branch data files survive an aggressive vacuum
    assert snap.vacuum_orphans(path, older_than=0.0) == []
    assert snap.read_branch_snapshot(spark, path, "hold").count() == 2
    # deleting the branch releases both anchors
    snap.delete_branch(path, "hold")
    snap.expire_snapshots(path, keep_last=1)
    with pytest.raises(FileNotFoundError):
        snap.read_manifest(path, 1)
    orphans = snap.vacuum_orphans(path, older_than=0.0)
    assert orphans, "branch-only data files should now be sweepable"
    assert snap.read_snapshot(spark, path).count() == 3


def test_branch_commit_conflict_one_winner(spark, tmp_path):
    """Two writers racing the same branch-local id: exactly one wins
    (exclusive-create on the branch manifest name)."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "brw")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    df = spark.createDataFrame([(2, 20)], "id long, val long")
    # simulate the race: a competing writer publishes branch-local v1
    # BETWEEN this writer's head read and its publish — freeze the head
    # read at the pre-race state, then land the competitor
    real_head = snap._branch_head_manifest
    stale = real_head(path, "dev")
    snap.commit_append_branch(df, path, "dev")  # the competitor wins v1
    try:
        snap._branch_head_manifest = lambda *_a, **_k: stale
        with pytest.raises(snap.CommitConflict, match="advanced past"):
            snap.commit_append_branch(
                spark.createDataFrame([(7, 70)], "id long, val long"),
                path, "dev",
            )
    finally:
        snap._branch_head_manifest = real_head
    # and the winner's commit is intact
    assert snap.read_branch_snapshot(spark, path, "dev").count() == 2


def test_metadata_tables_inspection_surface(spark, tmp_path):
    """The Iceberg inspection tables over the manifest ledger: files /
    snapshots / history (rollback-aware ancestry) / partitions / refs —
    every one metadata-scale, no data scan."""
    import ratatool_spark.operators.snapshots as snap
    from ratatool_spark.operators.snapshots import metadata_table

    path = str(tmp_path / "meta")
    df1 = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20)], "id long, grp string, val long"
    )
    snap.commit_append(
        df1, path, partition_spec=[{"col": "grp", "transform": "identity"}]
    )
    snap.commit_append(
        spark.createDataFrame([(3, "A", 30)], "id long, grp string, val long"),
        path,
    )
    snap.create_tag(path, "pin", snapshot_id=1)
    snap.create_branch(path, "dev")

    files = metadata_table(spark, path, "files").collect()
    assert all(r["snapshot_id"] == 2 for r in files)
    assert sum(r["rows"] for r in files) == 3
    assert {r["part"]["p0"] for r in files} == {"A", "B"}

    snaps = {r["snapshot_id"]: r for r in
             metadata_table(spark, path, "snapshots").collect()}
    assert snaps[1]["rows"] == 2 and snaps[2]["rows"] == 3
    assert snaps[2]["operation"] == "append"
    assert snaps[1]["committed_at"] > 0

    hist = {r["snapshot_id"]: r for r in
            metadata_table(spark, path, "history").collect()}
    assert hist[1]["is_current_ancestor"] and hist[2]["is_current_ancestor"]

    parts = {tuple(sorted(r["partition"].items())): r for r in
             metadata_table(spark, path, "partitions").collect()}
    assert parts[(("p0", "A"),)]["rows"] == 2
    assert parts[(("p0", "B"),)]["rows"] == 1

    refs = {r["name"]: r for r in
            metadata_table(spark, path, "refs").collect()}
    assert refs["main"]["snapshot_id"] == 2
    assert refs["pin"]["type"] == "tag" and refs["pin"]["snapshot_id"] == 1
    assert refs["dev"]["type"] == "branch" and refs["dev"]["snapshot_id"] == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown metadata table"):
        metadata_table(spark, path, "nope")


def test_metadata_history_rollback_ancestry(spark, tmp_path):
    """After a rollback, the abandoned tip is NOT a current ancestor —
    the ancestry chain follows rolled_back_to (Iceberg history
    semantics)."""
    import ratatool_spark.operators.snapshots as snap
    from ratatool_spark.operators.snapshots import metadata_table

    path = str(tmp_path / "metarb")
    for i in range(3):
        snap.commit_append(
            spark.createDataFrame([(i, i)], "id long, val long"), path
        )
    snap.rollback_snapshot(path, 1)  # snapshot 4 restores snapshot 1
    hist = {r["snapshot_id"]: r["is_current_ancestor"] for r in
            metadata_table(spark, path, "history").collect()}
    assert hist[4] and hist[1]
    assert not hist[2] and not hist[3]


def test_properties_per_key_no_lost_update(spark, tmp_path):
    """Two concurrent property writers of DIFFERENT keys can never
    clobber each other: keys live in per-key files (the r9 verdict's
    lost-update race on the shared properties.json). Simulated by
    interleaving: writer A reads, writer B lands, A lands — with a
    shared read-modify-write file A would erase B's key."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "props")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    # writer A "reads" (per-key writers don't need to, which IS the fix)
    snap.set_table_property(path, "retention", {"days": 30})  # writer B
    snap.set_bloom_filter(path, ["id"], bits_per_key=8)       # writer A
    props = snap.table_properties(path)
    assert props["retention"] == {"days": 30}
    assert props["bloom"]["cols"] == ["id"]
    # legacy single-file tables still read through
    import json as _json
    import os as _os

    legacy = _os.path.join(path, "snapshots", "properties.json")
    with open(legacy, "w") as f:
        _json.dump({"owner": "team-x", "bloom": {"cols": ["OLD"]}}, f)
    props = snap.table_properties(path)
    assert props["owner"] == "team-x"
    assert props["bloom"]["cols"] == ["id"], "per-key file wins on conflict"


def test_bloom_property_survives_rename_by_field_id(spark, tmp_path):
    """After rename_column, future writes STILL build blooms for the
    renamed column: the write path resolves the property's retired name
    to the current one by field id — no post-publish fixup, no crash
    window (r9 verdict 'what's wrong' #2)."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "blre")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.set_bloom_filter(path, ["id"], bits_per_key=8)
    snap.rename_column(path, "id", "ident")
    # the property intentionally still says "id"
    assert snap.table_properties(path)["bloom"]["cols"] == ["id"]
    snap.commit_append(
        spark.createDataFrame([(2, 20)], "ident long, val long"), path
    )
    m = snap.read_manifest(path)
    new_entries = [e for e in m["files"] if e.get("seq", 0) >= 3]
    assert new_entries
    assert all("ident" in e.get("bloom", {}) for e in new_entries), (
        "renamed bloom column must keep building bitmaps under its "
        "current name"
    )


def test_bloom_tables_externalize_manifest(spark, tmp_path):
    """Bitmaps never ride the manifest JSON: as soon as entries carry
    blooms the publish externalizes the file list to the parquet
    sidecar (puffin-style out-of-line index; the manifest stays
    metadata-scale) — and reads still prune through it."""
    import json as _json

    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "blex")
    import os as _os

    _os.makedirs(path)
    snap.set_bloom_filter(path, ["id"], bits_per_key=8)
    snap.commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(50)],
                              "id long, val long").repartition(4),
        path,
    )
    raw = _json.load(open(snap._snap_path(path, 1)))
    assert "files_ref" in raw and "files" not in raw
    assert "b64" not in _json.dumps(raw), "no bitmap bytes in the JSON"
    m = snap.read_manifest(path)
    assert any(e.get("bloom") for e in m["files"]), "sidecar carries blooms"
    got = snap.read_snapshot(spark, path, where={"id": (7, 7)}).collect()
    assert [(r["id"], r["val"]) for r in got] == [(7, 70)]


def test_bloom_partitioned_no_basename_fusion(spark, tmp_path):
    """On a partitioned table, identically named part files in different
    partition dirs get DISTINCT bitmaps (r9 ADVICE: basename keying
    silently fused them): each file's bloom must reject the other
    partition's keys."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "blpart")
    import os as _os

    _os.makedirs(path)
    snap.set_bloom_filter(path, ["id"], bits_per_key=10)
    df = spark.createDataFrame(
        [(i, "A" if i < 500 else "B") for i in range(1000)],
        "id long, grp string",
    ).coalesce(1)  # one task writing into BOTH partition dirs -> same
    # part-file basename under grp=A and grp=B
    snap.commit_append(
        df, path, partition_spec=[{"col": "grp", "transform": "identity"}]
    )
    m = snap.read_manifest(path)
    by_part = {e["partition"]["p0"]: e for e in m["files"]}
    assert set(by_part) == {"A", "B"}
    a, b = by_part["A"], by_part["B"]
    import os.path as _osp

    if _osp.basename(a["path"]) == _osp.basename(b["path"]):
        assert a["bloom"]["id"]["b64"] != b["bloom"]["id"]["b64"], (
            "identical basenames must not share a bitmap"
        )
    # probe: id=0 lives only in A; B's bloom must (almost surely) miss
    pos = snap._bloom_value_positions(
        spark, 0, "bigint", b["bloom"]["id"]["m"], snap._BLOOM_K
    )
    assert not snap._bloom_maybe_contains(b["bloom"]["id"], pos)


def test_change_range_with_expired_intermediate_raises_rebase(
    spark, tmp_path
):
    """A consumer resuming from a TAGGED old snapshot across a gapped
    history (intermediates expired, anchors kept) gets SnapshotExpired
    with rebase guidance — not a raw FileNotFoundError mid-range
    (r9 ADVICE)."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "gap")
    for i in range(5):
        snap.commit_append(
            spark.createDataFrame([(i, i)], "id long, val long"), path
        )
    snap.create_tag(path, "old", snapshot_id=1)
    snap.expire_snapshots(path, keep_last=2)  # keeps 1 (tag) + 4,5
    assert snap.read_snapshot(spark, path, snapshot_id=1).count() == 1
    with pytest.raises(snap.SnapshotExpired, match="rebase"):
        snap.snapshot_changes(spark, path, from_id=1)
    with pytest.raises(snap.SnapshotExpired, match="rebase"):
        snap.snapshot_change_feed(spark, path, from_id=1)
    # an ungapped retained suffix still works
    assert snap.snapshot_changes(spark, path, 4, 5).count() == 1


def test_cli_branch_and_metadata_modes(spark, tmp_path):
    """CLI surface for named branches + metadata inspection tables."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    from ratatool_spark.cli import main

    root = str(tmp_path)
    tbl = f"{root}/tbl"
    spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "id long, val long"
    ).write.parquet(f"{root}/in.parquet")
    spark.createDataFrame(
        [(i, i * 10) for i in range(10, 15)], "id long, val long"
    ).write.parquet(f"{root}/in2.parquet")

    def run(*argv):
        buf = io.StringIO()
        with redirect_stdout(buf):
            main(list(argv))
        return [_json.loads(ln) for ln in buf.getvalue().splitlines() if ln]

    assert run("snapshot", "--mode", "append", "--table", tbl,
               "--input", f"{root}/in.parquet")[0]["snapshot_id"] == 1
    assert run("snapshot", "--mode", "create-branch", "--table", tbl,
               "--branch", "dev")[0]["base"] == 1
    assert run("snapshot", "--mode", "append-branch", "--table", tbl,
               "--branch", "dev", "--input", f"{root}/in2.parquet"
               )[0]["branch_snapshot_id"] == 1
    brs = run("snapshot", "--mode", "branches", "--table", tbl)[0]
    assert brs["dev"]["head"] == 1
    assert run("snapshot", "--mode", "fast-forward", "--table", tbl,
               "--branch", "dev")[0]["snapshot_id"] == 2
    refs = {r["name"]: r for r in run(
        "snapshot", "--mode", "metadata", "--table", tbl,
        "--metadataKind", "refs")}
    assert refs["main"]["snapshot_id"] == 2
    snaps = run("snapshot", "--mode", "metadata", "--table", tbl,
                "--metadataKind", "snapshots")
    assert [s["rows"] for s in snaps] == [10, 15]
    assert run("snapshot", "--mode", "count", "--table", tbl
               )[0]["rows"] == 15


def test_branch_ff_files_shadowed_by_later_mor_delete(spark, tmp_path):
    """Sequence-number soundness across fast-forward: branch-added files
    are restamped to the FF commit's seq, so a LATER merge-on-read
    delete on main shadows their rows (branch-local seqs base+2.. would
    otherwise exceed the delete's seq and wrongly escape it), while
    deletes carried from the fork still apply only to fork-era files."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "brseq")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.createDataFrame([(2, 20)], "id long, val long"), path, "dev"
    )
    snap.commit_append_branch(
        spark.createDataFrame([(3, 30)], "id long, val long"), path, "dev"
    )
    snap.fast_forward_branch(path, "dev")  # main snapshot 2
    m = snap.read_manifest(path)
    assert {e["seq"] for e in m["files"]} == {1, 2}, (
        "branch files must carry the FF commit's seq"
    )
    # MoR delete of a branch-added row at main snapshot 3 (seq 3)
    snap.delete_snapshot_where_mor(spark, path, {"id": (3, 3)})
    got = sorted(r["id"] for r in snap.read_snapshot(spark, path).collect())
    assert got == [1, 2], "the branch-added row must be shadowed"


def test_snapshots_view_opens_zero_sidecars(spark, tmp_path, monkeypatch):
    """metadata_table('snapshots') and snapshot_log over a table with
    EXTERNALIZED manifests must stay O(#commits): commit-time totals in
    the manifest JSON mean no files sidecar is ever parsed (r10
    verdict). Asserted via a counting mock on _load_files_sidecar."""
    import ratatool_spark.operators.snapshots as snap
    from ratatool_spark.operators.snapshots import metadata_table

    path = str(tmp_path / "tot")
    os.makedirs(path)
    snap.set_bloom_filter(path, ["id"], bits_per_key=8)  # forces sidecar
    import pyspark.sql.functions as F

    for i in range(3):
        snap.commit_append(
            spark.range(i * 100, i * 100 + 50)
            .select("id", (F.col("id") * 2).alias("v"))
            .coalesce(2),
            path,
        )
    assert "files_ref" in snap.read_manifest(path, load_files=False)

    calls = []
    real = snap._load_files_sidecar

    def counting(table_path, rel):
        calls.append(rel)
        return real(table_path, rel)

    monkeypatch.setattr(snap, "_load_files_sidecar", counting)
    got = {r["snapshot_id"]: (r["n_files"], r["rows"], r["bytes"])
           for r in metadata_table(spark, path, "snapshots").collect()}
    log = {r["snapshot_id"]: (r["n_files"], r["rows"], r["bytes"])
           for r in snap.snapshot_log(spark, path).collect()}
    hist = metadata_table(spark, path, "history").count()
    assert calls == [], "snapshots/history views must not load sidecars"
    monkeypatch.undo()

    # and the totals are RIGHT: they match a real sum of the file lists
    for sid in snap._snap_ids(path):
        m = snap.read_manifest(path, sid)
        expect = (len(m["files"]),
                  sum(e["rows"] for e in m["files"]),
                  sum(e["bytes"] for e in m["files"]))
        assert got[sid] == expect
        assert log[sid] == expect
    assert hist == 3


def test_snapshots_view_pre_totals_fallback(spark, tmp_path):
    """A manifest written before commit-time totals (no rows_total key)
    still summarizes correctly — the view falls back to summing the
    inline files list."""
    import json as _json

    import ratatool_spark.operators.snapshots as snap
    from ratatool_spark.operators.snapshots import metadata_table

    path = _tbl(spark, tmp_path, n=2, rows=7)
    # strip the totals from v1 in place, as an old writer would have
    p = snap._snap_path(path, 1)
    with open(p) as f:
        m = _json.load(f)
    for k in ("rows_total", "bytes_total", "n_files"):
        m.pop(k, None)
    with open(p, "w") as f:
        _json.dump(m, f)
    rows = {r["snapshot_id"]: r["rows"]
            for r in metadata_table(spark, path, "snapshots").collect()}
    assert rows[1] == 7 and rows[2] == 14


def test_branch_name_rejects_glob_metacharacters(spark, tmp_path):
    """Branch names flow into glob patterns (manifests are
    branch-<name>.v*.json), so metacharacters would match OTHER
    branches' files — the charset is a strict allowlist (r10 ADVICE)."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bn")
    snap.commit_append(
        spark.createDataFrame([(1, 1)], "id long, val long"), path
    )
    for bad in ["dev*", "a?b", "x[0-9]", "a/b", "a.b", "_hidden", "",
                "a b"]:
        with pytest.raises(ValueError):
            snap.create_branch(path, bad)
    # and a legal sibling is unaffected by lookups of weird names
    snap.create_branch(path, "dev-2_ok")
    assert "dev-2_ok" in snap.table_branches(path)


def test_interrupted_fast_forward_self_heals(spark, tmp_path):
    """A crash between the FF's main publish and its branch-ref reset
    leaves the ref at the old base; the next branch WRITE detects the
    published fast_forward_branch commit and completes the reset
    instead of raising CommitConflict forever (r10 ADVICE)."""
    import json as _json

    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "ffheal")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.createDataFrame([(2, 20)], "id long, val long"), path, "dev"
    )
    # simulate the crash: snapshot the ref + branch manifest, run the
    # real FF, then restore the pre-reset branch state (publish stays)
    ref_p = snap._branch_ref_path(path, "dev")
    man_p = snap._branch_manifest_path(path, "dev", 1)
    ref_bytes = open(ref_p).read()
    man_bytes = open(man_p).read()
    new_id = snap.fast_forward_branch(path, "dev")
    assert new_id == 2
    with open(ref_p, "w") as f:
        f.write(ref_bytes)
    with open(man_p, "w") as f:
        f.write(man_bytes)
    assert _json.load(open(ref_p))["base"] == 1  # the interrupted state

    # a branch commit heals first, then lands on the POST-FF base
    k = snap.commit_append_branch(
        spark.createDataFrame([(3, 30)], "id long, val long"), path, "dev"
    )
    assert k == 1
    ref = _json.load(open(ref_p))
    assert ref["base"] == 2, "ref completed its move to the FF commit"
    # and the new commit fast-forwards cleanly (no stale CommitConflict)
    assert snap.fast_forward_branch(path, "dev") == 3
    got = sorted(r["id"] for r in snap.read_snapshot(spark, path).collect())
    assert got == [1, 2, 3]


def test_interrupted_ff_with_raced_branch_commit_raises(spark, tmp_path):
    """A branch commit that landed AFTER the crashed FF absorbed the
    lineage cannot be silently replayed — the heal raises with explicit
    guidance, never merges it under the wrong base."""
    import json as _json

    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "ffrace")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.createDataFrame([(2, 20)], "id long, val long"), path, "dev"
    )
    ref_p = snap._branch_ref_path(path, "dev")
    man_p = snap._branch_manifest_path(path, "dev", 1)
    ref_bytes = open(ref_p).read()
    man_bytes = open(man_p).read()
    snap.fast_forward_branch(path, "dev")
    # restore pre-reset state, then fake the RACED commit: a second
    # branch-local manifest (id 2) written against the old base
    with open(ref_p, "w") as f:
        f.write(ref_bytes)
    with open(man_p, "w") as f:
        f.write(man_bytes)
    raced = _json.loads(man_bytes)
    raced["branch_id"] = 2
    raced["parent"] = raced["parent"] + 1
    with open(snap._branch_manifest_path(path, "dev", 2), "w") as f:
        f.write(_json.dumps(raced))
    with pytest.raises(snap.CommitConflict, match="raced an interrupted"):
        snap.fast_forward_branch(path, "dev")


def test_exclusive_json_fallback_atomic_publish(tmp_path, monkeypatch):
    """On filesystems without hard links the publish falls back to
    claim-file + atomic rename: a reader of the published name can see
    absent-or-complete, never a truncated write; exclusivity still has
    one winner; delete clears the claim so the name is re-creatable."""
    import json as _json
    import os as _os

    import ratatool_spark.operators.snapshots as snap

    def no_link(src, dst):
        raise OSError("no hard links here")

    monkeypatch.setattr(snap.os, "link", no_link)
    p = str(tmp_path / "ref.json")
    snap._write_exclusive_json(p, {"v": 1})
    assert _json.load(open(p)) == {"v": 1}
    assert _os.path.exists(p + ".claim")
    with pytest.raises(FileExistsError):
        snap._write_exclusive_json(p, {"v": 2})
    assert _json.load(open(p)) == {"v": 1}, "loser must not clobber"
    snap._remove_published(p)
    assert not _os.path.exists(p) and not _os.path.exists(p + ".claim")
    snap._write_exclusive_json(p, {"v": 3})  # name re-creatable
    assert _json.load(open(p)) == {"v": 3}


def test_wap_stage_fallback_atomic_publish(spark, tmp_path, monkeypatch):
    """Without hard links the write-audit-publish stage goes through the
    same claim-file + atomic rename as every exclusive create (never a
    truncated stage file), and publish/discard clear the claim so the
    branch name stays re-stageable."""
    import glob as _glob

    import ratatool_spark.operators.snapshots as snap

    def no_link(src, dst):
        raise OSError("no hard links here")

    path = str(tmp_path / "wapfb")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path)
    monkeypatch.setattr(snap.os, "link", no_link)
    batch = spark.createDataFrame([(2, 20)], "id long, val long")
    snap.stage_append(batch, path, "etl")
    sp = snap._stage_path(path, "etl")
    assert os.path.exists(sp + ".claim")
    with pytest.raises(snap.BranchExists):
        snap.stage_append(batch, path, "etl")
    assert snap.discard_branch(path, "etl")
    snap.stage_append(batch, path, "etl")
    assert snap.publish_branch(spark, path, "etl") == 2
    assert sorted(
        r["id"] for r in snap.read_snapshot(spark, path).collect()
    ) == [1, 2]
    assert not _glob.glob(os.path.join(path, "snapshots", "*.claim"))


def test_branch_merge_cow_and_ff(spark, tmp_path):
    """CoW MERGE on a branch: same-key rows replace, new keys append,
    main never moves; fast-forward publishes the merged state."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bmc")
    snap.commit_append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    k = snap.merge_branch(
        spark, path, "dev",
        spark.createDataFrame([(2, 99), (4, 40)], "id long, val long"),
        ["id"],
    )
    assert k == 1
    got = {r["id"]: r["val"]
           for r in snap.read_branch_snapshot(spark, path, "dev").collect()}
    assert got == {1: 10, 2: 99, 3: 30, 4: 40}
    # isolation: main still the original rows
    assert {r["id"]: r["val"]
            for r in snap.read_snapshot(spark, path).collect()} == \
        {1: 10, 2: 20, 3: 30}
    snap.fast_forward_branch(path, "dev")
    assert {r["id"]: r["val"]
            for r in snap.read_snapshot(spark, path).collect()} == got
    # duplicate-key batches rejected, same guard as main
    with pytest.raises(ValueError, match="duplicate-key"):
        snap.merge_branch(
            spark, path, "dev",
            spark.createDataFrame([(7, 1), (7, 2)], "id long, val long"),
            ["id"],
        )


def test_branch_merge_mor_fold_and_ff(spark, tmp_path):
    """MoR MERGE on a branch: no file rewritten at commit; branch reads
    shadow through the sidecar; FF folds branch-local sidecars first
    and main replays the exact merged state."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bmm")
    snap.commit_append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    # branch append THEN MoR-merge that updates rows from both the fork
    # and the branch commit — the sidecar must shadow across both
    snap.commit_append_branch(
        spark.createDataFrame([(5, 50)], "id long, val long"), path, "dev"
    )
    n_before = {e["path"] for e in
                snap._branch_head_manifest(path, "dev")[1]["files"]}
    k = snap.merge_branch_mor(
        spark, path, "dev",
        spark.createDataFrame(
            [(2, 99), (5, 55), (6, 60)], "id long, val long"),
        ["id"],
    )
    assert k == 2
    _, head = snap._branch_head_manifest(path, "dev")
    assert n_before <= {e["path"] for e in head["files"]}, \
        "MoR merge rewrites nothing"
    assert any(d["seq"] > 1 for d in head["deletes"])
    got = {r["id"]: r["val"]
           for r in snap.read_branch_snapshot(spark, path, "dev").collect()}
    assert got == {1: 10, 2: 99, 3: 30, 5: 55, 6: 60}
    # FF without spark refuses (pending branch-local sidecar) …
    with pytest.raises(ValueError, match="pending branch-local MoR"):
        snap.fast_forward_branch(path, "dev")
    # … and with spark folds, then publishes metadata-only
    new_id = snap.fast_forward_branch(path, "dev", spark=spark)
    m = snap.read_manifest(path, new_id)
    assert m.get("deletes", []) == []
    assert {r["id"]: r["val"]
            for r in snap.read_snapshot(spark, path).collect()} == got
    # a later main MoR delete still shadows the FF-published files
    snap.delete_snapshot_where_mor(spark, path, {"id": (5, 6)},
                                   record_changes=False)
    assert sorted(
        r["id"] for r in snap.read_snapshot(spark, path).collect()
    ) == [1, 2, 3]


def test_branch_delete_cow_and_mor(spark, tmp_path):
    """Range DELETE on a branch, both flavors: CoW rewrites only
    intersecting files; MoR is metadata-only until folded."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bdel")
    snap.commit_append(
        spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("v")).repartition(4),
        path,
    )
    snap.create_branch(path, "gdpr")
    snap.delete_branch_where(spark, path, "gdpr", {"id": (10, 19)})
    assert snap.read_branch_snapshot(spark, path, "gdpr").count() == 90
    k = snap.delete_branch_where_mor(spark, path, "gdpr", {"id": (50, 59)})
    _, head = snap._branch_head_manifest(path, "gdpr")
    assert head["operation"] == "delete-mor"
    assert snap.read_branch_snapshot(spark, path, "gdpr").count() == 80
    assert snap.read_snapshot(spark, path).count() == 100  # main intact
    assert snap.fold_branch_deletes(spark, path, "gdpr") == k + 1
    _, head = snap._branch_head_manifest(path, "gdpr")
    assert head["deletes"] == []
    assert snap.read_branch_snapshot(spark, path, "gdpr").count() == 80
    snap.fast_forward_branch(path, "gdpr", spark=spark)
    assert snap.read_snapshot(spark, path).count() == 80


def test_vacuum_and_expire_keep_live_branch_files(spark, tmp_path):
    """Branch-only data files and MoR sidecars are retention-anchored
    while the branch lives: vacuum(older_than=0) must not touch them,
    expire_snapshots must keep the fork point; after delete_branch the
    same files become sweepable orphans."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bvac")
    for i in range(3):
        snap.commit_append(
            spark.createDataFrame([(i, i)], "id long, val long"), path
        )
    snap.create_branch(path, "dev", snapshot_id=2)
    snap.commit_append_branch(
        spark.createDataFrame([(10, 10)], "id long, val long"), path, "dev"
    )
    snap.merge_branch_mor(
        spark, path, "dev",
        spark.createDataFrame([(10, 11)], "id long, val long"), ["id"],
    )
    _, head = snap._branch_head_manifest(path, "dev")
    branch_files = {e["path"] for e in head["files"]} - {
        e["path"] for e in snap.read_manifest(path, 2)["files"]}
    sidecars = {p for d in head["deletes"] for p in d.get("paths", [])}
    assert branch_files and sidecars
    removed = set(snap.vacuum_orphans(path, older_than=0.0))
    assert not (removed & branch_files) and not (removed & sidecars)
    # expiry keeps the fork point (snapshot 2) while the branch lives
    snap.expire_snapshots(path, keep_last=1)
    assert 2 in snap._snap_ids(path)
    assert snap.read_branch_snapshot(spark, path, "dev").count() == 3
    # branch dropped -> its files age out as orphans
    snap.delete_branch(path, "dev")
    removed = set(snap.vacuum_orphans(path, older_than=0.0))
    assert branch_files <= removed and sidecars <= removed


def test_cli_branch_write_modes(spark, tmp_path):
    """merge/merge-mor/delete/delete-mor/fold with --branch land on the
    branch head; fast-forward auto-folds (spark= is wired)."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    import ratatool_spark.operators.snapshots as snap
    from ratatool_spark.cli import main

    root = str(tmp_path)
    tbl = f"{root}/tbl"
    spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "id long, val long"
    ).write.parquet(f"{root}/in.parquet")
    spark.createDataFrame(
        [(5, 555), (12, 120)], "id long, val long"
    ).write.parquet(f"{root}/chg.parquet")

    def run(*argv):
        buf = io.StringIO()
        with redirect_stdout(buf):
            main(list(argv))
        return [_json.loads(ln) for ln in buf.getvalue().splitlines() if ln]

    run("snapshot", "--mode", "append", "--table", tbl,
        "--input", f"{root}/in.parquet")
    run("snapshot", "--mode", "create-branch", "--table", tbl,
        "--branch", "dev")
    assert run("snapshot", "--mode", "merge-mor", "--table", tbl,
               "--branch", "dev", "--input", f"{root}/chg.parquet",
               "--keys", "id")[0]["snapshot_id"] == 1
    assert run("snapshot", "--mode", "delete", "--table", tbl,
               "--branch", "dev", "--where", "id:0:2")[0]["snapshot_id"] == 2
    got = {r["id"]: r["val"] for r in
           snap.read_branch_snapshot(spark, tbl, "dev").collect()}
    assert got == {**{i: i * 10 for i in range(3, 10)}, 5: 555, 12: 120}
    assert snap.read_snapshot(spark, tbl).count() == 10  # main intact
    # FF auto-folds the branch-local MoR sidecar
    assert run("snapshot", "--mode", "fast-forward", "--table", tbl,
               "--branch", "dev")[0]["snapshot_id"] == 2
    assert snap.read_manifest(tbl).get("deletes", []) == []
    assert {r["id"]: r["val"]
            for r in snap.read_snapshot(spark, tbl).collect()} == got


def test_recreated_branch_at_old_fork_not_healed(spark, tmp_path):
    """A branch deliberately re-created at an OLD fork point whose
    base+1 is a previous fast-forward of the same name must NOT be
    'healed' — that would delete its fresh commits as absorbed. The
    heal only fires when the FF commit postdates the ref."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "refork")
    snap.commit_append(
        spark.createDataFrame([(1, 10)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.createDataFrame([(2, 20)], "id long, val long"), path, "dev"
    )
    snap.fast_forward_branch(path, "dev")          # main: 2 (FF of dev)
    snap.delete_branch(path, "dev")
    snap.create_branch(path, "dev", snapshot_id=1)  # back at the old fork
    k = snap.commit_append_branch(
        spark.createDataFrame([(9, 90)], "id long, val long"), path, "dev"
    )
    assert k == 1
    # the fresh commit survives further writes (no heal fired)
    assert snap.commit_append_branch(
        spark.createDataFrame([(8, 80)], "id long, val long"), path, "dev"
    ) == 2
    ids = {r["id"] for r in
           snap.read_branch_snapshot(spark, path, "dev").collect()}
    assert ids == {1, 9, 8}  # fork-point row + both fresh branch rows


def test_branch_scoped_metadata_tables(spark, tmp_path):
    """metadata_table(branch=...) scopes files/snapshots/history/
    partitions to the branch lineage with branch-local ids and the
    same schemas as the main views; branch .snapshots reads totals
    (no file-list dependence)."""
    import ratatool_spark.operators.snapshots as snap
    from ratatool_spark.operators.snapshots import metadata_table

    path = str(tmp_path / "bmeta")
    snap.commit_append(
        spark.createDataFrame(
            [(i, i) for i in range(6)], "id long, val long"), path
    )
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.createDataFrame([(10, 10), (11, 11)], "id long, val long"),
        path, "dev",
    )
    snap.merge_branch_mor(
        spark, path, "dev",
        spark.createDataFrame([(10, 99)], "id long, val long"), ["id"],
    )
    snaps = {r["snapshot_id"]: r for r in metadata_table(
        spark, path, "snapshots", branch="dev").collect()}
    assert set(snaps) == {1, 2}
    assert snaps[1]["parent"] == 0 and snaps[1]["operation"] == "append"
    assert snaps[2]["operation"] == "merge-mor"
    assert snaps[1]["rows"] == 8          # fork 6 + append 2
    assert snaps[2]["rows"] == 9          # + 1 merge postimage (MoR)
    assert snaps[2]["n_pending_deletes"] == 1
    # files view: branch head lists fork + branch files
    files = metadata_table(spark, path, "files", branch="dev").collect()
    assert all(r["snapshot_id"] == 2 for r in files)
    assert len(files) == snaps[2]["n_files"]
    # history: linear, all ancestors
    hist = metadata_table(spark, path, "history", branch="dev").collect()
    assert sorted(r["snapshot_id"] for r in hist) == [1, 2]
    assert all(r["is_current_ancestor"] for r in hist)
    # schema parity with the main views (union-compatible)
    main_snaps = metadata_table(spark, path, "snapshots")
    assert main_snaps.schema == metadata_table(
        spark, path, "snapshots", branch="dev").schema
    assert main_snaps.unionByName(
        metadata_table(spark, path, "snapshots", branch="dev")
    ).count() == 3
    # partitions rollup over the branch head
    parts = metadata_table(spark, path, "partitions", branch="dev").collect()
    assert sum(r["rows"] for r in parts) == 9
    with pytest.raises(ValueError, match="no branch scope"):
        metadata_table(spark, path, "refs", branch="dev")


def test_compact_branch_then_ff(spark, tmp_path):
    """compact_branch bin-packs the branch head without touching main
    (the compact-validate-publish maintenance loop); pending branch MoR
    deletes fold into rewritten bins; FF publishes the compacted
    layout metadata-only."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bcomp")
    snap.commit_append(
        spark.range(200).select(
            F.col("id"), (F.col("id") * 2).alias("v")).repartition(8),
        path,
    )
    n_main_files = len(snap.read_manifest(path)["files"])
    snap.create_branch(path, "maint")
    snap.merge_branch_mor(
        spark, path, "maint",
        spark.createDataFrame([(5, 555), (500, 5000)], "id long, v long"),
        ["id"],
    )
    k = snap.compact_branch(spark, path, "maint", target_bytes=1 << 30)
    assert k == 2
    _, head = snap._branch_head_manifest(path, "maint")
    assert len(head["files"]) < n_main_files  # actually bin-packed
    got = {r["id"]: r["v"] for r in
           snap.read_branch_snapshot(spark, path, "maint").collect()}
    assert got[5] == 555 and got[500] == 5000 and got[7] == 14
    assert len(got) == 201
    # main untouched, then FF publishes the compacted layout
    assert len(snap.read_manifest(path)["files"]) == n_main_files
    snap.fast_forward_branch(path, "maint", spark=spark)
    final = {r["id"]: r["v"] for r in snap.read_snapshot(spark, path).collect()}
    assert final == got
    # idempotent: nothing left to compact
    assert snap.compact_branch(spark, path, "maint", 1 << 30) is None


def test_branch_position_delete_and_cluster(spark, tmp_path):
    """Position delete on a branch (arbitrary predicate, zero rewrite)
    + z-order clustering on a branch (folds the sidecar); FF publishes
    the clustered, deleted state metadata-only."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bposz")
    snap.commit_append(
        spark.range(300).select(
            F.col("id"), (F.col("id") % 7).alias("a"),
            (F.col("id") % 11).alias("b")).repartition(5),
        path,
    )
    snap.create_branch(path, "maint")
    k = snap.delete_branch_rows_mor(
        spark, path, "maint", "a = 3 AND b = 4")
    assert k == 1
    _, head = snap._branch_head_manifest(path, "maint")
    assert head["deletes"][-1]["kind"] == "position"
    expect = 300 - spark.range(300).where(
        (F.col("id") % 7 == 3) & (F.col("id") % 11 == 4)).count()
    assert snap.read_branch_snapshot(spark, path, "maint").count() == expect
    assert snap.read_snapshot(spark, path).count() == 300  # main intact
    # cluster folds the sidecar into a z-ordered rewrite
    assert snap.cluster_branch(spark, path, "maint", ["a", "b"]) == 2
    _, head = snap._branch_head_manifest(path, "maint")
    assert head["deletes"] == []
    assert snap.read_branch_snapshot(spark, path, "maint").count() == expect
    # no pending branch sidecars left -> FF is metadata-only (no spark)
    snap.fast_forward_branch(path, "maint")
    assert snap.read_snapshot(spark, path).count() == expect
    # no-match predicate is a no-op, not an empty commit
    snap.create_branch(path, "noop")
    assert snap.delete_branch_rows_mor(spark, path, "noop", "id < 0") == 0


def test_branch_mutations_match_main(spark, tmp_path):
    """Main and branch commits run the same mutation bodies: one
    sequence applied to main and to a branch forked at the same base
    reads the same rows after every step and adds the same number of
    data files on both sides. A CoW range delete that touches no file
    publishes nothing and returns the head id on either side."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "parity")
    snap.commit_append(
        spark.range(200).select(
            F.col("id"), (F.col("id") % 13).alias("v")).repartition(4),
        path,
    )
    snap.create_branch(path, "twin")
    upd = spark.createDataFrame(
        [(5, 105), (150, 250), (300, 400)], "id long, v long")
    upd2 = spark.createDataFrame(
        [(7, 107), (160, 260), (301, 401)], "id long, v long")
    steps = [
        ("cow merge",
         lambda: snap.merge_snapshot(spark, path, upd, ["id"]),
         lambda: snap.merge_branch(spark, path, "twin", upd, ["id"])),
        ("mor merge",
         lambda: snap.merge_snapshot_mor(spark, path, upd2, ["id"]),
         lambda: snap.merge_branch_mor(spark, path, "twin", upd2, ["id"])),
        ("mor range delete",
         lambda: snap.delete_snapshot_where_mor(spark, path, {"id": (20, 29)}),
         lambda: snap.delete_branch_where_mor(
             spark, path, "twin", {"id": (20, 29)})),
        ("position delete",
         lambda: snap.delete_snapshot_rows_mor(spark, path, "v = 3"),
         lambda: snap.delete_branch_rows_mor(spark, path, "twin", "v = 3")),
        ("cow range delete",
         lambda: snap.delete_snapshot_where(spark, path, {"id": (40, 49)}),
         lambda: snap.delete_branch_where(
             spark, path, "twin", {"id": (40, 49)})),
        ("cow range delete touching no file",
         lambda: snap.delete_snapshot_where(
             spark, path, {"id": (10_000, 10_010)}),
         lambda: snap.delete_branch_where(
             spark, path, "twin", {"id": (10_000, 10_010)})),
        ("fold",
         lambda: snap.fold_deletes(spark, path),
         lambda: snap.fold_branch_deletes(spark, path, "twin")),
        ("compact",
         lambda: snap.compact_snapshot(spark, path, 1 << 30),
         lambda: snap.compact_branch(spark, path, "twin", 1 << 30)),
        ("cluster",
         lambda: snap.cluster_snapshot(
             spark, path, ["id", "v"], num_partitions=2),
         lambda: snap.cluster_branch(
             spark, path, "twin", ["id", "v"], num_partitions=2)),
    ]

    def heads():
        _, bm = snap._branch_head_manifest(path, "twin")
        return (
            snap.current_snapshot_id(path),
            {e["path"] for e in read_manifest(path)["files"]},
            (snap.branch_snapshot_ids(path, "twin") or [0])[-1],
            {e["path"] for e in bm["files"]},
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for step, on_main, on_branch in steps:
        main_id, main_files, k, branch_files = heads()
        got_main, got_branch = on_main(), on_branch()
        new_main_id, new_main_files, new_k, new_branch_files = heads()
        assert rows(read_snapshot(spark, path)) == rows(
            snap.read_branch_snapshot(spark, path, "twin")), step
        assert len(new_main_files - main_files) == len(
            new_branch_files - branch_files), step
        if step == "cow range delete touching no file":
            assert (got_main, got_branch) == (main_id, k)
            assert (new_main_id, new_k) == (main_id, k)
        else:
            assert (new_main_id, new_k) == (main_id + 1, k + 1), step
    assert snap.read_manifest(path)["deletes"] == []
    assert snap._branch_head_manifest(path, "twin")[1]["deletes"] == []


def test_branch_manifests_externalize_blooms_and_big_lists(
    spark, tmp_path, monkeypatch
):
    """Branch manifests obey the same metadata-scale invariant as main:
    bloom bitmaps / big file lists move to a parquet sidecar (the JSON
    never carries data-proportional blobs); reads, maintenance, vacuum
    and delete_branch all resolve/clean the sidecar."""
    import json as _json

    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bext")
    os.makedirs(path)
    snap.set_bloom_filter(path, ["id"], bits_per_key=8)
    import pyspark.sql.functions as F

    snap.commit_append(
        spark.range(400).select("id", (F.col("id") * 2).alias("v"))
        .repartition(3),
        path,
    )
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.range(400, 500).select("id", (F.col("id") * 2).alias("v"))
        .coalesce(1),
        path, "dev",
    )
    mp = snap._branch_manifest_path(path, "dev", 1)
    raw = _json.load(open(mp))
    assert "files_ref" in raw and "files" not in raw
    assert "b64" not in open(mp).read()  # no bitmap blobs in the JSON
    sidecar = os.path.join(path, raw["files_ref"])
    assert os.path.exists(sidecar)
    # reads materialize through the sidecar; blooms round-trip
    _, head = snap._branch_head_manifest(path, "dev")
    assert all("id" in e.get("bloom", {}) for e in head["files"])
    assert snap.read_branch_snapshot(spark, path, "dev").count() == 500
    # vacuum keeps the sidecar and every file it references
    removed = set(snap.vacuum_orphans(path, older_than=0.0))
    assert raw["files_ref"] not in removed
    assert not ({e["path"] for e in head["files"]} & removed)
    # maintenance reads the parquet sidecar directly (planning path)
    assert snap.compact_branch(spark, path, "dev", 1 << 30) == 2
    assert snap.read_branch_snapshot(spark, path, "dev").count() == 500
    # superseded manifest's sidecar was cleaned up when FF absorbed it
    snap.fast_forward_branch(path, "dev", spark=spark)
    assert not os.path.exists(sidecar) or raw["files_ref"] in {
        snap.read_manifest(path, load_files=False).get("files_ref")
    }
    assert snap.read_snapshot(spark, path).count() == 500
    # delete_branch drops remaining branch sidecars
    snap.create_branch(path, "tmp")
    snap.commit_append_branch(
        spark.range(500, 510).select("id", (F.col("id") * 2).alias("v"))
        .coalesce(1), path, "tmp",
    )
    raw2 = _json.load(open(snap._branch_manifest_path(path, "tmp", 1)))
    sc2 = os.path.join(path, raw2["files_ref"])
    assert os.path.exists(sc2)
    snap.delete_branch(path, "tmp")
    assert not os.path.exists(sc2)


def test_time_transform_family(spark, tmp_path):
    """year/day/hour hidden-partition transforms: writes land in ISO-
    prefix dirs, range predicates on the SOURCE timestamp column map
    through (prefix monotonicity), and the pruned read equals an
    unpruned read + filter. Mirrors the existing month coverage at the
    other three Iceberg time granularities."""
    import ratatool_spark.operators.snapshots as snap

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "value")
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    import datetime

    mid = lo + (hi - lo) / 2
    win = (str(mid), str(mid + datetime.timedelta(hours=6)))
    for transform, fmt in (
        ("year", "%Y"), ("day", "%Y-%m-%d"), ("hour", "%Y-%m-%d %H")
    ):
        path = str(tmp_path / transform)
        snap.commit_append(
            ev, path, partition_spec=[{"col": "ts", "transform": transform}]
        )
        m = snap.read_manifest(path)
        vals = {e["partition"]["p0"] for e in m["files"]}
        assert all(v == mid.strftime(fmt)[: len(v)] or len(v) == len(
            mid.strftime(fmt)) for v in vals)
        got = snap.read_snapshot(spark, path, where={"ts": win})
        want = ev.where(F.col("ts").between(*win))
        assert got.count() == want.count() > 0
        # pruning is real: the hour/day tables keep a strict subset of
        # files for a 6-hour window (year cannot prune a mid-year window)
        spec = snap.table_partition_spec(path)
        kept = snap.partition_prune(
            spark, spec, m["schema"], m["files"], {"ts": win})
        if transform in ("day", "hour"):
            assert 0 < len(kept) < len(m["files"])


def test_scan_aggregate_metadata_and_fallbacks(spark, tmp_path):
    """scan_aggregate answers count/min/max from the manifest when
    sound (numeric stats, no pending deletes), with value-identical
    scan fallbacks for string bounds and merge-on-read tables."""
    import ratatool_spark.operators.snapshots as snap

    orders = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = str(tmp_path / "agg")
    snap.commit_append(
        orders, path,
        partition_spec=[{"col": "o_orderstatus", "transform": "identity"}],
    )
    df, md = snap.scan_aggregate(
        spark, path, minmax_cols=("o_totalprice", "o_orderkey"))
    assert md is True
    r = df.collect()[0]
    exp = orders.agg(
        F.count(F.lit(1)), F.min("o_totalprice"), F.max("o_totalprice"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).collect()[0]
    assert tuple(r) == tuple(exp)

    # identity-partition equality filter: all-in/all-out per file
    df2, md2 = snap.scan_aggregate(
        spark, path, minmax_cols=("o_totalprice",),
        where={"o_orderstatus": "F"})
    assert md2 is True
    e2 = orders.where(F.col("o_orderstatus") == "F").agg(
        F.count(F.lit(1)), F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    assert tuple(df2.collect()[0]) == tuple(e2)

    # non-partition filter column -> scan fallback, same shape+values
    df3, md3 = snap.scan_aggregate(
        spark, path, minmax_cols=("o_totalprice",),
        where={"o_orderkey": 7})
    assert md3 is False
    e3 = orders.where(F.col("o_orderkey") == 7).agg(
        F.count(F.lit(1)), F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    assert tuple(df3.collect()[0]) == tuple(e3)

    # string min/max -> fallback by design (truncatable parquet bounds)
    df4, md4 = snap.scan_aggregate(spark, path, minmax_cols=("o_orderstatus",))
    assert md4 is False and df4.collect()[0]["min_o_orderstatus"] == "F"

    # pending MoR deletes -> fallback; logical (post-delete) answer
    snap.delete_snapshot_where_mor(
        spark, path, {"o_totalprice": (0.0, 150000.0)})
    df5, md5 = snap.scan_aggregate(spark, path, minmax_cols=("o_totalprice",))
    assert md5 is False
    e5 = orders.where(~F.col("o_totalprice").between(0.0, 150000.0)).agg(
        F.count(F.lit(1)), F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    assert tuple(df5.collect()[0]) == tuple(e5)


def test_metadata_manifests_table(spark, tmp_path, monkeypatch):
    """.manifests inspection table: one row per commit's manifest file,
    with externalization visibility — and it never opens a sidecar
    (counts come from the commit json)."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "mans")
    snap.commit_append(spark.range(100).coalesce(1), path)
    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    snap.commit_append(spark.range(100, 200).coalesce(1), path)
    monkeypatch.undo()

    calls = {"n": 0}
    orig = snap._load_files_sidecar

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(snap, "_load_files_sidecar", counting)
    mt = snap.metadata_table(spark, path, "manifests")
    rows = {r["snapshot_id"]: r for r in mt.collect()}
    assert calls["n"] == 0  # json-only view
    assert rows[1]["externalized"] is False and rows[1]["files_ref"] is None
    assert rows[2]["externalized"] is True
    assert rows[2]["files_ref_bytes"] > 0
    assert rows[1]["n_files"] >= 1 and rows[2]["n_files"] >= 1
    assert all(r["bytes"] > 0 for r in rows.values())


def test_write_order_sorts_every_data_write(spark, tmp_path):
    """write.sort-order: appends land file-sorted on the declared
    columns (tight footer min/max from the first commit), both
    unpartitioned and within hive partitions; a column missing from a
    batch is skipped, and pre-existing files are untouched."""
    import pyarrow.parquet as pq

    import ratatool_spark.operators.snapshots as snap

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")

    path = str(tmp_path / "wo")
    snap.commit_append(li.repartition(3), path)  # pre-order commit
    snap.set_write_order(path, ["l_partkey"])
    snap.commit_append(li.repartition(3), path)
    m = snap.read_manifest(path)
    by_commit: dict[str, list] = {}
    for e in m["files"]:
        by_commit.setdefault(e["path"].split(os.sep)[1], []).append(e)
    assert len(by_commit) == 2
    ordered_commits = sorted(by_commit)  # uuid order != commit order;
    # identify the sorted commit by checking file contents directly
    n_sorted_commits = 0
    for files in by_commit.values():
        ok = True
        for e in files:
            vals = [
                r["l_partkey"]
                for r in pq.read_table(
                    f"{path}/{e['path']}", columns=["l_partkey"]
                ).to_pylist()
            ]
            if vals != sorted(vals):
                ok = False
        n_sorted_commits += ok
    assert n_sorted_commits >= 1  # the post-order commit is sorted

    # partitioned table: sorted within each partition dir's files
    p2 = str(tmp_path / "wop")
    snap.commit_append(
        li.repartition(3), p2,
        partition_spec=[{"col": "l_returnflag", "transform": "identity"}],
    )
    snap.set_write_order(p2, ["l_suppkey"])
    snap.commit_append(li.repartition(3), p2)
    m2 = snap.read_manifest(p2)
    first = {e["path"] for e in snap.read_manifest(p2, 1)["files"]}
    checked = 0
    for e in m2["files"]:
        if e["path"] in first:  # pre-order commit: no sort contract
            continue
        vals = [
            r["l_suppkey"]
            for r in pq.read_table(
                f"{p2}/{e['path']}", columns=["l_suppkey"]
            ).to_pylist()
        ]
        # may span several dirs; within one FILE must be sorted
        assert vals == sorted(vals), e["path"]
        checked += 1
    assert checked >= 1


def test_compaction_reapplies_write_order(spark, tmp_path):
    """compact_snapshot routes through _write_data_files, so a declared
    write order re-sorts every merged bin: concatenated sorted runs
    come out globally sorted per compacted file."""
    import pyarrow.parquet as pq

    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "cwo")
    snap.set_write_order(path, ["id"])
    import pyspark.sql.functions as F

    for lo in (0, 100, 200):  # three small commits -> three+ files
        snap.commit_append(
            spark.range(lo, lo + 100)
            .select(F.col("id"), (F.col("id") * 3).alias("v"))
            .coalesce(1),
            path,
        )
    before = snap.read_snapshot(spark, path).orderBy("id").collect()
    sid = snap.compact_snapshot(spark, path, target_bytes=1 << 30)
    assert sid is not None
    m = snap.read_manifest(path)
    assert m["operation"] == "replace"
    for e in m["files"]:
        vals = [
            r["id"] for r in pq.read_table(
                f"{path}/{e['path']}", columns=["id"]).to_pylist()
        ]
        assert vals == sorted(vals), e["path"]
    after = snap.read_snapshot(spark, path).orderBy("id").collect()
    assert before == after


def test_branch_manifests_metadata_table(spark, tmp_path, monkeypatch):
    """Branch-scoped .manifests: one row per branch commit, sidecar
    externalization visible, no sidecar opened."""
    import ratatool_spark.operators.snapshots as snap

    path = str(tmp_path / "bman")
    snap.commit_append(spark.range(50).coalesce(1), path)
    snap.create_branch(path, "dev")
    snap.commit_append_branch(
        spark.range(50, 80).coalesce(1), path, "dev")
    monkeypatch.setattr(snap, "FILES_INLINE_MAX", 0)
    snap.commit_append_branch(
        spark.range(80, 90).coalesce(1), path, "dev")
    monkeypatch.undo()

    calls = {"n": 0}
    orig = snap._load_files_sidecar

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(snap, "_load_files_sidecar", counting)
    rows = {
        r["snapshot_id"]: r
        for r in snap.metadata_table(
            spark, path, "manifests", branch="dev").collect()
    }
    assert calls["n"] == 0
    assert set(rows) == {1, 2}
    assert rows[1]["externalized"] is False
    assert rows[2]["externalized"] is True and rows[2]["files_ref_bytes"] > 0
    assert all(r["bytes"] > 0 and r["n_files"] >= 1 for r in rows.values())


def test_scan_aggregate_paths_agree_randomized(spark, tmp_path):
    """Property: wherever the metadata path claims an answer, the scan
    path computes the identical one — across randomized tables
    (partitioned/unpartitioned, with NULLs and empty slices) and
    randomized filters. Seeded, deterministic."""
    import random

    from pyspark.sql import functions as F

    import ratatool_spark.operators.snapshots as snap

    rng = random.Random(1311)
    for case in range(4):
        rows = [
            (
                i,
                rng.choice(["a", "b", "c", None]),
                rng.randrange(-1000, 1000),
                rng.uniform(-5, 5) if rng.random() > 0.1 else None,
            )
            for i in range(rng.randrange(30, 120))
        ]
        df = spark.createDataFrame(
            rows, "id bigint, grp string, x bigint, y double"
        ).repartition(rng.randrange(1, 5))
        path = str(tmp_path / f"p{case}")
        spec = (
            [{"col": "grp", "transform": "identity"}]
            if case % 2 == 0 else None
        )
        snap.commit_append(df, path, partition_spec=spec)
        for where in (None, {"grp": "a"}, {"grp": "zzz"}, {"grp": None}):
            got, md = snap.scan_aggregate(
                spark, path, minmax_cols=("x", "y", "id"), where=where)
            if spec is None and where is not None:
                assert md is False
            ref = snap.read_snapshot(spark, path)
            for c, v in (where or {}).items():
                ref = ref.where(
                    F.col(c).isNull() if v is None else (F.col(c) == v))
            exp = ref.agg(
                F.count(F.lit(1)), F.min("x"), F.max("x"),
                F.min("y"), F.max("y"), F.min("id"), F.max("id"),
            ).collect()[0]
            assert tuple(got.collect()[0]) == tuple(exp), (case, where, md)


def test_scan_aggregate_time_granule_equality(spark, tmp_path):
    """Granule-equality filters on time-transform partitions answer
    from metadata (Iceberg's partition-value query) and equal the
    date_format scan semantics; a non-granule-shaped value counts 0."""
    from pyspark.sql import functions as F

    import ratatool_spark.operators.snapshots as snap

    orders = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .where(F.col("o_orderdate").between("1995-01-01", "1995-01-31"))
    )
    path = str(tmp_path / "tg")
    snap.commit_append(
        orders, path,
        partition_spec=[{"col": "o_orderdate", "transform": "day"}])
    day = orders.select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d")
    ).groupBy("d").count().orderBy(F.desc("count")).first()["d"]
    got, md = snap.scan_aggregate(
        spark, path, minmax_cols=("o_totalprice",),
        where={"o_orderdate": day})
    assert md is True
    exp = orders.where(
        F.date_format("o_orderdate", "yyyy-MM-dd") == day
    ).agg(F.count(F.lit(1)), F.min("o_totalprice"),
          F.max("o_totalprice")).collect()[0]
    assert tuple(got.collect()[0]) == tuple(exp)
    assert exp[0] > 0
    # month-shaped value on a day table matches nothing — exact zero
    got0, md0 = snap.scan_aggregate(
        spark, path, where={"o_orderdate": day[:7]})
    assert md0 is True and got0.collect()[0]["n_rows"] == 0


def test_cli_agg_mode(tmp_path):
    """CLI snapshot --mode agg: metadata-only aggregate as JSON, with
    from_metadata reported."""
    import json as _json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    tbl = str(tmp_path / "cliagg")
    r1 = subprocess.run(
        [sys.executable, "-m", "ratatool_spark.cli", "snapshot",
         "--table", tbl, "--mode", "append",
         "--input", "/root/testdata/sf0.001/orders.parquet",
         "--partitionBy", "o_orderstatus"],
        env=env, capture_output=True, text=True)
    assert r1.returncode == 0, r1.stderr[-500:]
    r2 = subprocess.run(
        [sys.executable, "-m", "ratatool_spark.cli", "snapshot",
         "--table", tbl, "--mode", "agg",
         "--minmaxCols", "o_totalprice",
         "--whereEq", "o_orderstatus:F"],
        env=env, capture_output=True, text=True)
    assert r2.returncode == 0, r2.stderr[-500:]
    out = _json.loads(r2.stdout.strip().splitlines()[-1])
    assert out["from_metadata"] is True
    assert out["n_rows"] > 0
    assert out["min_o_totalprice"] <= out["max_o_totalprice"]
