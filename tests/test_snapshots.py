"""Manifest-snapshot semantics: time travel, atomicity, file sharing."""

from __future__ import annotations

import json
import os

from flow_spark.operators.snapshots import (
    current_version,
    snapshot_files,
    snapshot_read,
    snapshot_write,
)


def test_old_versions_are_immutable(spark, tmp_path):
    """A committed version must read identically forever, regardless of
    how many later versions are written."""
    t = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(10).selectExpr("id AS k"), t)
    before = sorted(r.k for r in snapshot_read(spark, t, v1).collect())
    snapshot_write(spark.range(100, 120).selectExpr("id AS k"), t)
    snapshot_write(spark.range(500, 510).selectExpr("id AS k"), t)
    after = sorted(r.k for r in snapshot_read(spark, t, v1).collect())
    assert before == after == list(range(10))
    assert current_version(t) == 3
    # default read = latest version only
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == list(
        range(500, 510)
    )


def test_append_version_shares_files(spark, tmp_path):
    """reuse_files makes v2 a superset manifest: v1's files appear in v2
    verbatim (no data copy), plus the new files."""
    t = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(5).selectExpr("id AS k"), t)
    v1_files = snapshot_files(t, v1)
    v2 = snapshot_write(
        spark.range(5, 9).selectExpr("id AS k"), t, reuse_files=v1_files
    )
    v2_files = snapshot_files(t, v2)
    assert set(v1_files) < set(v2_files)
    assert sorted(r.k for r in snapshot_read(spark, t, v2).collect()) == list(
        range(9)
    )


def test_partial_manifest_never_visible(spark, tmp_path):
    """A leftover .tmp manifest (crash mid-commit) is invisible: version
    listing and reads ignore it."""
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).selectExpr("id AS k"), t)
    tmp_manifest = os.path.join(t, "_manifests", "v2.json.tmp")
    with open(tmp_manifest, "w") as fh:
        json.dump({"version": 2, "files": ["/nonexistent.parquet"]}, fh)
    assert current_version(t) == 1
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == [0, 1, 2]


def test_reads_prune_and_push_down(spark, tmp_path):
    """A snapshot read is a NORMAL parquet scan: filters reach the scan
    (PushedFilters) — the manifest only fixes the file set."""
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(1000).selectExpr("id AS k", "id * 2 AS v"), t)
    df = snapshot_read(spark, t).filter("k = 7").select("v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,7)]" in plan
    assert [tuple(r) for r in df.collect()] == [(14,)]


def test_schema_evolution_reads_old_files_with_nulls(spark, tmp_path):
    """A version that ADDS a column still reuses v1's files: the manifest
    schema is the read authority, so old files fill the new column with
    NULLs (no mergeSchema footer sweep)."""
    t = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(3).selectExpr("id AS k"), t)
    v2 = snapshot_write(
        spark.range(3, 5).selectExpr("id AS k", "id * 10 AS v"),
        t,
        reuse_files=snapshot_files(t, v1),
    )
    rows = {r.k: r.v for r in snapshot_read(spark, t, v2).collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40}
    # v1 unchanged, still its own (narrower) schema
    assert snapshot_read(spark, t, v1).columns == ["k"]


def test_upsert_replaces_and_inserts(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_upsert

    t = str(tmp_path / "tbl")
    v1 = snapshot_upsert(
        spark, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"),
        t, "k",
    )
    v2 = snapshot_upsert(
        spark, spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), t, "k"
    )
    got = {(r.k, r.v) for r in snapshot_read(spark, t, v2).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # old version untouched (time travel across MERGE)
    old = {(r.k, r.v) for r in snapshot_read(spark, t, v1).collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c")}


def test_upsert_rewrites_only_affected_files(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_upsert

    t = str(tmp_path / "tbl")
    # two files with disjoint key ranges (repartition by range on k)
    base = spark.range(100).selectExpr("CAST(id AS INT) AS k", "'old' AS v")
    snapshot_write(base.repartitionByRange(2, "k"), t)
    v1_files = set(snapshot_files(t, 1))
    assert len(v1_files) == 2
    # update one key -> exactly one of the two files is rewritten
    v2 = snapshot_upsert(
        spark, spark.createDataFrame([(7, "new")], "k int, v string"), t, "k"
    )
    v2_files = set(snapshot_files(t, v2))
    assert len(v1_files & v2_files) == 1, "untouched file must be reused by reference"
    got = dict((r.k, r.v) for r in snapshot_read(spark, t, v2).collect())
    assert got[7] == "new" and got[8] == "old" and len(got) == 100


def test_streaming_upsert_foreachbatch(spark, tmp_path):
    """Streaming MERGE: a rate-limited stream of key updates drained with
    availableNow + foreachBatch(snapshot_upsert) must land the same final
    state as applying the batches sequentially in batch mode — and every
    intermediate version stays readable (audit trail of the stream)."""
    import json as _json
    from flow_spark.operators.snapshots import current_version, snapshot_upsert

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, 10), (2, 20)],
        [(2, 21), (3, 30)],
        [(1, 11), (4, 40)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.jsonl", "w") as fh:
            for k, v in rows:
                fh.write(_json.dumps({"k": k, "v": v}) + "\n")
    t = str(tmp_path / "tbl")
    stream = (
        spark.readStream.schema("k int, v int")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: snapshot_upsert(df.sparkSession, df, t, "k"))
        .start()
    )
    q.awaitTermination(120)
    final = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}
    assert final == {(1, 11), (2, 21), (3, 30), (4, 40)}
    # the per-batch versions are the stream's audit trail
    assert current_version(t) >= 1


def test_changefeed_insert_update_delete(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_changes, snapshot_upsert

    t = str(tmp_path / "tbl")
    v1 = snapshot_upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"),
        t, "k",
    )
    # v2: update k=2, insert k=4
    v2 = snapshot_upsert(
        spark, spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), t, "k"
    )
    # v3: delete k=3 (full-state rewrite without the key)
    from flow_spark.operators.snapshots import snapshot_read, snapshot_write
    import pyspark.sql.functions as F

    v3 = snapshot_write(snapshot_read(spark, t, v2).filter(F.col("k") != 3), t)
    got = {
        (r.k, r.change_type, r.v)
        for r in snapshot_changes(spark, t, v1, v3, "k", ["v"]).collect()
    }
    assert got == {(2, "update", "B"), (4, "insert", "d"), (3, "delete", "c")}


def test_changefeed_skips_shared_files(spark, tmp_path):
    """A point update diffs only the rewritten file pair: keys living in
    files shared by both manifests never even enter the join."""
    from flow_spark.operators.snapshots import snapshot_changes, snapshot_upsert

    t = str(tmp_path / "tbl")
    base = spark.range(100).selectExpr("CAST(id AS INT) AS k", "'old' AS v")
    v1 = snapshot_upsert(spark, base.repartitionByRange(4, "k"), t, "k")
    v2 = snapshot_upsert(
        spark, spark.createDataFrame([(7, "new")], "k int, v string"), t, "k"
    )
    cf = snapshot_changes(spark, t, v1, v2, "k", ["v"])
    assert {(r.k, r.change_type, r.v) for r in cf.collect()} == {(7, "update", "new")}
    # pruning evidence: each side of the diff is exactly ONE exclusive
    # file (the rewritten one and its replacement) — the 3 shared files
    # never enter the join
    old_files, new_files = set(snapshot_files(t, v1)), set(snapshot_files(t, v2))
    assert len(old_files & new_files) == 3, "the 3 untouched files are shared"
    assert len(old_files - new_files) == 1, "one old file rewritten"
    assert len(new_files - old_files) <= 2, "survivors + batch replacement files"


def test_changefeed_noop_between_identical_versions(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_changes,
        snapshot_files,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_upsert(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"), t, "k"
    )
    v2 = snapshot_write(
        spark.createDataFrame([], "k int, v string"),
        t,
        reuse_files=snapshot_files(t, v1),
    )
    assert snapshot_changes(spark, t, v1, v2, "k", ["v"]).count() == 0


def test_prune_candidates_intervals():
    from flow_spark.operators.snapshots import _prune_candidates

    files = ["f1", "f2", "f3", "f4"]
    stats = {"f1": [0, 9], "f2": [10, 19], "f3": [20, 29]}  # f4: no stats
    # key 12 -> f2 only; f4 always scans (no stats)
    assert _prune_candidates(files, stats, [12]) == ["f2", "f4"]
    # boundary keys hit their interval inclusively
    assert _prune_candidates(files, stats, [9, 20]) == ["f1", "f3", "f4"]
    # key outside every interval -> only the stats-less file remains
    assert _prune_candidates(files, stats, [99]) == ["f4"]
    # multiple keys spread across intervals
    assert _prune_candidates(files, stats, [3, 15, 25]) == files
    # NULL stats (all-null key column in that file) -> must scan
    assert _prune_candidates(["g"], {"g": [None, None]}, [1]) == ["g"]


def test_upsert_stats_recorded_and_inherited(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_stats, snapshot_upsert

    t = str(tmp_path / "tbl")
    base = spark.range(100).selectExpr("CAST(id AS INT) AS k", "'old' AS v")
    v1 = snapshot_upsert(spark, base.repartitionByRange(2, "k"), t, "k")
    s1 = snapshot_stats(t, v1)
    assert len(s1) == 2
    ranges = sorted(tuple(v) for v in s1.values())
    assert ranges[0][0] == 0 and ranges[1][1] == 99
    # point update: the reused file's stats are inherited verbatim
    v2 = snapshot_upsert(
        spark, spark.createDataFrame([(7, "new")], "k int, v string"), t, "k"
    )
    s2 = snapshot_stats(t, v2)
    shared = set(s1) & set(s2)
    assert len(shared) == 1
    for f in shared:
        assert s1[f] == s2[f]
    # every live file has stats -> the next merge can prune
    from flow_spark.operators.snapshots import snapshot_files
    assert set(snapshot_files(t, v2)) == set(s2)


def test_compact_merges_small_files_rows_identical(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_compact, snapshot_upsert

    t = str(tmp_path / "tbl")
    # 8 tiny files
    base = spark.range(1000).selectExpr("CAST(id AS INT) AS k", "id * 3 AS v")
    v1 = snapshot_write(base.repartition(8), t, stats_col="k")
    assert len(snapshot_files(t, v1)) == 8
    v2 = snapshot_compact(spark, t, target_bytes=1 << 30, stats_col="k")
    assert v2 == v1 + 1
    assert len(snapshot_files(t, v2)) < 8
    before = sorted(tuple(r) for r in snapshot_read(spark, t, v1).collect())
    after = sorted(tuple(r) for r in snapshot_read(spark, t, v2).collect())
    assert before == after
    # stats refreshed for the compacted files -> future MERGEs still prune
    from flow_spark.operators.snapshots import snapshot_stats
    s2 = snapshot_stats(t, v2)
    assert set(snapshot_files(t, v2)) == set(s2)
    # old (fragmented) version still readable until vacuumed
    assert len(snapshot_files(t, v1)) == 8


def test_vacuum_reclaims_only_unreferenced(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_upsert,
        snapshot_vacuum,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(100).selectExpr("CAST(id AS INT) AS k", "'x' AS v")
    v1 = snapshot_upsert(spark, base.repartitionByRange(4, "k"), t, "k")
    v2 = snapshot_upsert(
        spark, spark.createDataFrame([(7, "y")], "k int, v string"), t, "k"
    )
    v3 = snapshot_compact(spark, t, target_bytes=1 << 30, stats_col="k")
    # retention = 2 keeps v2 + v3; v1's exclusive file goes, shared files stay
    out = snapshot_vacuum(t, keep_versions=2)
    assert out["versions_dropped"] == 1
    assert out["files_deleted"] >= 1
    # live versions read fine after the GC
    got = dict((r.k, r.v) for r in snapshot_read(spark, t, v3).collect())
    assert got[7] == "y" and len(got) == 100
    got2 = dict((r.k, r.v) for r in snapshot_read(spark, t, v2).collect())
    assert got2 == got
    # the dropped version is gone
    import pytest
    with pytest.raises(FileNotFoundError):
        snapshot_files(t, v1)


def test_incremental_mv_with_deletes_equals_recompute(spark, tmp_path):
    """IVM delta-apply (insert/update/delete incl. retraction of old
    values) must equal a full recompute of the final state."""
    import pyspark.sql.functions as F
    from flow_spark.operators.snapshots import (
        snapshot_changes,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(50).selectExpr("CAST(id AS INT) AS k", "id * 10 AS v")
    v1 = snapshot_upsert(spark, base.repartitionByRange(2, "k"), t, "k")
    mv0 = snapshot_read(spark, t, v1).groupBy((F.col("k") % 5).alias("b")).agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    # v2: update k in {3, 8}, insert k=100; v3: delete k in {7, 14}
    v2 = snapshot_upsert(
        spark,
        spark.createDataFrame([(3, 999), (8, 888), (100, 77)], "k int, v long"),
        t, "k",
    )
    v3 = snapshot_write(
        snapshot_read(spark, t, v2).filter(~F.col("k").isin(7, 14)), t
    )
    cf = snapshot_changes(spark, t, v1, v3, "k", ["v"], include_old=True)
    delta = cf.groupBy((F.col("k") % 5).alias("b")).agg(
        F.sum(
            F.when(F.col("change_type") == "insert", F.lit(1))
            .when(F.col("change_type") == "delete", F.lit(-1))
            .otherwise(F.lit(0))
        ).alias("dn"),
        F.sum(
            F.when(F.col("change_type") == "delete", -F.col("old_v")).otherwise(
                F.col("v") - F.coalesce("old_v", F.lit(0))
            )
        ).alias("ds"),
    )
    refreshed = {
        (r.b, r.n, r.s)
        for r in mv0.join(delta, "b", "full_outer")
        .select(
            "b",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("s"),
        )
        .filter(F.col("n") > 0)
        .collect()
    }
    recomputed = {
        (r.b, r.n, r.s)
        for r in snapshot_read(spark, t, v3)
        .groupBy((F.col("k") % 5).alias("b"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert refreshed == recomputed


def test_upsert_after_schema_evolution(spark, tmp_path):
    """MERGE into a table whose current version ADDED a column over
    reused narrow files: reads must follow the manifest schema (old
    files fill NULLs), not footer inference from an arbitrary file."""
    import pyspark.sql.functions as F
    from flow_spark.operators.snapshots import snapshot_upsert

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(3).selectExpr("CAST(id AS INT) AS k"), t)
    snapshot_write(
        spark.createDataFrame([(3, 30), (4, 40)], "k int, v int"),
        t,
        reuse_files=snapshot_files(t, v1),
    )
    v3 = snapshot_upsert(
        spark, spark.createDataFrame([(0, 99), (5, 50)], "k int, v int"), t, "k"
    )
    got = {(r.k, r.v) for r in snapshot_read(spark, t, v3).collect()}
    assert got == {(0, 99), (1, None), (2, None), (3, 30), (4, 40), (5, 50)}


def test_compact_after_schema_evolution_keeps_wide_schema(spark, tmp_path):
    """Compacting a version that mixes narrow (reused) and wide files
    must rewrite under the manifest's wide schema — footer inference
    could silently drop the evolved column's data."""
    from flow_spark.operators.snapshots import snapshot_compact

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(3).selectExpr("CAST(id AS INT) AS k"), t)
    v2 = snapshot_write(
        spark.createDataFrame([(3, 30)], "k int, v int"),
        t,
        reuse_files=snapshot_files(t, v1),
    )
    v3 = snapshot_compact(spark, t, target_bytes=1 << 30, stats_col="k")
    before = sorted(
        (r.k, r.v) for r in snapshot_read(spark, t, v2).collect()
    )
    after = sorted((r.k, r.v) for r in snapshot_read(spark, t, v3).collect())
    assert after == before == [(0, None), (1, None), (2, None), (3, 30)]


def test_changefeed_across_schema_evolution(spark, tmp_path):
    """Diffing versions across a column addition reads old files under
    the TO schema (NULL-filled) instead of failing on the missing
    column."""
    from flow_spark.operators.snapshots import snapshot_changes

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.createDataFrame([(1,), (2,)], "k int"), t
    )
    v2 = snapshot_write(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), t)
    got = {
        (r.k, r.change_type, r.v)
        for r in snapshot_changes(spark, t, v1, v2, "k", ["v"]).collect()
    }
    # old rows had v=NULL (schema fill), new rows carry values -> updates
    assert got == {(1, "update", 10), (2, "update", 20)}


def test_stats_on_other_column_never_prune_merges(spark, tmp_path):
    """Stats recorded for a DIFFERENT column must not drive key pruning:
    the merge still rewrites the file containing the key (correctness
    over pruning)."""
    from flow_spark.operators.snapshots import (
        snapshot_stats_col,
        snapshot_upsert,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(100).selectExpr("CAST(id AS INT) AS k", "id * 2 AS v")
    snapshot_write(base.repartitionByRange(2, "k"), t, stats_col="v")
    assert snapshot_stats_col(t, 1) == "v"
    v2 = snapshot_upsert(
        spark, spark.createDataFrame([(7, 777)], "k int, v long"), t, "k"
    )
    got = dict((r.k, r.v) for r in snapshot_read(spark, t, v2).collect())
    assert got[7] == 777 and len(got) == 100
    # the new version's stats describe the merge key now
    assert snapshot_stats_col(t, v2) == "k"


def test_upsert_null_key_rejected_when_pruning(spark, tmp_path):
    import pytest
    from flow_spark.operators.snapshots import snapshot_upsert

    t = str(tmp_path / "tbl")
    snapshot_upsert(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"), t, "k"
    )
    with pytest.raises(Exception, match="non-null"):
        snapshot_upsert(
            spark,
            spark.createDataFrame([(None, "x"), (2, "b")], "k int, v string"),
            t,
            "k",
        )


def test_vacuum_guards_and_orphan_sweep(spark, tmp_path):
    import os
    import pytest
    from flow_spark.operators.snapshots import snapshot_vacuum

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5).selectExpr("id AS k"), t)
    with pytest.raises(ValueError, match="keep_versions"):
        snapshot_vacuum(t, keep_versions=0)
    # simulate a crashed commit: parquet written, manifest never renamed
    orphan_dir = os.path.join(t, "data", "deadbeef0000")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000-crashed.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    old = 1_000_000  # age it far past any grace window
    os.utime(orphan, (old, old))
    out = snapshot_vacuum(t, keep_versions=2, orphan_grace_seconds=3600)
    assert out["files_deleted"] == 1
    assert not os.path.exists(orphan_dir)
    # live table unaffected
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == list(range(5))


def test_concurrent_commit_loses_loudly(spark, tmp_path):
    """Two writers racing to the same version: the second commit must
    raise ConcurrentSnapshotWrite, never silently overwrite the winner
    (os.replace semantics would lose the first commit)."""
    import pytest
    from flow_spark.operators.snapshots import ConcurrentSnapshotWrite

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).selectExpr("id AS k"), t)
    # simulate the race: winner commits v2 while loser still computes
    winner = spark.createDataFrame([(100,)], "k long")
    snapshot_write(winner, t)  # v2 committed
    # loser computed against v1 and tries to publish v2 directly
    import glob as _glob
    import os as _os

    from flow_spark.operators.snapshots import _commit_manifest, _manifest_path

    with pytest.raises(ConcurrentSnapshotWrite):
        _commit_manifest(
            {"version": 2, "files": [], "schema": "{}"}, _manifest_path(t, 2)
        )
    # the winner's manifest is intact and the loser's staging file is gone
    got = sorted(r.k for r in snapshot_read(spark, t, 2).collect())
    assert got == [100]
    assert not _glob.glob(_manifest_path(t, 2) + ".*.tmp")
    assert _os.path.exists(_manifest_path(t, 2))


def test_read_key_range_skips_files_from_manifest_stats(spark, tmp_path):
    """snapshot_read(key_range=...) drops files whose manifest stats
    can't intersect the range — before any footer is opened."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    base = spark.range(100).selectExpr("CAST(id AS INT) AS k", "id * 2 AS v")
    snapshot_write(base.repartitionByRange(4, "k"), t, stats_col="k")
    full = snapshot_read(spark, t)
    narrow = snapshot_read(spark, t, key_range=(10, 20), key_col="k")
    assert len(narrow.inputFiles()) < len(full.inputFiles())
    # pruning is sound: the filtered results agree with the full scan
    want = sorted(
        tuple(r) for r in full.filter(F.col("k").between(10, 20)).collect()
    )
    got = sorted(
        tuple(r) for r in narrow.filter(F.col("k").between(10, 20)).collect()
    )
    assert got == want and len(got) == 11
    # a range outside every file -> empty frame, zero files
    assert snapshot_read(spark, t, key_range=(1000, 2000), key_col="k").count() == 0
    # stats on a DIFFERENT column never prune (correctness over skipping)
    other = snapshot_read(spark, t, key_range=(10, 20), key_col="v")
    assert len(other.inputFiles()) == len(full.inputFiles())
    import pytest
    with pytest.raises(ValueError, match="key_col"):
        snapshot_read(spark, t, key_range=(1, 2))


def test_partition_evolution_prune_never_changes_results(spark, tmp_path):
    """Pruned read + residual filter must equal full read + filter, for
    predicates on old-spec, new-spec, and mixed columns — and old files
    must remain readable (never rewritten) after the spec evolves."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_files,
        snapshot_read_pruned,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") % 3).cast("string").alias("h"),
    )
    v1 = snapshot_write_partitioned(df.filter("id < 600"), td, spec=["g"])
    v1_files = set(snapshot_files(td, v1))
    v2 = snapshot_write_partitioned(
        df.filter("id >= 600"), td, spec=["g", "h"],
        reuse_files=sorted(v1_files),
    )
    # old files reused by reference, not rewritten
    assert v1_files < set(snapshot_files(td, v2))
    full, n_all, n_total = snapshot_read_pruned(spark, td, v2, {})
    assert n_all == n_total
    for equals in ({"g": "3"}, {"h": "1"}, {"g": "3", "h": "1"}):
        pruned, n_read, _ = snapshot_read_pruned(spark, td, v2, equals)
        for c, v in equals.items():
            pruned = pruned.filter(F.col(c) == v)
        expect = full
        for c, v in equals.items():
            expect = expect.filter(F.col(c) == v)
        assert n_read < n_total
        assert sorted(r.id for r in pruned.collect()) == sorted(
            r.id for r in expect.collect()
        )
    # new-spec column can't prune v1 files: all v1 files survive h-pruning
    _, n_h, _ = snapshot_read_pruned(spark, td, v2, {"h": "1"})
    assert n_h >= len(v1_files)


def test_partition_evolution_empty_prune(spark, tmp_path):
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_read_pruned,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    df = spark.range(10).select(
        "id", (F.col("id") % 2).cast("string").alias("g")
    )
    v = snapshot_write_partitioned(df, td, spec=["g"])
    out, n_read, n_total = snapshot_read_pruned(spark, td, v, {"g": "nope"})
    assert n_read == 0 and n_total > 0
    assert out.count() == 0
    assert "id" in out.columns


# ---- partitioned-files interop (round-4 ADVICE fix) ------------------------
# A version written by snapshot_write_partitioned stores partition values in
# the PATH; every other manifest API must reconstruct them via the manifest's
# recorded bases (basePath grouping) and carry 'partitions'/'bases' forward
# when it inherits files — otherwise the columns silently read back NULL.


def _pdf(spark):
    from pyspark.sql import functions as F

    return spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * 10).alias("val"),
    )


def test_snapshot_read_reconstructs_partition_columns(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_write_partitioned

    td = str(tmp_path / "tbl")
    snapshot_write_partitioned(_pdf(spark), td, spec=["g"])
    got = snapshot_read(spark, td).collect()
    assert len(got) == 100
    assert all(r.g is not None for r in got)
    assert sorted((r.id, r.g) for r in got) == [
        (i, str(i % 4)) for i in range(100)
    ]


def test_publish_inherits_partition_metadata(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_publish,
        snapshot_stage,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    snapshot_write_partitioned(_pdf(spark), td, spec=["g"])
    snapshot_stage(
        spark.range(100, 110).selectExpr(
            "id", "CAST(id % 4 AS string) AS g", "id * 10 AS val"
        ),
        td,
    )
    v2 = snapshot_publish(td)
    got = snapshot_read(spark, td, v2).collect()
    assert len(got) == 110
    # inherited partitioned files still yield real partition values
    assert all(r.g == str(r.id % 4) for r in got)


def test_append_write_inherits_partition_metadata(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_write_partitioned

    td = str(tmp_path / "tbl")
    v1 = snapshot_write_partitioned(_pdf(spark), td, spec=["g"])
    v2 = snapshot_write(
        spark.range(100, 105).selectExpr(
            "id", "CAST(id % 4 AS string) AS g", "id * 10 AS val"
        ),
        td,
        reuse_files=snapshot_files(td, v1),
    )
    got = snapshot_read(spark, td, v2).collect()
    assert len(got) == 105
    assert all(r.g == str(r.id % 4) for r in got)


def test_upsert_on_partitioned_table(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_upsert,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    snapshot_write_partitioned(_pdf(spark), td, spec=["g"])
    batch = spark.range(98, 103).selectExpr(
        "id", "CAST(id % 4 AS string) AS g", "id * 1000 AS val"
    )
    v2 = snapshot_upsert(spark, batch, td, key_col="id")
    got = {r.id: (r.g, r.val) for r in snapshot_read(spark, td, v2).collect()}
    assert len(got) == 103
    for i in range(103):
        expect_val = i * 1000 if i >= 98 else i * 10
        assert got[i] == (str(i % 4), expect_val), i


def test_compact_partitioned_table_keeps_rows(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    snapshot_write_partitioned(_pdf(spark), td, spec=["g"])
    v2 = snapshot_compact(spark, td, target_bytes=1 << 30)
    got = sorted(
        (r.id, r.g, r.val) for r in snapshot_read(spark, td, v2).collect()
    )
    assert got == [(i, str(i % 4), i * 10) for i in range(100)]


def test_changefeed_on_partitioned_versions(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_changes,
        snapshot_upsert,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    v1 = snapshot_write_partitioned(_pdf(spark), td, spec=["g"])
    batch = spark.range(99, 101).selectExpr(
        "id", "CAST(id % 4 AS string) AS g", "id * 1000 AS val"
    )
    v2 = snapshot_upsert(spark, batch, td, key_col="id")
    # the partition column is a VALUE col here: NULL-filled reads would
    # spray spurious updates across every carried-over row
    changes = {
        r.id: (r.change_type, r.g, r.val)
        for r in snapshot_changes(
            spark, td, v1, v2, key_col="id", value_cols=["g", "val"]
        ).collect()
    }
    assert changes == {
        99: ("update", "3", 99000),
        100: ("insert", "0", 100000),
    }


def test_vacuum_handles_partitioned_dirs(spark, tmp_path):
    import os as _os

    from flow_spark.operators.snapshots import (
        snapshot_upsert,
        snapshot_vacuum,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    snapshot_write_partitioned(_pdf(spark), td, spec=["g"])
    snapshot_upsert(
        spark,
        spark.range(200, 205).selectExpr(
            "id", "CAST(id % 4 AS string) AS g", "id * 10 AS val"
        ),
        td,
        key_col="id",
    )
    # a partitioned ORPHAN dir (crashed before manifest commit), aged out
    ddir = _os.path.join(td, "data")
    orphan = _os.path.join(ddir, "deadbeef0000", "g=9")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "part-0.parquet"), "wb") as fh:
        fh.write(b"junk")
    old = 1.0
    for root, _d, names in _os.walk(_os.path.join(ddir, "deadbeef0000")):
        for n in names:
            _os.utime(_os.path.join(root, n), (old, old))
    res = snapshot_vacuum(td, keep_versions=1, orphan_grace_seconds=60)
    assert res["files_deleted"] >= 1
    assert not _os.path.exists(_os.path.join(ddir, "deadbeef0000"))
    # the live (latest) partitioned version still reads fully
    got = snapshot_read(spark, td).collect()
    assert len(got) == 105
    assert all(r.g == str(r.id % 4) for r in got)


def test_cc_star_raises_when_budget_exhausted(spark):
    import pytest as _pytest

    from flow_spark.operators.graph import ConvergenceError, cc_star

    chain = spark.range(40).selectExpr("id AS a", "id + 1 AS b")
    # the dedicated type lets callers distinguish non-convergence from
    # other runtime failures; it still IS-A RuntimeError for old callers
    with _pytest.raises(ConvergenceError, match="did not converge"):
        cc_star(chain, max_iter=1)
    assert issubclass(ConvergenceError, RuntimeError)
    # an adequate budget converges and labels the whole chain as one component
    labels = {r.id: r.component for r in cc_star(chain).collect()}
    assert set(labels.values()) == {0}


# ---- multi-table atomic commits --------------------------------------------


def test_multi_table_commit_atomic_and_consistent(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_commit_tables,
        snapshot_read_catalog,
    )

    root = str(tmp_path / "cat")
    cv1, pins1 = snapshot_commit_tables(
        {
            "facts": spark.range(10).selectExpr("id AS k", "id * 2 AS v"),
            "dims": spark.range(3).selectExpr("id AS k", "'x' AS name"),
        },
        root,
    )
    assert cv1 == 1 and set(pins1) == {"facts", "dims"}
    # update ONLY facts: dims carries forward pinned at its old version
    cv2, pins2 = snapshot_commit_tables(
        {"facts": spark.range(20).selectExpr("id AS k", "id * 3 AS v")}, root
    )
    assert cv2 == 2
    assert pins2["dims"] == pins1["dims"]
    assert pins2["facts"] == pins1["facts"] + 1
    v2 = snapshot_read_catalog(spark, root)
    assert v2["facts"].count() == 20 and v2["dims"].count() == 3
    # time travel to catalog v1 = BOTH tables as of the first commit
    v1 = snapshot_read_catalog(spark, root, version=1)
    assert v1["facts"].count() == 10
    assert sorted(r.v for r in v1["facts"].collect()) == sorted(
        i * 2 for i in range(10)
    )


def test_multi_table_commit_crash_between_steps_invisible(spark, tmp_path):
    import os as _os

    from flow_spark.operators.snapshots import (
        catalog_current_version,
        snapshot_commit_tables,
        snapshot_read_catalog,
        snapshot_write,
    )

    root = str(tmp_path / "cat")
    snapshot_commit_tables(
        {"facts": spark.range(5).selectExpr("id AS k")}, root
    )
    # simulate a committer that crashed AFTER landing the per-table
    # version but BEFORE the catalog publish (step 1 done, step 2 not)
    snapshot_write(
        spark.range(99).selectExpr("id AS k"), _os.path.join(root, "facts")
    )
    assert catalog_current_version(root) == 1
    got = snapshot_read_catalog(spark, root)
    assert got["facts"].count() == 5  # old pinned version, torn state invisible


def test_multi_table_commit_concurrency_loser_raises(
    spark, tmp_path, monkeypatch
):
    import json as _json
    import os as _os

    import pytest as _pytest

    from flow_spark.operators import snapshots as snap

    root = str(tmp_path / "cat")
    snap.snapshot_commit_tables(
        {"facts": spark.range(5).selectExpr("id AS k")}, root
    )

    # a racer steals catalog version 2 BETWEEN our step 1 (table writes)
    # and step 2 (catalog publish): injected via the step-1 write hook
    real_write = snap.snapshot_write

    def write_then_race(df, table_dir, **kw):
        v = real_write(df, table_dir, **kw)
        _os.makedirs(_os.path.join(root, "_catalog"), exist_ok=True)
        with open(_os.path.join(root, "_catalog", "c2.json"), "w") as fh:
            _json.dump({"version": 2, "tables": {"facts": 1}}, fh)
        return v

    monkeypatch.setattr(snap, "snapshot_write", write_then_race)
    with _pytest.raises(snap.ConcurrentSnapshotWrite):
        snap.snapshot_commit_tables(
            {"facts": spark.range(7).selectExpr("id AS k")}, root
        )


def test_zorder_optimize_rows_identical_and_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_col_stats,
        snapshot_optimize_zorder,
        snapshot_read,
        snapshot_write,
    )

    td = str(tmp_path / "tbl")
    df = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 97).alias("x"),
        ((F.col("id") * 7) % 89).alias("y"),
    )
    v1 = snapshot_write(df.repartition(4), td)
    v2 = snapshot_optimize_zorder(
        spark, td, "x", "y", shift=4, target_rows_per_file=800
    )
    assert v2 == v1 + 1
    before = sorted(r.id for r in snapshot_read(spark, td, v1).collect())
    after = sorted(r.id for r in snapshot_read(spark, td, v2).collect())
    assert before == after  # OPTIMIZE never changes rows
    cs = snapshot_col_stats(td, v2)
    assert set(cs) == {"x", "y"}
    n_files = len(cs["x"])
    assert n_files >= 4
    # stats are true bounds: a probe through pruning == plain filter
    for col, lo, hi in (("x", 10, 25), ("y", 50, 60)):
        pruned = (
            snapshot_read(spark, td, v2, key_range=(lo, hi), key_col=col)
            .filter(F.col(col).between(lo, hi))
            .count()
        )
        plain = df.filter(F.col(col).between(lo, hi)).count()
        assert pruned == plain
        n_sel = sum(
            1 for st in cs[col].values() if st[0] <= hi and st[1] >= lo
        )
        assert n_sel <= n_files


def test_zorder_optimize_null_keys_and_wide_range(spark, tmp_path):
    """NULL z-keys must survive the rewrite (dedicated bucket, not a
    driver-side sort crash or a silent inner-join drop), and keys far
    above 65535 must not wrap — range scaling keeps high keys in high
    z-buckets so clustering holds at real key widths."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_col_stats,
        snapshot_optimize_zorder,
        snapshot_read,
        snapshot_write,
    )

    td = str(tmp_path / "tbl")
    # x spans 0 .. 10M (wraps 16 bits raw); every 10th row has NULL x
    df = spark.range(4000).select(
        F.col("id"),
        F.when(F.col("id") % 10 != 0, F.col("id") * 2500).alias("x"),
        (F.col("id") % 83).alias("y"),
    )
    v1 = snapshot_write(df.repartition(4), td)
    v2 = snapshot_optimize_zorder(
        spark, td, "x", "y", shift=4, target_rows_per_file=700
    )
    assert v2 == v1 + 1
    before = sorted((r.id, r.x, r.y) for r in snapshot_read(spark, td, v1).collect())
    after = sorted((r.id, r.x, r.y) for r in snapshot_read(spark, td, v2).collect())
    assert before == after  # NULL-x rows kept, all rows identical
    # scaling (not 16-bit wrap) => file x-spans are localized: a probe on
    # a narrow high-x range must select a strict minority of files
    cs = snapshot_col_stats(td, v2)
    n_files = len(cs["y"])
    assert n_files >= 4
    lo, hi = 9_000_000, 9_500_000
    n_sel = sum(1 for st in cs["x"].values() if st[0] <= hi and st[1] >= lo)
    assert n_sel < n_files / 2
    pruned = (
        snapshot_read(spark, td, v2, key_range=(lo, hi), key_col="x")
        .filter(F.col("x").between(lo, hi))
        .count()
    )
    assert pruned == df.filter(F.col("x").between(lo, hi)).count()


def test_zorder_optimize_empty_table_short_circuits(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_optimize_zorder,
        snapshot_write,
    )

    td = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(5).select(F.col("id"), F.col("id").alias("x"),
                              F.col("id").alias("y")).filter("id < 0"),
        td,
    )
    with _pytest.raises(ValueError, match="empty|no rows"):
        snapshot_optimize_zorder(spark, td, "x", "y")


def test_rollback_restores_target_and_keeps_history(spark, tmp_path):
    from flow_spark.operators.snapshots import snapshot_rollback

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(10).selectExpr("id AS k"), t)
    v2 = snapshot_write(spark.range(10).selectExpr("id AS k"), t,
                        reuse_files=snapshot_files(t, v1))
    v3 = snapshot_rollback(t, v1)
    assert (v2, v3) == (2, 3)
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == list(range(10))
    # bad version still time-travel-readable (history preserved)
    assert len(snapshot_read(spark, t, v2).collect()) == 20
    # manifest records provenance
    with open(os.path.join(t, "_manifests", f"v{v3}.json")) as fh:
        m = json.load(fh)
    assert m["restored_version"] == v1
    assert m["files"] == snapshot_files(t, v1)


def test_rollback_partitioned_table_keeps_partition_columns(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_rollback,
        snapshot_write_partitioned,
    )

    td = str(tmp_path / "tbl")
    df = spark.range(40).selectExpr("id", "CAST(id % 4 AS string) AS g")
    v1 = snapshot_write_partitioned(df, td, spec=["g"])
    snapshot_write(
        spark.range(100, 110).selectExpr("id", "CAST(id % 4 AS string) AS g"),
        td,
        reuse_files=snapshot_files(td, v1),
    )
    v3 = snapshot_rollback(td, v1)
    got = snapshot_read(spark, td, v3).collect()
    assert len(got) == 40
    # hive partition column survives the rollback (layout metadata carried)
    assert all(r.g == str(r.id % 4) for r in got)


def test_rollback_missing_version_raises(spark, tmp_path):
    import pytest

    from flow_spark.operators.snapshots import snapshot_rollback

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).selectExpr("id AS k"), t)
    with pytest.raises(FileNotFoundError):
        snapshot_rollback(t, 7)


def test_bloom_index_never_misses_and_prunes(spark, tmp_path):
    """Conservative correctness: for EVERY present key, the candidate
    list contains every file that holds the key (a miss would silently
    drop rows); for clearly-absent keys most files are skipped (the
    index's reason to exist); point reads equal a full-scan filter."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_bloom_candidates,
        snapshot_build_bloom,
        snapshot_read,
        snapshot_read_point,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    # 8 files clustered on bucket; key column `u` is scattered mod 97
    df = spark.range(4000).select(
        (F.col("id") % 8).alias("bucket"),
        F.col("id").alias("rid"),
        (F.col("id") % 97).alias("u"),
    )
    v1 = snapshot_write_partitioned(df, t, spec=["bucket"])
    v2 = snapshot_build_bloom(spark, t, "u", bits=4096, k=3, version=v1)

    full = snapshot_read(spark, t, v2)
    # every present key: zero false negatives, row-for-row equality
    truth = {
        r.u: r.n for r in full.groupBy("u").agg(F.count("*").alias("n")).collect()
    }
    for key in (0, 13, 96):
        cands, total = snapshot_bloom_candidates(t, key, v2)
        assert total == 8
        got = snapshot_read_point(spark, t, key, v2)
        assert got.count() == truth[key]
        # keys mod 97 < 4000/8... every file holds every residue here, so
        # candidates must be ALL files (pruning would be a miss)
        assert len(cands) == 8
    # absent keys: (almost) everything pruned; reads come back empty
    pruned_counts = []
    for key in range(1000, 1040):
        cands, _ = snapshot_bloom_candidates(t, key, v2)
        pruned_counts.append(len(cands))
        if cands:
            assert snapshot_read_point(spark, t, key, v2).count() == 0
    assert sum(pruned_counts) <= 8 * len(pruned_counts) * 0.25  # >=75% skipped


def test_bloom_index_invalidated_by_later_write(spark, tmp_path):
    """A data commit after the index build produces a manifest WITHOUT
    the bloom key — stale filters must never prune files they were not
    built from."""
    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_bloom_candidates,
        snapshot_build_bloom,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).select(F.col("id").alias("u")), t)
    v2 = snapshot_build_bloom(spark, t, "u", bits=1024, k=3)
    assert snapshot_bloom_candidates(t, 5, v2)
    v3 = snapshot_write(spark.range(100, 200).select(F.col("id").alias("u")), t)
    with pytest.raises(ValueError, match="no bloom index"):
        snapshot_bloom_candidates(t, 5, v3)


def test_bloom_auto_size_and_saturation_rebuild(spark, tmp_path):
    """(a) bits='auto' picks the smallest power of two >= 10x the
    largest per-file distinct-key count; (b) an explicit size a file
    saturates (>50% bits set — it would admit nearly everything and
    prune nothing) is detected at build time and the index is rebuilt
    at the auto size rather than committed silently useless; (c) the
    rebuilt index still prunes absent keys and never misses present
    ones."""
    import base64
    import json as _json

    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _manifest_path,
        snapshot_bloom_candidates,
        snapshot_build_bloom,
        snapshot_read_point,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    # 4 files of 1000 rows each; `u` has 1000 distinct values per file
    df = spark.range(4000).select(
        (F.col("id") % 4).alias("bucket"),
        F.col("id").alias("u"),
    )
    v1 = snapshot_write_partitioned(df, t, spec=["bucket"])

    def bloom_meta(v):
        with open(_manifest_path(t, v)) as fh:
            return _json.load(fh)["bloom"]

    # (a) auto: max per-file ndv = 1000 -> need 10000 -> 16384 bits
    v2 = snapshot_build_bloom(spark, t, "u", bits="auto", k=3, version=v1)
    meta = bloom_meta(v2)
    assert meta["bits"] == 16384
    # every filter comfortably under half full
    for b64 in meta["filters"].values():
        assert (
            int.from_bytes(base64.b64decode(b64), "big").bit_count() * 2
            < meta["bits"]
        )

    # (b) explicit 1024 bits vs 1000 keys/file would saturate (~95%
    # fill): the build must come back auto-sized, not 1024
    v3 = snapshot_build_bloom(spark, t, "u", bits=1024, k=3, version=v2)
    meta3 = bloom_meta(v3)
    assert meta3["bits"] == 16384

    # (c) rebuilt index: absent key prunes every file, present key is
    # never missed and the point read returns its rows
    cands, total = snapshot_bloom_candidates(t, 10_000_000, v3)
    assert total == 4 and len(cands) == 0
    cands, _ = snapshot_bloom_candidates(t, 7, v3)
    assert len(cands) >= 1
    assert snapshot_read_point(spark, t, 7, v3).count() == 1


def test_bloom_probe_matches_executor_hash(spark, tmp_path):
    """The driver-side Python probe and the executor-side expression must
    set exactly the same bits (md5 portability contract)."""
    from pyspark.sql import functions as F

    from flow_spark.functions.hashing import portable_hash64
    from flow_spark.operators.dedup import MH_P, mh_coeffs
    from flow_spark.operators.snapshots import bloom_probe_positions

    bits, k = 4096, 3
    vals = [0, 1, 7, 96, 12345, 999999999]
    h = portable_hash64(F.col("v").cast("string")) % MH_P
    cols = []
    for i in range(k):
        a, b = mh_coeffs(i)
        cols.append(((F.lit(a) * h + F.lit(b)) % MH_P % bits).alias(f"p{i}"))
    rows = (
        spark.createDataFrame([(v,) for v in vals], ["v"])
        .select("v", *cols)
        .collect()
    )
    for r in rows:
        assert [r.p0, r.p1, r.p2] == bloom_probe_positions(r.v, bits, k), r.v


def test_upsert_prunes_with_bloom_index(spark, tmp_path):
    """MERGE on a bloom-indexed version: files whose filters prove every
    batch key absent are never candidates (the scattered-key case where
    [min, max] stats prune nothing), semantics identical to an unpruned
    MERGE, and the committed version drops the now-stale index."""
    import json as _json

    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _bloom_prune_candidates,
        _manifest_path,
        snapshot_build_bloom,
        snapshot_files,
        snapshot_read,
        snapshot_upsert,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    # 8 files clustered on bucket; u is the scattered merge key
    base = spark.range(800).select(
        (F.col("id") % 8).alias("bucket"),
        F.col("id").alias("u"),
        (F.col("id") * 3).alias("val"),
    )
    v1 = snapshot_write_partitioned(base, t, spec=["bucket"])
    v2 = snapshot_build_bloom(spark, t, "u", bits=65536, k=3, version=v1)
    with open(_manifest_path(t, v2)) as fh:
        m2 = _json.load(fh)

    # keys 5 and 13 live in buckets 5 and 5? (id%8: 5 -> bucket 5,
    # 13 -> bucket 5) — pick keys in two different buckets instead
    keys = [5, 14]  # buckets 5 and 6
    cands = _bloom_prune_candidates(m2["bloom"], m2["files"], keys)
    assert len(cands) <= 3  # 2 true files + at most 1 false positive
    truefiles = {f for f in m2["files"] if "bucket=5" in f or "bucket=6" in f}
    assert truefiles <= set(cands)  # never prune a file holding a key

    batch = spark.createDataFrame(
        [(5, 5, -100), (6, 14, -200), (0, 801, -300)],
        ["bucket", "u", "val"],
    )
    v3 = snapshot_upsert(spark, batch, t, key_col="u")
    got = {
        r.u: r.val
        for r in snapshot_read(spark, t, v3).filter(
            F.col("u").isin(5, 14, 801, 6, 22)
        ).collect()
    }
    assert got[5] == -100 and got[14] == -200 and got[801] == -300
    assert got[6] == 18 and got[22] == 66  # untouched neighbors survive
    assert snapshot_read(spark, t, v3).count() == 801
    # untouched files reused by reference; stale bloom dropped
    reused = set(snapshot_files(t, v2)) & set(snapshot_files(t, v3))
    assert len(reused) >= 5  # at least the 5 never-candidate buckets
    with open(_manifest_path(t, v3)) as fh:
        assert "bloom" not in _json.load(fh)


def test_bloom_incremental_rebuild_inherits_shared_files(spark, tmp_path):
    """Re-indexing after a MERGE must scan ONLY files not indexed
    before: filters of shared (immutable) files are inherited from the
    prior index version.  Proven by tampering one shared file's stored
    filter — a rescan would recompute it, inheritance carries the
    tampered bytes verbatim — while new files get real filters."""
    import base64
    import json as _json

    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _manifest_path,
        snapshot_build_bloom,
        snapshot_files,
        snapshot_upsert,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(800).select(
        (F.col("id") % 8).alias("bucket"),
        F.col("id").alias("u"),
        (F.col("id") * 3).alias("val"),
    )
    v1 = snapshot_write_partitioned(base, t, spec=["bucket"])
    v2 = snapshot_build_bloom(spark, t, "u", bits=65536, k=3, version=v1)
    batch = spark.createDataFrame([(5, 5, -1), (0, 900, -2)], ["bucket", "u", "val"])
    v3 = snapshot_upsert(spark, batch, t, key_col="u")

    shared = sorted(set(snapshot_files(t, v2)) & set(snapshot_files(t, v3)))
    new_files = sorted(set(snapshot_files(t, v3)) - set(snapshot_files(t, v2)))
    assert shared and new_files
    # tamper one shared file's stored filter in the v2 manifest
    mp2 = _manifest_path(t, v2)
    with open(mp2) as fh:
        m2 = _json.load(fh)
    tampered = base64.b64encode(bytes([0xFF] * (65536 // 8))).decode("ascii")
    f0 = shared[0]
    orig_other = {f: m2["bloom"]["filters"][f] for f in shared[1:]}
    m2["bloom"]["filters"][f0] = tampered
    with open(mp2, "w") as fh:
        _json.dump(m2, fh)

    v4 = snapshot_build_bloom(spark, t, "u", bits=65536, k=3, version=v3)
    with open(_manifest_path(t, v4)) as fh:
        m4 = _json.load(fh)
    assert m4["bloom"]["filters"][f0] == tampered  # inherited, not rescanned
    for f, b64 in orig_other.items():
        assert m4["bloom"]["filters"][f] == b64
    for f in new_files:
        assert f in m4["bloom"]["filters"]
        assert m4["bloom"]["filters"][f] != tampered


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """DELETE via deletion vectors: rows disappear from reads while no
    data file is rewritten; deletes accumulate and are idempotent; old
    versions still see the rows (time travel unaffected)."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        t,
    )
    v2 = snapshot_delete(spark, t, "k % 10 = 3")
    assert snapshot_files(t, v2) == snapshot_files(t, v1)  # zero rewrite
    live = sorted(r.k for r in snapshot_read(spark, t, v2).collect())
    assert live == [k for k in range(100) if k % 10 != 3]
    # time travel: v1 still complete
    assert snapshot_read(spark, t, v1).count() == 100
    # cumulative + overlapping (idempotent) second delete
    v3 = snapshot_delete(spark, t, "k % 10 IN (3, 7)")
    live3 = sorted(r.k for r in snapshot_read(spark, t, v3).collect())
    assert live3 == [k for k in range(100) if k % 10 not in (3, 7)]
    assert snapshot_files(t, v3) == snapshot_files(t, v1)


def test_deletion_vectors_survive_merge_and_compaction(spark, tmp_path):
    """A MERGE after a delete must not resurrect deleted rows: survivors
    are scanned DV-filtered, untouched files keep their vectors, and
    compaction physically drops the rows from rewritten files."""
    import json as _json

    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _manifest_path,
        snapshot_compact,
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(4, "k")
    snapshot_write(df, t, stats_col="k")
    snapshot_delete(spark, t, "k IN (10, 11, 12)")
    # upsert key 11 (deleted) and 50 (live): 11 re-inserted by the batch,
    # 10/12 must stay gone even though their file may be rewritten
    batch = spark.createDataFrame([(11, -11), (50, -50)], ["k", "v"])
    v = snapshot_upsert(spark, batch, t, key_col="k")
    got = {r.k: r.v for r in snapshot_read(spark, t, v).collect()}
    assert 10 not in got and 12 not in got
    assert got[11] == -11 and got[50] == -50
    assert len(got) == 98  # 100 - 3 deleted + 1 re-inserted (11)
    # compaction: rewrites small files DV-filtered, result unchanged
    v2 = snapshot_compact(spark, t)
    got2 = {r.k: r.v for r in snapshot_read(spark, t, v2).collect()}
    assert got2 == got
    # fully-compacted manifest carries no stale vectors for new files
    with open(_manifest_path(t, v2)) as fh:
        m = _json.load(fh)
    if "dv_dirs" in m:  # only if some original file was kept
        assert m["files"]


def test_deletion_vectors_across_commit_paths(spark, tmp_path):
    """Each commit path carries the head's deletion vectors exactly when it
    keeps head files: a rollback past a delete brings the rows back; an
    append, a compaction and an incremental z-order pass after a delete
    keep them deleted; a full rewrite drops ``dv_dirs``, so vacuum
    reclaims the sidecar."""
    from flow_spark.operators.snapshots import (
        _read_manifest,
        snapshot_append,
        snapshot_compact,
        snapshot_delete,
        snapshot_optimize_zorder,
        snapshot_rollback,
        snapshot_vacuum,
    )

    t = str(tmp_path / "tbl")

    def rows(lo, hi):
        return spark.range(lo, hi, numPartitions=4).selectExpr(
            "CAST(id AS INT) AS k", "id * 3 AS v"
        )

    def keys():
        return sorted(r.k for r in snapshot_read(spark, t).collect())

    def dv_dirs():
        return _read_manifest(t, current_version(t)).get("dv_dirs")

    v1 = snapshot_write(rows(0, 100), t)
    snapshot_delete(spark, t, "k < 10")
    assert keys() == list(range(10, 100))
    snapshot_rollback(t, v1)
    assert keys() == list(range(100))
    assert not dv_dirs()

    snapshot_delete(spark, t, "k < 10")
    snapshot_append(rows(100, 110), t)
    assert keys() == list(range(10, 110)) and dv_dirs()
    # the appended files are the small ones: they are packed, the
    # deleted-from files are kept and keep their vectors
    big = max(os.path.getsize(f) for f in snapshot_files(t, current_version(t)))
    v = snapshot_compact(spark, t, target_bytes=big)
    assert v == current_version(t) and len(snapshot_files(t, v)) < 8
    assert keys() == list(range(10, 110)) and dv_dirs()

    snapshot_optimize_zorder(spark, t, "k", "v", target_rows_per_file=40)
    assert keys() == list(range(10, 110)) and not dv_dirs()
    snapshot_delete(spark, t, "k >= 100")
    snapshot_append(rows(200, 210), t)
    snapshot_optimize_zorder(
        spark, t, "k", "v", target_rows_per_file=40, incremental=True
    )
    expected = list(range(10, 100)) + list(range(200, 210))
    assert keys() == expected and dv_dirs()

    snapshot_write(snapshot_read(spark, t), t)
    assert keys() == expected and not dv_dirs()
    snapshot_vacuum(t, keep_versions=1, orphan_grace_seconds=0)
    assert os.listdir(os.path.join(t, "_dv")) == []
    assert keys() == expected


def test_rollback_past_drop_column_keeps_the_column_writable(spark, tmp_path):
    """A rollback takes the target's retired physical names, not the
    head's: a column the target still has must not count as retired, or
    every later write of it is refused."""
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_drop_column,
        snapshot_rollback,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.createDataFrame([(1, 10)], "k int, z int"), t)
    snapshot_drop_column(t, "z")
    snapshot_rollback(t, v1)
    snapshot_append(spark.createDataFrame([(2, 20)], "k int, z int"), t)
    assert sorted(tuple(r) for r in snapshot_read(spark, t).collect()) == [
        (1, 10),
        (2, 20),
    ]


def test_deletion_vectors_with_bloom_and_changes(spark, tmp_path):
    """DV composes with the rest of the layer: bloom index built AFTER a
    delete excludes deleted rows' keys; the changefeed between versions
    reflects the delete."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_bloom_candidates,
        snapshot_build_bloom,
        snapshot_delete,
        snapshot_read_point,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(2000).select((F.col("id") % 4).alias("b"),
                                 F.col("id").alias("k")).repartition(4, "b"),
        t,
    )
    snapshot_delete(spark, t, "k = 777")
    v = snapshot_build_bloom(spark, t, "k", bits=65536, k=3)
    # the deleted key's bits were never set -> pruned everywhere
    from flow_spark.operators.snapshots import snapshot_changes, snapshot_files

    cands, total = snapshot_bloom_candidates(t, 777, v)
    assert cands == [] and total == len(snapshot_files(t, v)) >= 2
    assert snapshot_read_point(spark, t, 776, v).count() == 1
    # the changefeed across the delete version reports exactly the delete
    changed = {
        (r.k, r.change_type)
        for r in snapshot_changes(spark, t, 1, 2, "k", ["b"]).collect()
    }
    assert changed == {(777, "delete")}


def test_write_constraints_validate_then_commit(spark, tmp_path):
    """CHECK constraints (Delta table constraints): a violating batch
    raises BEFORE the manifest commit — the table stays at its previous
    version and the rejected files are unreferenced orphans; NULL check
    results count as violations; a clean batch commits normally."""
    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        ConstraintViolation,
        current_version,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    good = spark.range(10).select(F.col("id").alias("k"), (F.col("id") + 1).alias("v"))
    v1 = snapshot_write(good, t, constraints=["k IS NOT NULL", "v > 0"])
    assert v1 == 1 and snapshot_read(spark, t).count() == 10

    bad = spark.createDataFrame([(11, 5), (12, -1), (None, 3)], "k long, v long")
    with pytest.raises(ConstraintViolation, match="v > 0"):
        snapshot_write(bad, t, constraints=["k IS NOT NULL", "v > 0"])
    # nothing became visible
    assert current_version(t) == 1
    assert snapshot_read(spark, t).count() == 10
    # NULL k: the IS NOT NULL check catches it; NULL v would too (null
    # check result = violation, not a three-valued pass)
    nullv = spark.createDataFrame([(13, None)], "k long, v long")
    with pytest.raises(ConstraintViolation, match="v > 0"):
        snapshot_write(nullv, t, constraints=["k IS NOT NULL", "v > 0"])


def test_streaming_cdc_with_deletes(spark, tmp_path):
    """Full CDC through upsert_sink(op_col=...): upserts and deletes in
    one stream, last-writer-wins across ops within a batch, final state
    == sequential application, and a full re-drain (fresh checkpoint,
    markers present) changes nothing (replay idempotence)."""
    import json as _json

    from flow_spark.operators.snapshots import snapshot_read
    from flow_spark.streaming.sinks import upsert_sink

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # (key, value, seq, op)
        [(1, 10, 1, "U"), (2, 20, 2, "U"), (3, 30, 3, "U")],
        [(2, 0, 4, "D"), (4, 40, 5, "U")],
        # same key updated then deleted in ONE batch: later seq wins
        [(1, 99, 6, "U"), (1, 0, 7, "D"), (5, 50, 8, "U")],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.jsonl", "w") as fh:
            for k, v, s, op in rows:
                fh.write(
                    _json.dumps({"k": k, "v": v, "seq": s, "op": op}) + "\n"
                )
    t = str(tmp_path / "tbl")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("k int, v int, seq int, op string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            upsert_sink(
                stream, t, "k", str(tmp_path / ckpt),
                order_col="seq", op_col="op",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain("ckpt1")
    final = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}
    assert final == {(3, 30), (4, 40), (5, 50)}  # 1 and 2 deleted
    # replay everything: batch markers gate re-application
    drain("ckpt2")
    again = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}
    assert again == final


def test_streaming_cdc_null_key_tombstone_rejected(spark, tmp_path):
    """A delete row with a NULL merge key is a malformed tombstone (it can
    never match a row) and must raise the same error as a NULL upsert key
    — not be silently dropped by collect_set (ADVICE r6)."""
    import json as _json

    import pytest
    from pyspark.errors import StreamingQueryException

    from flow_spark.streaming.sinks import upsert_sink

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b0.jsonl", "w") as fh:
        fh.write(_json.dumps({"k": 1, "v": 10, "seq": 1, "op": "U"}) + "\n")
        fh.write(_json.dumps({"k": None, "v": 0, "seq": 2, "op": "D"}) + "\n")
    stream = spark.readStream.schema("k int, v int, seq int, op string").json(
        str(src)
    )
    q = (
        upsert_sink(
            stream, str(tmp_path / "tbl"), "k", str(tmp_path / "ckpt"),
            order_col="seq", op_col="op",
        )
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="non-null"):
        q.awaitTermination(120)


def test_dv_vacuum_reclaims_unreferenced_sidecars(spark, tmp_path):
    """Vacuum reclaims DV sidecars once no kept manifest references them
    (and never while one does)."""
    import os

    from flow_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).selectExpr("id AS k"), t)
    snapshot_delete(spark, t, "k >= 5")
    snapshot_write(spark.range(100, 103).selectExpr("id AS k"), t)
    assert snapshot_read(spark, t, 2).count() == 5

    dvroot = os.path.join(t, "_dv")
    assert len(os.listdir(dvroot)) == 1
    # v2 (the DV version) still within retention: sidecar survives
    snapshot_vacuum(t, keep_versions=2, orphan_grace_seconds=0)
    assert len(os.listdir(dvroot)) == 1
    # retention shrinks to v3 only (no dv_dirs): sidecar reclaimed
    snapshot_vacuum(t, keep_versions=1, orphan_grace_seconds=0)
    assert os.listdir(dvroot) == []


def test_bloom_rejects_non_integral_key_and_sink_requires_order(spark, tmp_path):
    """Review-fix guards: (a) a bloom index on a double column would hash
    differently in the driver probe vs the executor ('1e+16' vs
    '1.0E16') and silently prune files containing the key — the build
    refuses; (b) op_col without order_col would resolve a same-batch
    update/delete collision arbitrarily — the sink refuses."""
    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import snapshot_build_bloom, snapshot_write
    from flow_spark.streaming.sinks import upsert_sink

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.5).alias("x")),
        t,
    )
    with pytest.raises(ValueError, match="integral/string"):
        snapshot_build_bloom(spark, t, "x", bits=1024, k=3)
    snapshot_build_bloom(spark, t, "k", bits=1024, k=3)  # integral: fine

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="op_col requires order_col"):
        upsert_sink(stream, t, "value", str(tmp_path / "ckpt"), op_col="op")


def test_column_mapping_rename_drop_merge(spark, tmp_path):
    """Delta-style column mapping: RENAME and DROP are metadata-only
    commits (same files, byte for byte); reads resolve old files via
    the logical->physical map; a MERGE after the rename writes new
    files with PHYSICAL names so the one table-wide map stays valid;
    stats_col follows the rename so MERGE pruning keeps working; time
    travel sees the historical schema; and a new logical column that
    would collide with a mapped physical name is refused."""
    import json as _json

    import pyarrow.parquet as _pq
    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _manifest_path,
        snapshot_drop_column,
        snapshot_files,
        snapshot_read,
        snapshot_rename_column,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("cents"),
        F.concat(F.lit("n"), F.col("id")).alias("note"),
    ).repartitionByRange(3, "k")
    v1 = snapshot_write(df, t, stats_col="k")

    # rename cents -> balance: same files, new logical schema
    v2 = snapshot_rename_column(t, "cents", "balance")
    assert snapshot_files(t, v1) == snapshot_files(t, v2)
    got = snapshot_read(spark, t, v2)
    assert set(got.columns) == {"k", "balance", "note"}
    assert got.filter("k = 7").select("balance").first()[0] == 70
    # time travel: the pre-rename version still reads the old name
    assert "cents" in snapshot_read(spark, t, v1).columns

    # MERGE after the rename: logical batch, physical files
    batch = spark.createDataFrame(
        [(7, 777, "x"), (200, 2000, "y")], "k long, balance long, note string"
    )
    v3 = snapshot_upsert(spark, batch, t, key_col="k")
    got3 = {r.k: r.balance for r in snapshot_read(spark, t, v3).collect()}
    assert got3[7] == 777 and got3[200] == 2000 and got3[8] == 80
    with open(_manifest_path(t, v3)) as fh:
        m3 = _json.load(fh)
    assert m3["column_mapping"] == {"balance": "cents"}
    new_files = sorted(set(m3["files"]) - set(snapshot_files(t, v2)))
    assert new_files
    for f in new_files:  # physical layout: still 'cents' on disk
        names = _pq.ParquetFile(f).schema_arrow.names
        assert "cents" in names and "balance" not in names

    # rename the MERGE key itself: stats_col follows, pruning-backed
    # MERGE keeps working under the new name
    v4 = snapshot_rename_column(t, "k", "id")
    with open(_manifest_path(t, v4)) as fh:
        assert _json.load(fh)["stats_col"] == "id"
    v5 = snapshot_upsert(
        spark,
        spark.createDataFrame([(7, 7777, "z")], "id long, balance long, note string"),
        t,
        key_col="id",
    )
    got5 = {r.id: r.balance for r in snapshot_read(spark, t, v5).collect()}
    assert got5[7] == 7777 and got5[8] == 80 and len(got5) == 101

    # drop: metadata-only, historical versions keep the column
    v6 = snapshot_drop_column(t, "note")
    assert set(snapshot_read(spark, t, v6).columns) == {"id", "balance"}
    assert "note" in snapshot_read(spark, t, v5).columns
    assert snapshot_files(t, v6) == snapshot_files(t, v5)

    # physical-name collision: a NEW logical 'cents' would collide with
    # balance's physical name in the files — refused
    clash = snapshot_read(spark, t, v6).withColumn("cents", F.lit(1))
    with pytest.raises(ValueError, match="collision"):
        snapshot_write(clash, t, reuse_files=None)


def test_shallow_clone_divergence_and_vacuum_safety(spark, tmp_path):
    """snapshot_clone: (a) the clone's v1 is the source's current
    content without copying a byte (identical file lists); (b) writes
    to each side diverge independently; (c) the CLONE's vacuum never
    reclaims borrowed source files even after the borrowing manifests
    age out (own-directory rule), while its own rewrite files are
    collected normally."""
    import os as _os

    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_clone,
        snapshot_files,
        snapshot_read,
        snapshot_upsert,
        snapshot_vacuum,
        snapshot_write,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    snapshot_write(
        spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        src,
        stats_col="k",
    )
    assert snapshot_clone(src, tgt) == 1
    assert snapshot_files(src, 1) == snapshot_files(tgt, 1)
    assert snapshot_read(spark, tgt).count() == 50

    # diverge both sides
    snapshot_upsert(
        spark, spark.createDataFrame([(7, 700)], "k long, v long"), tgt, "k"
    )
    snapshot_upsert(
        spark, spark.createDataFrame([(7, 999)], "k long, v long"), src, "k"
    )
    tv = {r.k: r.v for r in snapshot_read(spark, tgt).collect()}
    sv = {r.k: r.v for r in snapshot_read(spark, src).collect()}
    assert tv[7] == 700 and sv[7] == 999 and tv[8] == sv[8] == 16

    # age out every borrowing manifest on the clone; source files live
    borrowed = set(snapshot_files(tgt, 1))
    snapshot_upsert(
        spark, spark.createDataFrame([(9, 900)], "k long, v long"), tgt, "k"
    )
    stats = snapshot_vacuum(tgt, keep_versions=1, orphan_grace_seconds=3600)
    assert stats["versions_dropped"] >= 1
    for f in borrowed:
        assert _os.path.exists(f), "clone vacuum reclaimed a SOURCE file"
    assert snapshot_read(spark, src, 1).count() == 50  # source v1 intact


def test_column_mapping_survives_every_write_path(spark, tmp_path):
    """Every path that writes data files into a mapped table must write
    PHYSICAL names and carry the mapping through its commit, or reads
    NULL-fill the renamed column: compaction (partial rewrite), WAP
    stage/audit/publish, and streaming delete via DV.
    snapshot_optimize_zorder is the designated way OUT of mapping (full
    rewrite -> unmapped), and partition-spec evolution refuses a mapped
    table."""
    import json as _json

    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _manifest_path,
        snapshot_compact,
        snapshot_delete,
        snapshot_optimize_zorder,
        snapshot_publish,
        snapshot_read,
        snapshot_rename_column,
        snapshot_stage,
        snapshot_staged_read,
        snapshot_write,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("cents")
    ).repartition(6)
    snapshot_write(df, t, stats_col="k")
    snapshot_rename_column(t, "cents", "bal")

    def total(v=None):
        return snapshot_read(spark, t, v).agg(F.sum("bal")).first()[0]

    base_sum = sum(i * 3 for i in range(200))
    assert total() == base_sum

    # compaction: partial rewrite keeps the mapping, values intact
    v_c = snapshot_compact(spark, t, target_bytes=10**9, stats_col="k")
    with open(_manifest_path(t, v_c)) as fh:
        assert _json.load(fh)["column_mapping"] == {"bal": "cents"}
    assert total(v_c) == base_sum

    # merge-on-read delete: the DV anti-join sees the mapped column
    snapshot_delete(spark, t, F.col("bal") > 3 * 150)
    kept = sum(i * 3 for i in range(151))
    assert total() == kept

    # WAP: stage logical rows, audit sees logical names, publish keeps
    # the mapping and the appended rows read back correctly
    extra = spark.createDataFrame([(1000, 123), (1001, 456)], "k long, bal long")
    snapshot_stage(extra, t)
    audited = snapshot_staged_read(spark, t)
    assert set(audited.columns) == {"k", "bal"}
    assert audited.agg(F.sum("bal")).first()[0] == 579
    v_w = snapshot_publish(t)
    assert total(v_w) == kept + 579

    # partition-spec evolution refuses a mapped table...
    with pytest.raises(ValueError, match="column mapping"):
        snapshot_write_partitioned(
            snapshot_read(spark, t).withColumn("b", F.col("k") % 2),
            t,
            spec=["b"],
        )
    # ...and zorder is the way out: full rewrite -> unmapped
    v_z = snapshot_optimize_zorder(spark, t, "k", "bal")
    with open(_manifest_path(t, v_z)) as fh:
        assert "column_mapping" not in _json.load(fh)
    assert total(v_z) == kept + 579


def test_changefeed_across_rename_boundary(spark, tmp_path):
    """snapshot_changes between a pre-rename and a post-rename version:
    physical names are the stable column identity, so the diff comes
    back under the TO version's logical names with real old values —
    not NULLs (the from-side read resolves the renamed column through
    the TO mapping)."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_changes,
        snapshot_rename_column,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 5).alias("cents")),
        t,
        stats_col="k",
    )
    snapshot_rename_column(t, "cents", "bal")
    v3 = snapshot_upsert(
        spark,
        spark.createDataFrame([(3, 999), (100, 1)], "k long, bal long"),
        t,
        key_col="k",
    )
    rows = {
        r.k: (r.change_type, r.bal, r.old_bal)
        for r in snapshot_changes(
            spark, t, v1, v3, key_col="k", value_cols=["bal"], include_old=True
        ).collect()
    }
    assert rows == {
        3: ("update", 999, 15),  # old value REAL, under the new name
        100: ("insert", 1, None),
    }


def test_version_diff_across_rename_boundary(spark, tmp_path):
    """snapshot_diff spanning a RENAME compares real values in the TO
    version's vocabulary (physical identity), instead of failing on
    the old logical name."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_diff,
        snapshot_rename_column,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 5).alias("cents")),
        t,
        stats_col="k",
    )
    snapshot_rename_column(t, "cents", "bal")
    v3 = snapshot_upsert(
        spark, spark.createDataFrame([(2, 777)], "k long, bal long"), t, "k"
    )
    got = {
        r.k: (r.change, r.old["bal"] if r.old else None, r.new["bal"] if r.new else None)
        for r in snapshot_diff(spark, t, v1, v3, "k").collect()
    }
    assert got[2] == ("update", 10, 777)
    assert got[0] == ("unchanged", 0, 0)


def test_column_mapping_rejects_chained_names_and_prunes_stale(spark, tmp_path):
    """Review findings: (a) renaming a column TO another column's
    retired PHYSICAL name would build a chained mapping that
    withColumnsRenamed cascades into duplicate columns — refused;
    (b) renaming BACK to the physical name just drops the entry;
    (c) a full overwrite whose schema no longer carries the mapped
    logical column prunes the stale entry, so a later column reusing
    the retired physical name cannot be hijacked by the inverse
    rename."""
    import json as _json

    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _manifest_path,
        current_version,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(5).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("cents"),
            (F.col("id") % 2).alias("seg"),
        ),
        t,
    )
    snapshot_rename_column(t, "cents", "bal")
    # (a) 'cents' is bal's physical name: chaining refused
    with pytest.raises(ValueError, match="physical"):
        snapshot_rename_column(t, "seg", "cents")
    # (b) renaming bal back to cents drops the mapping entirely
    v = snapshot_rename_column(t, "bal", "cents")
    with open(_manifest_path(t, v)) as fh:
        assert not _json.load(fh).get("column_mapping")
    assert snapshot_read(spark, t).filter("k = 3").first()["cents"] == 6

    # (c) stale-entry pruning on full overwrite
    snapshot_rename_column(t, "cents", "bal")  # map again: {bal: cents}
    snapshot_write(  # full overwrite WITHOUT bal, reusing the name cents
        spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 9).alias("cents")),
        t,
    )
    cur = current_version(t)
    with open(_manifest_path(t, cur)) as fh:
        assert not _json.load(fh).get("column_mapping")
    got = snapshot_read(spark, t)
    assert set(got.columns) == {"k", "cents"}
    assert got.filter("k = 2").first()["cents"] == 18


def test_retired_physical_name_cannot_be_reintroduced(spark, tmp_path):
    """ADVICE r6 (medium): after rename(cents->balance) + drop(balance),
    reused files still physically carry 'cents' bytes.  A later commit
    introducing a NEW logical column named 'cents' while those files are
    referenced must be REFUSED (it would silently resolve the stale
    bytes as the new column); a full overwrite clears the tombstone and
    the name becomes usable again."""
    import json as _json

    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        _manifest_path,
        current_version,
        snapshot_drop_column,
        snapshot_files,
        snapshot_read,
        snapshot_rename_column,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("cents")
        ),
        t,
    )
    snapshot_rename_column(t, "cents", "balance")
    snapshot_drop_column(t, "balance")
    with open(_manifest_path(t, current_version(t))) as fh:
        assert _json.load(fh)["retired_physical"] == ["cents"]

    # appending a new logical 'cents' over the old files: refused
    old_files = snapshot_files(t, current_version(t))
    new = spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit(7).alias("cents")
    )
    with pytest.raises(ValueError, match="retired"):
        snapshot_write(new, t, reuse_files=old_files)
    # MERGE widening to 'cents' hits the same gate (upsert routes
    # through snapshot_write with reuse_files)
    with pytest.raises(ValueError):
        snapshot_upsert(spark, new, t, "k")

    # the narrowing-overwrite prune path retires too: remap, then
    # overwrite-with-reuse dropping the logical column
    t2 = str(tmp_path / "tbl2")
    snapshot_write(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("cents")
        ),
        t2,
    )
    snapshot_rename_column(t2, "cents", "balance")
    snapshot_write(  # narrows to k only, reusing the balance-carrying files
        spark.range(4, 6).select(F.col("id").alias("k")),
        t2,
        reuse_files=snapshot_files(t2, current_version(t2)),
    )
    with open(_manifest_path(t2, current_version(t2))) as fh:
        assert _json.load(fh)["retired_physical"] == ["cents"]

    # full overwrite references no old file: tombstone clears, the name
    # is safe again and reads see only the new bytes
    v = snapshot_write(
        spark.range(3).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("cents")
        ),
        t,
    )
    with open(_manifest_path(t, v)) as fh:
        assert "retired_physical" not in _json.load(fh)
    assert snapshot_read(spark, t).filter("k = 2").first()["cents"] == 200


def test_retired_physical_covers_unmapped_and_wap_paths(spark, tmp_path):
    """Review findings: (a) a NEVER-RENAMED column narrowed out with
    reuse_files hijacks identically (reads resolve parquet columns by
    name) — the tombstone must not depend on a mapping entry existing;
    (b) WAP publish inherits prev files and must apply the same
    refusal, not bypass it."""
    import pytest
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        current_version,
        snapshot_drop_column,
        snapshot_files,
        snapshot_publish,
        snapshot_read,
        snapshot_rename_column,
        snapshot_stage,
        snapshot_write,
    )

    # (a) unmapped narrowing
    t = str(tmp_path / "t_unmapped")
    snapshot_write(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("extra")
        ),
        t,
    )
    snapshot_write(  # narrow to k only, reusing the extra-carrying files
        spark.range(4, 6).select(F.col("id").alias("k")),
        t,
        reuse_files=snapshot_files(t, current_version(t)),
    )
    with pytest.raises(ValueError, match="retired"):
        snapshot_write(
            spark.range(6, 8).select(
                F.col("id").alias("k"), F.lit(9).alias("extra")
            ),
            t,
            reuse_files=snapshot_files(t, current_version(t)),
        )

    # (b) WAP publish bypass
    t2 = str(tmp_path / "t_wap")
    snapshot_write(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("cents")
        ),
        t2,
    )
    snapshot_rename_column(t2, "cents", "balance")
    snapshot_drop_column(t2, "balance")  # retired: cents
    snapshot_stage(
        spark.range(4, 6).select(
            F.col("id").alias("k"), F.lit(7).alias("cents")
        ),
        t2,
    )
    with pytest.raises(ValueError, match="retired"):
        snapshot_publish(t2)
    # a clean-named stage still publishes, and the tombstone carries
    snapshot_stage(
        spark.range(4, 6).select(
            F.col("id").alias("k"), F.lit(7).alias("cents2")
        ),
        t2,
    )
    v = snapshot_publish(t2)
    got = {
        (r.k, r.cents2)
        for r in snapshot_read(spark, t2, version=v).collect()
    }
    assert (4, 7) in got and (5, 7) in got
    import json as _json

    from flow_spark.operators.snapshots import _manifest_path

    with open(_manifest_path(t2, v)) as fh:
        assert _json.load(fh)["retired_physical"] == ["cents"]


def test_bloom_oversized_file_falls_back_to_positions_scan(spark, tmp_path, monkeypatch):
    """A file past the distinct-hash collection cap must not fail the
    build (review finding): it falls back to the executor-side
    positions aggregation — same filter bits, probes stay bit-exact."""
    from pyspark.sql import functions as F

    import flow_spark.operators.snapshots as S

    monkeypatch.setattr(S, "_BLOOM_H_CAP", 50)  # force the fallback
    t = str(tmp_path / "tbl")
    S.snapshot_write(
        spark.range(400).select(
            (F.col("id") % 2).alias("bucket"), F.col("id").alias("u")
        ).repartitionByRange(2, "u"),
        t,
    )
    v = S.snapshot_build_bloom(spark, t, "u", bits=8192, k=3)
    # the fallback actually produced a filter for every (oversized) file
    import json as _json

    with open(S._manifest_path(t, v)) as fh:
        meta = _json.load(fh)["bloom"]
    assert len(meta["filters"]) == 2
    # no-miss contract: every present key is admitted by its file(s)
    for key in (0, 123, 399):
        cands, total = S.snapshot_bloom_candidates(t, key, v)
        assert total == 2 and len(cands) >= 1
        assert S.snapshot_read_point(spark, t, key, v).count() == 1
    # an absent key is pruned in at least one file (the index does
    # SOMETHING; exact-zero would over-assert — FPs are allowed)
    pruned_any = any(
        len(S.snapshot_bloom_candidates(t, k, v)[0]) < 2
        for k in range(10_000_000, 10_000_005)
    )
    assert pruned_any
    # AUTO sizing with over-cap files: the truncated hash lists force
    # one exact distinct-hash count pass; bits resolve from the TRUE
    # counts (200/file -> 2048), not the truncation boundary
    import json as _json2

    v2 = S.snapshot_build_bloom(spark, t, "u", bits="auto", k=3, version=v)
    with open(S._manifest_path(t, v2)) as fh:
        assert _json2.load(fh)["bloom"]["bits"] == 2048
    for key in (0, 399):
        assert S.snapshot_read_point(spark, t, key, v2).count() == 1


# ---- optimistic transactions: append rebase + conflict classification ------


def test_snapshot_append_happy_path(spark, tmp_path):
    """Appends stack file-sharing versions with the exact-schema contract."""
    from flow_spark.operators.snapshots import snapshot_append

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5).selectExpr("id AS k"), t)
    v2 = snapshot_append(spark.range(5, 9).selectExpr("id AS k"), t)
    assert v2 == 2
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == list(
        range(9)
    )
    # v1's files are shared by reference, not copied
    assert set(snapshot_files(t, 1)) < set(snapshot_files(t, 2))
    import pytest

    with pytest.raises(ValueError, match="exact table schema"):
        snapshot_append(spark.range(3).selectExpr("id AS other"), t)


def test_snapshot_append_rebases_after_lost_race(spark, tmp_path, monkeypatch):
    """A competing commit between the append's plan and its commit must
    cost one manifest rebuild, not a data rewrite: the loser rebases on
    the winner's head and both versions' rows survive exactly once."""
    import flow_spark.operators.snapshots as snap

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).selectExpr("id AS k"), t)
    real_commit = snap._commit_manifest
    competitor_fired = {"n": 0}

    def racing_commit(manifest, final):
        # on the appender's FIRST commit attempt, sneak a competitor in
        if not competitor_fired["n"]:
            competitor_fired["n"] += 1
            monkeypatch.setattr(snap, "_commit_manifest", real_commit)
            snapshot_write(
                spark.range(100, 105).selectExpr("id AS k"),
                t,
                reuse_files=snapshot_files(t, 1),
            )
            monkeypatch.setattr(snap, "_commit_manifest", racing_commit)
        return real_commit(manifest, final)

    monkeypatch.setattr(snap, "_commit_manifest", racing_commit)
    v = snap.snapshot_append(spark.range(50, 53).selectExpr("id AS k"), t)
    monkeypatch.setattr(snap, "_commit_manifest", real_commit)
    assert v == 3  # competitor took v2; the append rebased to v3
    assert competitor_fired["n"] == 1
    got = sorted(r.k for r in snapshot_read(spark, t).collect())
    assert got == list(range(10)) + [50, 51, 52] + list(range(100, 105))


def test_snapshot_append_concurrent_threads(spark, tmp_path):
    """N true-concurrent appenders all succeed in some serial order:
    N new versions, every row exactly once (the fast-append guarantee)."""
    import threading

    from flow_spark.operators.snapshots import snapshot_append

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0).selectExpr("id AS k"), t)
    n, rows_each = 6, 20
    errs: list = []

    def appender(i: int) -> None:
        try:
            lo = 1000 * (i + 1)
            snapshot_append(
                spark.range(lo, lo + rows_each).selectExpr("id AS k"), t
            )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert current_version(t) == 1 + n
    got = sorted(r.k for r in snapshot_read(spark, t).collect())
    want = sorted(
        k for i in range(n) for k in range(1000 * (i + 1), 1000 * (i + 1) + rows_each)
    )
    assert got == want  # exactly once, no lost update


def test_snapshot_append_conflicts_on_metadata_change(
    spark, tmp_path, monkeypatch
):
    """If the race winner changed the SCHEMA, the loser's written files
    no longer match the table — rebase must refuse with SnapshotConflict
    instead of committing silently-wrong files."""
    import pytest

    import flow_spark.operators.snapshots as snap

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(4).selectExpr("id AS k"), t)
    real_commit = snap._commit_manifest
    fired = {"n": 0}

    def racing_commit(manifest, final):
        if not fired["n"]:
            fired["n"] += 1
            monkeypatch.setattr(snap, "_commit_manifest", real_commit)
            snapshot_write(  # schema change: k widens with a new column
                spark.range(4).selectExpr("id AS k", "id * 2 AS extra"), t
            )
            monkeypatch.setattr(snap, "_commit_manifest", racing_commit)
        return real_commit(manifest, final)

    monkeypatch.setattr(snap, "_commit_manifest", racing_commit)
    with pytest.raises(snap.SnapshotConflict, match="changed the table schema"):
        snap.snapshot_append(spark.range(9, 12).selectExpr("id AS k"), t)
    monkeypatch.setattr(snap, "_commit_manifest", real_commit)
    # the conflicting append left no committed version behind
    assert current_version(t) == 2


def test_snapshot_stats_agg_metadata_only(spark, tmp_path):
    """The fast path answers COUNT/MIN/MAX from footers with ZERO Spark
    jobs, and matches the real scan exactly."""
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_stats_agg,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(10, 50).repartition(4).selectExpr("id AS k"), t
    )
    snapshot_append(spark.range(500, 540).selectExpr("id AS k"), t)

    sc = spark.sparkContext
    sc.setJobGroup("statsagg_fast", "metadata-only probe")
    df = snapshot_stats_agg(spark, t, "k")
    sc.setJobGroup("statsagg_other", "collect")
    row = df.collect()[0]
    # building the answer launched no job in the probe group
    assert list(sc.statusTracker().getJobIdsForGroup("statsagg_fast")) == []
    assert (row.n_rows, row.mn, row.mx) == (80, 10, 539)


def test_snapshot_stats_agg_falls_back_under_deletes(spark, tmp_path):
    """Deletion vectors make footer counts wrong — the op must fall back
    to the scan and return the post-delete truth."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_stats_agg,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).selectExpr("id AS k"), t)
    snapshot_delete(spark, t, F.col("k") >= 90)
    row = snapshot_stats_agg(spark, t, "k").collect()[0]
    assert (row.n_rows, row.mn, row.mx) == (90, 0, 89)


def test_snapshot_append_txn_idempotent(spark, tmp_path):
    """A replayed (app, txn_version) append is skipped entirely — the
    marker rides in the same atomic manifest commit as the data, so
    there is no marker-vs-data crash window."""
    from flow_spark.operators.snapshots import snapshot_append

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5).selectExpr("id AS k"), t)
    batch = spark.range(10, 14).selectExpr("id AS k")
    v = snapshot_append(batch, t, txn_app="ingest", txn_version=7)
    assert v == 2
    # exact replay: same version returned, no new commit, no duplicates
    assert snapshot_append(batch, t, txn_app="ingest", txn_version=7) == 2
    # an OLDER txn version is also a replay (monotone batch ids)
    assert snapshot_append(batch, t, txn_app="ingest", txn_version=3) == 2
    assert current_version(t) == 2
    got = sorted(r.k for r in snapshot_read(spark, t).collect())
    assert got == [0, 1, 2, 3, 4, 10, 11, 12, 13]
    # a DIFFERENT app's txn 7 is independent
    v3 = snapshot_append(batch, t, txn_app="other", txn_version=7)
    assert v3 == 3


def test_snapshot_txn_markers_survive_interleaved_commits(spark, tmp_path):
    """The txn map is inherited by EVERY commit path (upsert, compact,
    plain write-with-reuse), so a replay arriving after unrelated
    commits is still detected."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_compact,
        snapshot_upsert,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).selectExpr("id AS k", "id AS val"), t)
    batch = spark.range(100, 104).selectExpr("id AS k", "id AS val")
    snapshot_append(batch, t, txn_app="ingest", txn_version=1)
    # unrelated writers move the table forward
    snapshot_upsert(
        spark, spark.range(3).selectExpr("id AS k", "id + 500 AS val"), t, "k"
    )
    snapshot_compact(spark, t, target_bytes=256 * 1024 * 1024)
    n_before = snapshot_read(spark, t).count()
    v_before = current_version(t)
    # the replay is STILL detected through the inherited marker chain
    assert (
        snapshot_append(batch, t, txn_app="ingest", txn_version=1) == v_before
    )
    assert snapshot_read(spark, t).count() == n_before


def test_append_sink_exactly_once_replay(spark, tmp_path):
    """append_sink_batch: re-delivery of a batch id
    (source-checkpoint crash replay) lands exactly one copy."""
    from flow_spark.streaming.sinks import append_sink_batch

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(0).selectExpr("id AS k"), t)
    handle = append_sink_batch(t)
    b0 = spark.range(100, 105).selectExpr("id AS k")
    b1 = spark.range(200, 203).selectExpr("id AS k")
    handle(b0, 0)
    handle(b1, 1)
    handle(b0, 0)  # crash replay of an already-committed batch
    handle(b1, 1)
    got = sorted(r.k for r in snapshot_read(spark, t).collect())
    assert got == [100, 101, 102, 103, 104, 200, 201, 202]


def test_persistent_constraints_enforced_on_all_writes(spark, tmp_path):
    """snapshot_set_constraints validates existing rows, then every
    later write path enforces the declaration (manifest inheritance)."""
    import pytest

    from flow_spark.operators.snapshots import (
        ConstraintViolation,
        snapshot_append,
        snapshot_compact,
        snapshot_set_constraints,
        snapshot_upsert,
        snapshot_write,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(1, 10).selectExpr("id AS k", "id AS val"), t)
    v = snapshot_set_constraints(spark, t, ["val > 0", "k IS NOT NULL"])
    assert v == 2
    # violating append refused, nothing committed
    with pytest.raises(ConstraintViolation):
        snapshot_append(
            spark.range(2).selectExpr("id AS k", "id - 5 AS val"), t
        )
    assert current_version(t) == 2
    # compact + upsert keep the declaration alive (inheritance)…
    snapshot_upsert(
        spark, spark.range(1, 3).selectExpr("id AS k", "id + 50 AS val"), t, "k"
    )
    snapshot_compact(spark, t, target_bytes=256 * 1024 * 1024)
    # …so a violating write AFTER them is still refused
    with pytest.raises(ConstraintViolation):
        snapshot_write(
            spark.range(1).selectExpr("id AS k", "id - 9 AS val"),
            t,
            reuse_files=snapshot_files(t, current_version(t)),
        )
    # a valid append passes
    snapshot_append(spark.range(20, 23).selectExpr("id AS k", "id AS val"), t)
    assert sorted(
        r.k for r in snapshot_read(spark, t).collect()
    ) == [1, 2, 3, 4, 5, 6, 7, 8, 9, 20, 21, 22]


def test_set_constraints_rejects_violating_table(spark, tmp_path):
    import pytest

    from flow_spark.operators.snapshots import (
        ConstraintViolation,
        snapshot_set_constraints,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5).selectExpr("id AS k", "id - 2 AS val"), t)
    with pytest.raises(ConstraintViolation, match="val > 0"):
        snapshot_set_constraints(spark, t, ["val > 0"])
    assert current_version(t) == 1  # no metadata commit happened


def test_drop_constraints_stops_enforcement(spark, tmp_path):
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_drop_constraints,
        snapshot_set_constraints,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(1, 4).selectExpr("id AS k", "id AS val"), t)
    snapshot_set_constraints(spark, t, ["val > 0"])
    snapshot_drop_constraints(t)
    v = snapshot_append(
        spark.range(1).selectExpr("id AS k", "id - 7 AS val"), t
    )
    assert v == current_version(t)  # negative val now admitted


def test_constraints_block_rename_drop_and_narrow(spark, tmp_path):
    """A rename/drop/narrow of a constrained column would wedge the
    table (every later write fails evaluating the stale expression) —
    all three are refused until the constraint is dropped."""
    import pytest

    from flow_spark.operators.snapshots import (
        snapshot_drop_column,
        snapshot_drop_constraints,
        snapshot_rename_column,
        snapshot_set_constraints,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(1, 6).selectExpr("id AS k", "id AS val"), t)
    snapshot_set_constraints(spark, t, ["val > 0"])
    with pytest.raises(ValueError, match="referenced by persistent"):
        snapshot_rename_column(t, "val", "balance")
    with pytest.raises(ValueError, match="referenced by persistent"):
        snapshot_drop_column(t, "val")
    with pytest.raises(ValueError, match="narrows out"):
        snapshot_write(
            spark.range(9, 11).selectExpr("id AS k"),
            t,
            reuse_files=snapshot_files(t, current_version(t)),
        )
    # unconstrained column stays renameable
    snapshot_rename_column(t, "k", "key")
    # after dropping the constraint, the rename goes through
    snapshot_drop_constraints(t)
    snapshot_rename_column(t, "val", "balance")


def test_constraints_enforced_on_partitioned_writes(spark, tmp_path):
    import pytest

    from flow_spark.operators.snapshots import (
        ConstraintViolation,
        snapshot_set_constraints,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(1, 9).selectExpr("id AS k", "id % 3 AS part"), t
    )
    snapshot_set_constraints(spark, t, ["k > 0"])
    with pytest.raises(ConstraintViolation):
        snapshot_write_partitioned(
            spark.range(-2, 2).selectExpr("id AS k", "id % 3 AS part"),
            t,
            ["part"],
        )
    v = snapshot_write_partitioned(
        spark.range(30, 34).selectExpr("id AS k", "id % 3 AS part"), t, ["part"]
    )
    assert v == current_version(t)


def test_tags_pin_versions_and_survive_vacuum(spark, tmp_path):
    """A tag is an immutable named ref: reads resolve it, vacuum never
    collects the version it pins, and dropping it releases the pin."""
    import pytest

    from flow_spark.operators.snapshots import (
        snapshot_drop_tag,
        snapshot_tag,
        snapshot_tags,
        snapshot_vacuum,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5).selectExpr("id AS k"), t)
    assert snapshot_tag(t, "train-v1") == 1
    snapshot_write(spark.range(100, 103).selectExpr("id AS k"), t)
    snapshot_write(spark.range(200, 204).selectExpr("id AS k"), t)
    # the tag still reads the PINNED version, not the head
    assert sorted(
        r.k for r in snapshot_read(spark, t, version="train-v1").collect()
    ) == list(range(5))
    # immutable: re-tagging requires an explicit drop
    with pytest.raises(ValueError, match="already pins"):
        snapshot_tag(t, "train-v1", 2)
    # vacuum with retention=1 keeps the tagged v1 alive (v2 goes)
    res = snapshot_vacuum(t, keep_versions=1, orphan_grace_seconds=0)
    assert res["versions_dropped"] >= 1
    assert sorted(
        r.k for r in snapshot_read(spark, t, version="train-v1").collect()
    ) == list(range(5))
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        open(os.path.join(t, "_manifests", "v2.json"))
    # dropping the tag releases the pin; the next vacuum reclaims v1
    assert snapshot_drop_tag(t, "train-v1") == 1
    snapshot_vacuum(t, keep_versions=1, orphan_grace_seconds=0)
    assert not os.path.exists(os.path.join(t, "_manifests", "v1.json"))
    assert snapshot_tags(t) == {}
    with pytest.raises(ValueError, match="no tag"):
        snapshot_read(spark, t, version="train-v1")


# ---- hidden partitioning (Iceberg transforms) -------------------------------


def test_hidden_partitioning_prunes_and_hides(spark, tmp_path):
    """year()/bucket() transform specs: the derived columns live only in
    paths (reads never show them), and predicates on the SOURCE columns
    prune files through the recorded transforms."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_read_hidden,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(1000).selectExpr(
        "id AS k",
        "cast(date_add(date '1995-01-01', cast(id % 1100 AS int)) AS "
        "timestamp) AS ts",
        "id * 7 AS val",
    )
    snapshot_write_partitioned(df, t, ["year(ts)", "bucket(4, k)"])
    # the table's logical schema has NO derived columns
    got = snapshot_read(spark, t)
    assert set(got.columns) == {"k", "ts", "val"}
    assert got.count() == 1000
    # point predicate on the SOURCES prunes to one (year, bucket) file
    k = 371
    ts = df.filter(F.col("k") == k).collect()[0].ts
    res, n_sel, n_tot = snapshot_read_hidden(
        spark, t, {"k": k, "ts": ts}
    )
    rows = res.collect()
    assert [(r.k, r.val) for r in rows] == [(k, k * 7)]
    # 1995..1998 years x 4 buckets = up to 16 dirs; the lookup reads 1
    assert n_sel == 1 and n_tot > 4
    # pruning is sound for EVERY key (no false file drops)
    import random

    rng = random.Random(7)
    for k in rng.sample(range(1000), 25):
        ts = df.filter(F.col("k") == k).collect()[0].ts
        res, n_sel, _ = snapshot_read_hidden(spark, t, {"k": k, "ts": ts})
        assert [r.k for r in res.collect()] == [k]
        assert n_sel == 1


def test_hidden_partitioning_spec_evolution(spark, tmp_path):
    """v1 partitions by year(ts); v2 evolves to (year, bucket) while
    reusing v1's files — v1 files prune on year only, v2 files on both,
    and a conflicting transform redefinition is refused."""
    import pytest

    from flow_spark.operators.snapshots import (
        snapshot_files,
        snapshot_read_hidden,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    early = spark.range(100).selectExpr(
        "id AS k",
        "cast(date_add(date '1995-06-01', cast(id % 300 AS int)) AS "
        "timestamp) AS ts",
    )
    late = spark.range(100, 200).selectExpr(
        "id AS k",
        "cast(date_add(date '1999-06-01', cast(id % 300 AS int)) AS "
        "timestamp) AS ts",
    )
    snapshot_write_partitioned(early, t, ["year(ts)"])
    snapshot_write_partitioned(
        late, t, ["year(ts)", "bucket(8, k)"], reuse_files=snapshot_files(t, 1)
    )
    res, n_sel, n_tot = snapshot_read_hidden(spark, t, {"k": 150})
    assert sorted(r.k for r in res.collect()) == [150]
    # v1's year files can't prune on k; v2's bucket files can
    assert 0 < n_sel < n_tot
    with pytest.raises(ValueError, match="already defined"):
        snapshot_write_partitioned(
            late, t, ["bucket(16, k)"], reuse_files=snapshot_files(t, 2)
        )


def test_truncate_transform_and_collisions(spark, tmp_path):
    import pytest

    from flow_spark.operators.snapshots import (
        snapshot_read_hidden,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(-50, 50).selectExpr("id AS k", "id * 3 AS val")
    snapshot_write_partitioned(df, t, ["truncate(20, k)"])
    res, n_sel, n_tot = snapshot_read_hidden(spark, t, {"k": -37})
    assert [r.val for r in res.collect()] == [-111]
    # floor-mod bins over [-50,50): -60,-40,-20,0,20,40 -> up to 6 dirs
    assert n_sel == 1 and 5 <= n_tot <= 6
    # a derived name colliding with a real column is refused
    bad = spark.range(5).selectExpr("id AS k", "id AS k_bucket")
    t2 = str(tmp_path / "tbl2")
    with pytest.raises(ValueError, match="collides"):
        snapshot_write_partitioned(bad, t2, ["bucket(4, k)"])


def test_incremental_zorder_rewrites_only_new_files(spark, tmp_path):
    """After a full clustering pass, an incremental pass rewrites ONLY
    the files appended since — clustered files are reused byte-
    identically — and a fully-clustered table is a no-op."""
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_optimize_zorder,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(2000)
        .selectExpr("id AS x", "(id * 37) % 2000 AS y")
        .repartition(4),
        t,
    )
    v2 = snapshot_optimize_zorder(spark, t, "x", "y", target_rows_per_file=500)
    clustered = set(snapshot_files(t, v2))
    # append unclustered data
    snapshot_append(
        spark.range(5000, 5400).selectExpr("id AS x", "id % 2000 AS y"), t
    )
    v4 = snapshot_optimize_zorder(
        spark, t, "x", "y", target_rows_per_file=500, incremental=True
    )
    files4 = set(snapshot_files(t, v4))
    assert clustered < files4  # every clustered file reused verbatim
    assert len(files4 - clustered) >= 1  # the append got its own layout
    got = sorted(r.x for r in snapshot_read(spark, t, v4).collect())
    assert got == list(range(2000)) + list(range(5000, 5400))
    # fully clustered -> no-op (no new version)
    assert (
        snapshot_optimize_zorder(
            spark, t, "x", "y", target_rows_per_file=500, incremental=True
        )
        == v4
    )
    # col_stats cover reused AND new files (pruning keeps working)
    from flow_spark.operators.snapshots import _manifest_path
    import json as _json

    with open(_manifest_path(t, v4)) as fh:
        m = _json.load(fh)
    assert set(m["col_stats"]["x"]) == files4
    assert set(m["clustered"]["files"]) == files4


def test_append_inherits_stats_col(spark, tmp_path):
    """An append without stats_col keeps the table's pruning index:
    the new manifest retains stats_col and gains entries for the
    appended files."""
    import json as _json

    from flow_spark.operators.snapshots import (
        _manifest_path,
        snapshot_append,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).selectExpr("id AS k"), t, stats_col="k")
    v = snapshot_append(
        spark.range(500, 520).coalesce(1).selectExpr("id AS k"), t
    )
    with open(_manifest_path(t, v)) as fh:
        m = _json.load(fh)
    assert m["stats_col"] == "k"
    new_files = sorted(set(m["files"]) - set(snapshot_files(t, 1)))
    assert len(new_files) == 1
    assert m["stats"][new_files[0]] == [500, 519]
    # v1's entries survived the append untouched
    assert all(f in m["stats"] for f in snapshot_files(t, 1))


def test_snapshot_append_under_column_mapping(spark, tmp_path):
    """Appends to a renamed table write PHYSICAL names into the new
    files (the table-wide mapping invariant), and reads come back
    logical."""
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_rename_column,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).selectExpr("id AS k", "id * 10 AS cents"), t)
    snapshot_rename_column(t, "cents", "balance")
    v = snapshot_append(
        spark.range(7, 9).selectExpr("id AS k", "id * 10 AS balance"), t
    )
    got = {r.k: r.balance for r in snapshot_read(spark, t, v).collect()}
    assert got == {0: 0, 1: 10, 2: 20, 7: 70, 8: 80}
    # the appended files physically carry the ORIGINAL name
    new_files = sorted(set(snapshot_files(t, v)) - set(snapshot_files(t, 2)))
    raw = spark.read.parquet(*new_files)
    assert "cents" in raw.columns and "balance" not in raw.columns


def test_hidden_pruning_survives_appends(spark, tmp_path):
    """The transform map inherits through appends: partitioned files
    still prune after a plain append lands on top (appended flat files
    simply stay candidates)."""
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_read_hidden,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(400).selectExpr("id AS k", "id * 3 AS val")
    snapshot_write_partitioned(df, t, ["bucket(4, k)"])
    snapshot_append(
        spark.range(1000, 1010).coalesce(1).selectExpr("id AS k", "id * 3 AS val"),
        t,
    )
    res, n_sel, n_tot = snapshot_read_hidden(spark, t, {"k": 123})
    assert [r.val for r in res.collect()] == [369]
    # 4 bucket files + 1 flat append file; pruning kept 1 bucket + the
    # unprunable flat file
    assert n_tot == 5 and n_sel == 2


# ---- right-to-be-forgotten purge (snapshot_purge_key) ----------------------


def test_purge_key_erases_across_all_versions(spark, tmp_path):
    """Purged keys disappear from EVERY committed version (time travel
    included); untouched rows, shared files, and the audit note survive;
    a second purge of the same keys is a no-op."""
    from flow_spark.operators.snapshots import snapshot_purge_key

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(20).selectExpr("id AS k", "id * 10 AS val"), t
    )
    v2 = snapshot_write(
        spark.range(20, 30).selectExpr("id AS k", "id * 10 AS val"),
        t,
        reuse_files=snapshot_files(t, v1),
    )
    res = snapshot_purge_key(spark, t, "k", [3, 7, 25])
    assert res["rows_purged"] == 3
    assert res["files_rewritten"] >= 1
    assert sorted(res["versions_rewritten"]) == [v1, v2]
    got_v1 = sorted(r.k for r in snapshot_read(spark, t, v1).collect())
    assert got_v1 == [k for k in range(20) if k not in (3, 7)]
    got_v2 = {r.k: r.val for r in snapshot_read(spark, t, v2).collect()}
    assert sorted(got_v2) == [k for k in range(30) if k not in (3, 7, 25)]
    assert all(got_v2[k] == k * 10 for k in got_v2)
    with open(os.path.join(t, "_manifests", f"v{v1}.json")) as fh:
        m = json.load(fh)
    assert m["purged"][0]["key_col"] == "k"
    res2 = snapshot_purge_key(spark, t, "k", [3, 7, 25])
    assert res2["files_rewritten"] == 0 and res2["rows_purged"] == 0


def test_purge_key_remaps_deletion_vectors(spark, tmp_path):
    """A purge BEFORE a DV'd row shifts row indexes: the per-version
    vector must be re-pointed, so the DV'd row stays hidden at its
    version and visible before it."""
    from flow_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_purge_key,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(10).repartition(1).selectExpr("id AS k", "id * 2 AS val"),
        t,
    )
    v2 = snapshot_delete(spark, t, "k IN (2, 5)")
    res = snapshot_purge_key(spark, t, "k", [0, 8])
    assert res["rows_purged"] == 2
    # v1 never had the DV: only the purge applies
    assert sorted(r.k for r in snapshot_read(spark, t, v1).collect()) == [
        1, 2, 3, 4, 5, 6, 7, 9,
    ]
    # v2 hides the DV'd rows too — indexes shifted by the purge of k=0
    assert sorted(r.k for r in snapshot_read(spark, t, v2).collect()) == [
        1, 3, 4, 6, 7, 9,
    ]


def test_purge_key_through_rename_and_vacuum_erases_bytes(spark, tmp_path):
    """Purging by the NEW logical name reaches pre-rename files through
    the column mapping, and purge + vacuum physically deletes the old
    bytes even though siblings in the same write dir stay live."""
    from flow_spark.operators.snapshots import (
        snapshot_purge_key,
        snapshot_rename_column,
        snapshot_vacuum,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(8).repartition(2, "id").selectExpr(
            "id AS k", "id * 100 AS val"
        ),
        t,
    )
    snapshot_rename_column(t, "k", "user_id")
    v3 = snapshot_write(
        spark.range(100, 104).selectExpr("id AS user_id", "id * 100 AS val"),
        t,
        reuse_files=snapshot_files(t, current_version(t)),
    )
    old_files = set(snapshot_files(t, v1))
    res = snapshot_purge_key(spark, t, "user_id", [5])
    assert res["rows_purged"] == 1
    # v1 predates the rename: its declared name is still k
    assert sorted(r.k for r in snapshot_read(spark, t, v1).collect()) == [
        0, 1, 2, 3, 4, 6, 7,
    ]
    assert sorted(
        r.user_id for r in snapshot_read(spark, t, v3).collect()
    ) == [0, 1, 2, 3, 4, 6, 7, 100, 101, 102, 103]
    rewritten = old_files - set(snapshot_files(t, v1))
    assert len(rewritten) == 1
    old_path = next(iter(rewritten))
    assert os.path.exists(old_path)  # bytes linger until vacuum
    out = snapshot_vacuum(
        t, keep_versions=current_version(t), orphan_grace_seconds=0
    )
    assert not os.path.exists(old_path)
    assert out["files_deleted"] >= 1
    # every version still reads clean after the sweep
    assert sorted(r.k for r in snapshot_read(spark, t, v1).collect()) == [
        0, 1, 2, 3, 4, 6, 7,
    ]


def test_purge_key_partitioned_files_keep_partition_columns(spark, tmp_path):
    """Rewriting a hive-partitioned file moves its path-borne partition
    values into the payload; reads of every version keep the column."""
    from flow_spark.operators.snapshots import (
        snapshot_purge_key,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(12).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS bucket3", "id * 7 AS val"
    )
    v1 = snapshot_write_partitioned(df, t, ["bucket3"])
    res = snapshot_purge_key(spark, t, "k", [4, 9])
    assert res["rows_purged"] == 2
    got = {
        r.k: (r.bucket3, r.val)
        for r in snapshot_read(spark, t, v1).collect()
    }
    assert sorted(got) == [k for k in range(12) if k not in (4, 9)]
    assert all(got[k] == (k % 3, k * 7) for k in got)


def test_purge_key_keeps_bloom_and_zorder_metadata_safe(spark, tmp_path):
    """Purging a file indexed by bloom/col_stats/clustered markers drops
    only THAT file's entries (missing entry = always-candidate), so
    point lookups stay correct and untouched files keep pruning."""
    from flow_spark.operators.snapshots import (
        snapshot_bloom_candidates,
        snapshot_build_bloom,
        snapshot_optimize_zorder,
        snapshot_purge_key,
        snapshot_read_point,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(2000).selectExpr(
        "CAST(id % 50 AS BIGINT) AS x", "CAST(id DIV 50 AS BIGINT) AS y",
        "id AS k",
    )
    snapshot_write(df, t)
    # shift=0: the small x/y domains occupy only the low Morton bits,
    # so the default shift would collapse everything into one bucket
    snapshot_optimize_zorder(spark, t, "x", "y", shift=0, target_rows_per_file=500)
    v_bloom = snapshot_build_bloom(spark, t, "k")
    res = snapshot_purge_key(spark, t, "k", [7, 1333])
    # 2 subjects x 2 physical copies (v1's original files + the zorder
    # rewrite's clustered files): rows_purged counts physical rows
    assert res["rows_purged"] == 4
    head = current_version(t)
    with open(os.path.join(t, "_manifests", f"v{head}.json")) as fh:
        m = json.load(fh)
    live = set(m["files"])
    # bloom filters reference only live files; rewritten files have no
    # entry (always-candidate), untouched files keep theirs
    assert set(m["bloom"]["filters"]) <= live
    for col, per in (m.get("col_stats") or {}).items():
        assert set(per) <= live
    assert set((m.get("clustered") or {}).get("files", [])) <= live
    # point lookup through the weakened index still exact
    got = snapshot_read_point(spark, t, 1333, v_bloom)
    assert got.collect() == []
    got2 = snapshot_read_point(spark, t, 55, v_bloom)
    assert [r.k for r in got2.collect()] == [55]
    # untouched files still prune: some file is skippable for a key
    # that lives in a rewritten file's range
    cands, total = snapshot_bloom_candidates(t, 55, v_bloom)
    assert total > 2  # several clustered files, not all rewritten
    assert len(cands) < total


def test_purge_key_drops_fully_purged_files(spark, tmp_path):
    """A file whose EVERY row is a purged subject drops out of each
    version's manifest (no empty file left behind) and reads stay
    consistent."""
    from flow_spark.operators.snapshots import snapshot_files, snapshot_purge_key

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(10).repartition(2, "id").selectExpr("id AS k"), t
    )
    by_file = {}
    import pyarrow.parquet as pq

    for f in snapshot_files(t, v1):
        by_file[f] = sorted(
            pq.read_table(f, columns=["k"]).column("k").to_pylist()
        )
    victim, victim_keys = next(iter(sorted(by_file.items())))
    res = snapshot_purge_key(spark, t, "k", victim_keys)
    assert res["rows_purged"] == len(victim_keys)
    files_now = snapshot_files(t, v1)
    assert victim not in files_now
    assert len(files_now) == len(by_file) - 1
    survivors = sorted(r.k for r in snapshot_read(spark, t, v1).collect())
    assert survivors == sorted(set(range(10)) - set(victim_keys))


def test_purge_of_clone_leaves_source_untouched(spark, tmp_path):
    """A shallow clone purges independently: rewritten survivors land
    under the CLONE's directory, the clone's manifests stop referencing
    the shared source files, and the source table still serves every
    row (each table owns its own erasure)."""
    from flow_spark.operators.snapshots import (
        _read_manifest,
        snapshot_clone,
        snapshot_files,
        snapshot_purge_key,
    )

    src = str(tmp_path / "src")
    clone = str(tmp_path / "clone")
    snapshot_write(spark.range(12).selectExpr("id AS k", "id * 5 AS val"), src)
    snapshot_clone(src, clone)
    res = snapshot_purge_key(spark, clone, "k", [4, 9])
    assert res["rows_purged"] == 2
    # clone no longer serves the subjects; source still does
    assert sorted(r.k for r in snapshot_read(spark, clone).collect()) == [
        k for k in range(12) if k not in (4, 9)
    ]
    assert sorted(r.k for r in snapshot_read(spark, src).collect()) == list(
        range(12)
    )
    # the clone's rewritten files live under the clone, not the source
    for f in snapshot_files(clone, current_version(clone)):
        assert not os.path.realpath(f).startswith(os.path.realpath(src) + os.sep) or (
            f in set(snapshot_files(src, current_version(src)))
        )
    # the purge audit note lands in the clone's manifests only
    def purges(t):
        return [
            len(_read_manifest(t, v).get("purged") or [])
            for v in range(1, current_version(t) + 1)
        ]

    assert any(n > 0 for n in purges(clone))
    assert all(n == 0 for n in purges(src))


def test_purge_key_dv_remap_multi_file_order(spark, tmp_path):
    """Many files, scattered DV deletes, scattered purge subjects: the
    remapped vectors must hit exactly the original deleted rows — this
    breaks if the rewrite perturbs physical row order in ANY file."""
    from flow_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_purge_key,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(1000).repartition(4, "id").selectExpr("id AS k"), t
    )
    v2 = snapshot_delete(spark, t, "k % 17 = 3")
    purged = [k for k in range(1000) if k % 13 == 7]
    res = snapshot_purge_key(spark, t, "k", purged)
    assert res["rows_purged"] == len(purged)
    expect_v1 = sorted(set(range(1000)) - set(purged))
    expect_v2 = [k for k in expect_v1 if k % 17 != 3]
    assert sorted(r.k for r in snapshot_read(spark, t, v1).collect()) == expect_v1
    assert sorted(r.k for r in snapshot_read(spark, t, v2).collect()) == expect_v2


def test_purge_key_detects_concurrent_commit(spark, tmp_path, monkeypatch):
    """A writer landing a version while the purge runs must surface as
    SnapshotConflict after the (still-consistent) republish."""
    from flow_spark.operators import snapshots as S

    t = str(tmp_path / "tbl")
    S.snapshot_write(spark.range(10).selectExpr("id AS k"), t)
    real = S.current_version
    calls = {"n": 0}

    def racing(table_dir):
        calls["n"] += 1
        v = real(table_dir)
        # second call is the post-republish check: simulate a racer
        return v + 1 if calls["n"] > 1 else v

    monkeypatch.setattr(S, "current_version", racing)
    import pytest as _pytest

    with _pytest.raises(S.SnapshotConflict):
        S.snapshot_purge_key(spark, t, "k", [3])


def test_purge_key_changefeed_stays_consistent(spark, tmp_path):
    """After a purge, the changefeed between two rewritten versions
    shows exactly the non-purged inserts — the shared-file pruning
    (only exclusive files are diffed) still holds because the purge
    replaces a shared file with the SAME new path in both manifests."""
    from flow_spark.operators.snapshots import (
        snapshot_changes,
        snapshot_purge_key,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(10).repartition(1).selectExpr("id AS k", "id * 2 AS val"),
        t,
    )
    v2 = snapshot_write(
        spark.range(10, 16).repartition(1).selectExpr("id AS k", "id * 2 AS val"),
        t,
        reuse_files=snapshot_files(t, v1),
    )
    snapshot_purge_key(spark, t, "k", [3, 12])
    ch = snapshot_changes(spark, t, v1, v2, "k", ["val"]).collect()
    assert sorted((r.k, r.change_type) for r in ch) == [
        (k, "insert") for k in (10, 11, 13, 14, 15)
    ]


def test_purge_key_partitioned_on_the_key_itself(spark, tmp_path):
    """A table hive-partitioned ON the purge key stores it in the PATH
    — the payload scan can't see it; the driver-side partition-value
    check must catch those files and drop them whole."""
    from flow_spark.operators.snapshots import (
        snapshot_purge_key,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(40).selectExpr("CAST(id % 4 AS INT) AS region", "id AS k")
    v1 = snapshot_write_partitioned(df, t, ["region"])
    res = snapshot_purge_key(spark, t, "region", [2])
    assert res["rows_purged"] == 10
    assert res["files_dropped"] == 1 and res["files_rewritten"] == 0
    got = sorted((r.region, r.k) for r in snapshot_read(spark, t, v1).collect())
    assert got == sorted((k % 4, k) for k in range(40) if k % 4 != 2)


def test_purge_key_crash_mid_republish_rerun_completes(spark, tmp_path, monkeypatch):
    """A crash after SOME manifests republished leaves every version
    readable (old or new, both consistent); re-running the purge
    finishes the rest — the documented resume contract."""
    import flow_spark.operators.snapshots as S

    t = str(tmp_path / "tbl")
    v1 = S.snapshot_write(
        spark.range(10).repartition(1).selectExpr("id AS k"), t
    )
    v2 = S.snapshot_write(
        spark.range(10, 20).repartition(1).selectExpr("id AS k"),
        t,
        reuse_files=S.snapshot_files(t, v1),
    )
    real_replace = os.replace
    calls = {"n": 0}

    def crashing_replace(src, dst):
        # let the v1 manifest republish land, then crash before v2's
        if dst.endswith("v2.json"):
            calls["n"] += 1
            raise OSError("simulated crash mid-republish")
        return real_replace(src, dst)

    monkeypatch.setattr(S.os, "replace", crashing_replace)
    import pytest as _pytest

    with _pytest.raises(OSError, match="simulated crash"):
        S.snapshot_purge_key(spark, t, "k", [3, 12])
    # partial state: v1 purged, v2 not — both still read consistently
    assert sorted(r.k for r in S.snapshot_read(spark, t, v1).collect()) == [
        k for k in range(10) if k != 3
    ]
    assert sorted(r.k for r in S.snapshot_read(spark, t, v2).collect()) == list(
        range(20)
    )
    monkeypatch.setattr(S.os, "replace", real_replace)
    res = S.snapshot_purge_key(spark, t, "k", [3, 12])
    assert res["rows_purged"] >= 1  # finishes the unreached versions
    assert sorted(r.k for r in S.snapshot_read(spark, t, v1).collect()) == [
        k for k in range(10) if k != 3
    ]
    assert sorted(r.k for r in S.snapshot_read(spark, t, v2).collect()) == [
        k for k in range(20) if k not in (3, 12)
    ]


def test_vacuum_dry_run_touches_nothing(spark, tmp_path):
    """dry_run computes the same counts as the real sweep and leaves
    every byte in place."""
    from flow_spark.operators.snapshots import snapshot_vacuum

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5).repartition(1).selectExpr("id AS k"), t)
    snapshot_write(spark.range(5, 9).repartition(1).selectExpr("id AS k"), t)
    snapshot_write(spark.range(9, 12).repartition(1).selectExpr("id AS k"), t)
    preview = snapshot_vacuum(
        t, keep_versions=1, orphan_grace_seconds=0, dry_run=True
    )
    # nothing moved: all versions still readable
    assert current_version(t) == 3
    assert sorted(r.k for r in snapshot_read(spark, t, 1).collect()) == list(
        range(5)
    )
    real = snapshot_vacuum(t, keep_versions=1, orphan_grace_seconds=0)
    assert preview == real
    assert sorted(r.k for r in snapshot_read(spark, t, 3).collect()) == [
        9, 10, 11,
    ]


def test_purge_key_preserves_string_partition_column_type(spark, tmp_path):
    """A numeric-looking STRING partition value ('1996') must stay a
    string through the purge rewrite: basePath reads type-INFER path
    columns, and writing the inferred int would break every later
    declared-schema read of the file."""
    from flow_spark.operators.snapshots import (
        snapshot_purge_key,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(20).selectExpr(
        "CAST(1990 + id % 2 AS STRING) AS oy", "id AS k"
    )
    v1 = snapshot_write_partitioned(df, t, ["oy"])
    res = snapshot_purge_key(spark, t, "k", [3, 8])
    assert res["rows_purged"] == 2
    got = snapshot_read(spark, t, v1)
    assert dict(got.dtypes)["oy"] == "string"
    rows = sorted((r.k, r.oy) for r in got.collect())
    assert rows == sorted(
        (k, str(1990 + k % 2)) for k in range(20) if k not in (3, 8)
    )


def test_hidden_year_pruning_before_year_1000(spark, tmp_path):
    """F.year() writes UNPADDED years ('987'); the driver-side pruning
    twin must match or the file is silently skipped."""
    import datetime

    from flow_spark.operators.snapshots import (
        snapshot_read_hidden,
        snapshot_write_partitioned,
    )

    t = str(tmp_path / "tbl")
    df = spark.sql(
        "SELECT DATE'0987-06-01' AS d, 1 AS k "
        "UNION ALL SELECT DATE'1987-06-01', 2"
    )
    snapshot_write_partitioned(df, t, ["year(d)"])
    # a pre-1000 java.sql.Date cannot even cross py4j: pass the ISO
    # string (the residual filter casts; the pruning twin sees the
    # same zero-padded '0987-...' form a date value would produce)
    res, n_sel, n_tot = snapshot_read_hidden(spark, t, {"d": "0987-06-01"})
    assert [r.k for r in res.collect()] == [1]
    assert n_sel == 1 and n_tot == 2


def test_purge_source_refuses_while_clones_exist(spark, tmp_path):
    """Erasure must reach every copy: a source purge names its
    registered clones and refuses until acknowledged."""
    from flow_spark.operators.snapshots import (
        snapshot_clone,
        snapshot_clones,
        snapshot_purge_key,
    )

    src = str(tmp_path / "src")
    clone = str(tmp_path / "clone")
    snapshot_write(spark.range(10).selectExpr("id AS k"), src)
    snapshot_clone(src, clone)
    assert snapshot_clones(src) == [clone]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="clone"):
        snapshot_purge_key(spark, src, "k", [4])
    # purge the clone first, then acknowledge on the source
    snapshot_purge_key(spark, clone, "k", [4])
    res = snapshot_purge_key(spark, src, "k", [4], acknowledge_clones=True)
    assert res["rows_purged"] == 1
    assert sorted(r.k for r in snapshot_read(spark, src).collect()) == [
        k for k in range(10) if k != 4
    ]
    assert sorted(r.k for r in snapshot_read(spark, clone).collect()) == [
        k for k in range(10) if k != 4
    ]


# ---- ADD COLUMN with initial default (snapshot_add_column) -----------------


def test_add_column_initial_default(spark, tmp_path):
    """Metadata-only ADD COLUMN: pre-existing rows read the default,
    post-add rows carry real values INCLUDING genuine NULLs, and time
    travel to the pre-add version sees the old schema."""
    from flow_spark.operators.snapshots import (
        snapshot_add_column,
        snapshot_append,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark.range(5).repartition(1).selectExpr("id AS k"), t
    )
    files_before = set(snapshot_files(t, v1))
    v2 = snapshot_add_column(t, "score", "bigint", default=7)
    assert set(snapshot_files(t, v2)) == files_before  # zero rewrite
    snapshot_append(
        spark.sql(
            "SELECT 100 AS k, 55 AS score UNION ALL "
            "SELECT 101, CAST(NULL AS BIGINT)"
        ).selectExpr("CAST(k AS BIGINT) AS k", "CAST(score AS BIGINT) AS score"),
        t,
    )
    got = {r.k: r.score for r in snapshot_read(spark, t).collect()}
    assert got == {0: 7, 1: 7, 2: 7, 3: 7, 4: 7, 100: 55, 101: None}
    # pre-add version: no such column
    assert snapshot_read(spark, t, v1).columns == ["k"]


def test_add_column_default_survives_compaction_and_purge(spark, tmp_path):
    """Rewrites behave correctly in both directions: compaction reads
    through the manifest and PHYSICALIZES the default; a purge copies
    footer schemas, so the rewritten pre-file stays in the fill set."""
    from flow_spark.operators.snapshots import (
        snapshot_add_column,
        snapshot_compact,
        snapshot_purge_key,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).repartition(2, "id").selectExpr("id AS k"), t)
    snapshot_add_column(t, "score", "bigint", default=3)
    res = snapshot_purge_key(spark, t, "k", [4])
    assert res["rows_purged"] == 1
    got = {r.k: r.score for r in snapshot_read(spark, t).collect()}
    assert got == {k: 3 for k in range(10) if k != 4}
    v = snapshot_compact(spark, t, target_bytes=1 << 30)
    got2 = {r.k: r.score for r in snapshot_read(spark, t, v).collect()}
    assert got2 == got
    # compacted files physically carry the column now
    import pyarrow.parquet as pq

    for f in snapshot_files(t, v):
        assert "score" in pq.read_schema(f).names


def test_add_column_follows_rename_and_drop(spark, tmp_path):
    """The fill is keyed by logical name: it follows RENAME and dies
    with DROP; re-adding a dropped (retired) name is refused."""
    from flow_spark.operators.snapshots import (
        snapshot_add_column,
        snapshot_drop_column,
        snapshot_rename_column,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(4).repartition(1).selectExpr("id AS k"), t)
    snapshot_add_column(t, "tier", "string", default="bronze")
    snapshot_rename_column(t, "tier", "level")
    got = {r.k: r.level for r in snapshot_read(spark, t).collect()}
    assert got == {k: "bronze" for k in range(4)}
    snapshot_drop_column(t, "level")
    assert snapshot_read(spark, t).columns == ["k"]
    import pytest as _pytest

    # the RETIRED name is the PHYSICAL one ('tier', still on disk in
    # any post-add files) — re-adding it is refused; 'level' was never
    # physical, so re-adding it is safe and starts fresh
    with _pytest.raises(ValueError, match="RETIRED"):
        snapshot_add_column(t, "tier", "string", default="x")
    snapshot_add_column(t, "level", "string", default="iron")
    got2 = {r.k: r.level for r in snapshot_read(spark, t).collect()}
    assert got2 == {k: "iron" for k in range(4)}
    with _pytest.raises(ValueError, match="already exists"):
        snapshot_add_column(t, "k", "bigint")
