"""Commit-log table format (sources/commitlog.py, r9): atomicity,
optimistic concurrency, time travel, replay ledger, vacuum, and the
streaming exactly-once proof."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from calorista_spark.sources.commitlog import (
    CommitConflictError,
    CommitLogStore,
    start_commitlog_cdc_merge,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_commit_read_and_time_travel(spark, tmp_path):
    store = CommitLogStore(str(tmp_path / "s"))
    assert store.latest_version() is None
    v1 = store.commit(_df(spark, [(1, "a"), (2, "b")]), expect_version=None)
    v2 = store.merge(spark, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    assert (v1, v2) == (1, 2)
    assert {(r.k, r.v) for r in store.read(spark).collect()} == {
        (1, "a"),
        (2, "B"),
        (3, "c"),
    }
    # time travel: v1 still reads exactly as committed
    assert {(r.k, r.v) for r in store.read(spark, version=1).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_crash_between_data_and_manifest_leaves_old_snapshot(spark, tmp_path):
    """The torn-write window of the overwrite fallback is gone: data
    written without a published manifest is invisible, the previous
    snapshot stays fully readable, and vacuum GCs the orphan."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_df(spark, [(1, "a")]), expect_version=None)
    # simulate the crash: data lands, manifest never publishes
    _df(spark, [(9, "ghost")]).write.parquet(
        os.path.join(store.data_dir, "orphan-token")
    )
    assert store.latest_version() == 1
    assert {(r.k, r.v) for r in store.read(spark).collect()} == {(1, "a")}
    deleted = store.vacuum(retention_seconds=0)
    assert any("orphan-token" in p for p in deleted)
    assert {(r.k, r.v) for r in store.read(spark).collect()} == {(1, "a")}


def test_vacuum_retention_spares_in_flight_writer(spark, tmp_path):
    """r10: an unlinked data dir inside the retention window is an
    in-flight writer as far as vacuum can tell — it must survive; once
    older than the window it is a crash orphan and is GC'd."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_df(spark, [(1, "a")]), expect_version=None)
    staged = os.path.join(store.data_dir, "inflight-token")
    _df(spark, [(9, "pending")]).write.parquet(staged)
    # inside the window: spared (default retention)
    deleted = store.vacuum()
    assert not any("inflight-token" in p for p in deleted)
    assert os.path.isdir(staged)
    # ...and the spared dir is still publishable: a commit that links a
    # manifest for it afterwards yields a readable snapshot
    # (simulate by re-checking the dir's files are intact)
    assert any(f.endswith(".parquet") for f in os.listdir(staged))
    # age it past the window: now it is an orphan and is GC'd
    old = time.time() - 3600
    os.utime(staged, (old, old))
    deleted = store.vacuum(retention_seconds=600)
    assert any("inflight-token" in p for p in deleted)
    assert not os.path.exists(staged)


def test_concurrent_writer_conflict_detected(spark, tmp_path):
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_df(spark, [(1, "a")]), expect_version=None)
    # writer A reads v1 and prepares; writer B commits v2 first
    store.commit(_df(spark, [(1, "B")]), expect_version=1)
    with pytest.raises(CommitConflictError):
        store.commit(_df(spark, [(1, "A")]), expect_version=1)
    # the losing writer changed nothing
    assert store.latest_version() == 2
    assert {(r.k, r.v) for r in store.read(spark).collect()} == {(1, "B")}
    # the race can also lose at the link itself (version published
    # between the parent check and the link): same typed error, and
    # the already-committed v3 is untouched
    from unittest import mock

    final = os.path.join(store.commits_dir, "v00000003.json")
    with open(final, "w") as fh:
        json.dump(dict(store.manifest_meta(2), version=3, parent=2), fh)
    with mock.patch.object(CommitLogStore, "latest_version", return_value=2):
        with pytest.raises(CommitConflictError, match="concurrently"):
            store.commit(_df(spark, [(1, "C")]), expect_version=2)
    assert store.latest_version() == 3
    assert {(r.k, r.v) for r in store.read(spark, version=3).collect()} == {
        (1, "B")
    }


def test_batch_ledger_skips_replays(spark, tmp_path):
    store = CommitLogStore(str(tmp_path / "s"))
    v1 = store.merge(spark, _df(spark, [(1, "a")]), ["k"], batch_id=0)
    v2 = store.merge(spark, _df(spark, [(2, "b")]), ["k"], batch_id=1)
    # checkpoint replay of batch 1 (and a late batch 0): no new commit
    assert store.merge(spark, _df(spark, [(2, "XX")]), ["k"], batch_id=1) == v2
    assert store.merge(spark, _df(spark, [(1, "XX")]), ["k"], batch_id=0) == v2
    assert (v1, v2) == (1, 2)
    assert {(r.k, r.v) for r in store.read(spark).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_empty_snapshot_roundtrip(spark, tmp_path):
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_df(spark, []), expect_version=None)
    out = store.read(spark)
    assert out.count() == 0 and out.columns == ["k", "v"]


def test_vacuum_expires_history_but_keeps_retained(spark, tmp_path):
    store = CommitLogStore(str(tmp_path / "s"))
    for i in range(4):
        store.merge(spark, _df(spark, [(i, f"v{i}")]), ["k"])
    store.vacuum(keep_versions=2)
    assert store.versions() == [3, 4]
    assert store.read(spark, version=3).count() == 3
    with pytest.raises(FileNotFoundError):
        store.manifest(1)
    assert store.read(spark).count() == 4


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "d string, k long, v string")


def test_partition_scoped_merge_carries_untouched_files(spark, tmp_path):
    """r10 (VERDICT r9 #1): MERGE on a partitioned store rewrites ONLY
    the touched partitions; untouched partitions' files appear in the
    new manifest by reference — identical paths, zero IO — and the
    merged table equals the full-snapshot merge semantics."""
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark,
        [(f"d{i}", k, f"{i}:{k}") for i in range(5) for k in range(3)],
    )
    v1 = store.commit(
        base, expect_version=None, partition_by="d", keys=["d", "k"]
    )
    batch = _pdf(spark, [("d2", 1, "UPDATED"), ("d2", 99, "INSERTED")])
    v2 = store.merge(spark, batch, ["d", "k"])
    m1, m2 = store.manifest(v1), store.manifest(v2)
    assert m1["partition_by"] == m2["partition_by"] == "d"
    assert m2["keys"] == ["d", "k"]
    # untouched partitions: same file paths, byte-identical by identity
    for d in ("d0", "d1", "d3", "d4"):
        assert m2["partitions"][d] == m1["partitions"][d]
    # touched partition: fully new files
    assert not set(m2["partitions"]["d2"]) & set(m1["partitions"]["d2"])
    # files list is exactly the union of the partition map
    assert sorted(m2["files"]) == sorted(
        f for fl in m2["partitions"].values() for f in fl
    )
    # merged semantics + time travel
    got = {(r.d, r.k, r.v) for r in store.read(spark).collect()}
    expected = {
        (f"d{i}", k, f"{i}:{k}") for i in range(5) for k in range(3)
    } - {("d2", 1, "2:1")} | {("d2", 1, "UPDATED"), ("d2", 99, "INSERTED")}
    assert got == expected
    assert store.read(spark, version=v1).count() == 15


def test_partition_scoped_cdc_and_unpartitioned_migration(spark, tmp_path):
    """merge_cdc prunes identically (a delete's partition value is in
    the batch), and merging with partition_by onto an unpartitioned
    store migrates the layout so the NEXT merge prunes."""
    # CDC on a partitioned store
    store = CommitLogStore(str(tmp_path / "cdc"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(4) for k in range(2)]
    )
    v1 = store.commit(
        base, expect_version=None, partition_by="d", keys=["d", "k"]
    )
    cdc = spark.createDataFrame(
        [("d1", 0, None, "delete"), ("d1", 5, "new", "upsert")],
        "d string, k long, v string, op string",
    )
    v2 = store.merge_cdc(spark, cdc, ["d", "k"])
    m1, m2 = store.manifest(v1), store.manifest(v2)
    for d in ("d0", "d2", "d3"):
        assert m2["partitions"][d] == m1["partitions"][d]
    got = {(r.d, r.k, r.v) for r in store.read(spark).collect()}
    assert ("d1", 0, "1:0") not in got and ("d1", 5, "new") in got
    assert len(got) == 8  # 8 base - 1 delete + 1 insert

    # migration: unpartitioned v1 → partitioned v2 → pruned v3
    mig = CommitLogStore(str(tmp_path / "mig"))
    mig.commit(base, expect_version=None)
    mig.merge(
        spark, _pdf(spark, [("d0", 9, "x")]), ["d", "k"], partition_by="d"
    )
    assert mig.manifest(2)["partition_by"] == "d"
    v3 = mig.merge(spark, _pdf(spark, [("d3", 9, "y")]), ["d", "k"])
    m2m, m3m = mig.manifest(2), mig.manifest(v3)
    for d in ("d0", "d1", "d2"):
        assert m3m["partitions"][d] == m2m["partitions"][d]
    assert mig.read(spark).count() == 10


def test_read_changes_classifies_and_suppresses_rewrites(spark, tmp_path):
    """r10 (VERDICT r9 #3): the batch CDF — inserts at v1, an update
    pre/post pair plus an insert at v2 (a re-sent identical row in the
    same touched partition is suppressed), a delete at v3; version
    ranges are (from, to]."""
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(3) for k in range(2)]
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    # v2: d1 gets one changed row, one identical re-send, one insert
    store.merge(
        spark,
        _pdf(spark, [("d1", 0, "CHANGED"), ("d1", 1, "1:1"), ("d1", 7, "NEW")]),
        ["d", "k"],
    )
    # v3: CDC delete of (d2, 0)
    store.merge_cdc(
        spark,
        spark.createDataFrame(
            [("d2", 0, None, "delete")], "d string, k long, v string, op string"
        ),
        ["d", "k"],
    )
    cdf = store.read_changes(spark, 0)
    rows = {
        (r.d, r.k, r.v, r._change_type, r._commit_version)
        for r in cdf.collect()
    }
    expected = {
        (f"d{i}", k, f"{i}:{k}", "insert", 1) for i in range(3) for k in range(2)
    } | {
        ("d1", 0, "1:0", "update_preimage", 2),
        ("d1", 0, "CHANGED", "update_postimage", 2),
        ("d1", 7, "NEW", "insert", 2),
        ("d2", 0, "2:0", "delete", 3),
    }
    assert rows == expected
    # range (1, 2]: only v2's changes; the identical re-send never shows
    mid = store.read_changes(spark, 1, 2)
    assert {(r.k, r._change_type) for r in mid.collect()} == {
        (0, "update_preimage"),
        (0, "update_postimage"),
        (7, "insert"),
    }
    # the driver-side mirror agrees exactly (same classification)
    from calorista_spark.sources.commitlog import _changes_between_py

    py_rows = {
        tuple(t) for t in _changes_between_py(store, 0, 3, None)
    }
    assert py_rows == rows


def test_streaming_cdf_resumes_from_checkpoint_mid_history(spark, tmp_path):
    """r10: the commitlog_changes streaming source — offsets are store
    versions; a second run from the same checkpoint emits ONLY the
    versions committed after the first run, and the union equals the
    batch CDF."""
    from calorista_spark.sources.commitlog import register_changes_source

    register_changes_source(spark)
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(3) for k in range(2)]
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    store.merge(spark, _pdf(spark, [("d0", 0, "V2")]), ["d", "k"])

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("commitlog_changes")
            .option("path", store.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = {
        (r.d, r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    }
    assert {t[4] for t in first} == {1, 2}

    # history advances: two more commits, then resume from checkpoint
    store.merge(spark, _pdf(spark, [("d1", 9, "V3")]), ["d", "k"])
    store.merge_cdc(
        spark,
        spark.createDataFrame(
            [("d2", 1, None, "delete")], "d string, k long, v string, op string"
        ),
        ["d", "k"],
    )
    drain()
    total = {
        (r.d, r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    }
    new = total - first
    assert {t[4] for t in new} == {3, 4}
    batch = {
        (r.d, r.k, r.v, r._change_type, r._commit_version)
        for r in store.read_changes(spark, 0).collect()
    }
    assert total == batch


def test_streaming_cdf_backfill_respects_file_budget(spark, tmp_path):
    """r12 (VERDICT r11 #6): reading a multi-commit history from v0
    with ``max_files_per_trigger`` progresses in MULTIPLE bounded
    micro-batches (per-batch changed-file count ≤ budget, except a
    single oversized commit which lands alone), and the union equals
    the batch CDF."""
    import json as _json

    from calorista_spark.sources.commitlog import register_changes_source

    register_changes_source(spark)
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(3) for k in range(2)]
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    for i in range(5):  # five single-partition merges
        store.merge(
            spark, _pdf(spark, [(f"d{i % 3}", 0, f"V{i}")]), ["d", "k"]
        )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def offset_ends() -> list[int]:
        # offset log: one file per micro-batch, ending at a version
        odir = os.path.join(ckpt, "offsets")
        ends = []
        if not os.path.isdir(odir):
            return ends
        for name in sorted(
            (n for n in os.listdir(odir) if n.isdigit()), key=int
        ):
            with open(os.path.join(odir, name)) as fh:
                last = fh.read().strip().splitlines()[-1]
            val = _json.loads(last)
            if isinstance(val, str):  # offsets may be double-encoded
                val = _json.loads(val)
            ends.append(val["version"])
        return ends

    # a CONTINUOUS trigger drains the backfill across several bounded
    # micro-batches in one run (availableNow commits one batch per
    # run for a simple stream reader — the budget still binds there,
    # just one batch per invocation)
    q = (
        spark.readStream.format("commitlog_changes")
        .option("path", store.path)
        .option("max_files_per_trigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    def committed_batches() -> int:
        cdir = os.path.join(ckpt, "commits")
        if not os.path.isdir(cdir):
            return 0
        return len([n for n in os.listdir(cdir) if n.isdigit()])

    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            ends = offset_ends()
            # the offset file for batch N lands BEFORE the batch is
            # processed; wait for the matching COMMIT too, or stopping
            # the query here can drop the final batch from the sink
            if (
                ends
                and ends[-1] >= store.latest_version()
                and committed_batches() >= len(ends)
            ):
                break
            time.sleep(0.5)
    finally:
        q.stop()
    ends = offset_ends()
    assert len(ends) > 1, f"backfill landed in one batch: {ends}"
    assert ends[-1] == store.latest_version()

    def diff_files(lo: int, hi: int) -> int:
        n = 0
        for v in range(lo + 1, hi + 1):
            m = store.manifest(v)
            mp = store.manifest(m["parent"]) if m.get("parent") else None
            if mp is None:
                n += len(m["files"])
                continue
            pdv, cdv = mp.get("dv", {}), m.get("dv", {})
            pid = {(f, pdv.get(f)) for f in mp["files"]}
            cid = {(f, cdv.get(f)) for f in m["files"]}
            n += len(pid - cid) + len(cid - pid)
        return n

    lo = 0
    for hi in ends:
        if hi == lo:
            continue
        assert diff_files(lo, hi) <= 2 or hi == lo + 1, (lo, hi, ends)
        lo = hi
    got = {
        (r.d, r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.d, r.k, r.v, r._change_type, r._commit_version)
        for r in store.read_changes(spark, 0).collect()
    }
    assert got == want


def test_streaming_cdc_restart_exactly_once(spark, tmp_path):
    """Crash ON the tombstone batch, restart from the checkpoint: the
    commit ledger (batch_id high-water) makes the replay a no-op and
    the final table equals the uninterrupted batch fold — with the
    audit trail (one commit per applied batch) visible in history."""
    root = str(tmp_path)
    feed = [
        spark.range(0, 60).select(
            F.col("id").alias("k"),
            F.col("id").cast("string").alias("v"),
            F.lit("upsert").alias("op"),
        ),
        spark.range(0, 20).select(
            (F.col("id") * 3).alias("k"),
            F.lit(None).cast("string").alias("v"),
            F.lit("delete").alias("op"),
        ),
        spark.range(60, 80).select(
            F.col("id").alias("k"),
            F.col("id").cast("string").alias("v"),
            F.lit("upsert").alias("op"),
        ),
    ]
    src = os.path.join(root, "src")
    os.makedirs(src)
    schema = feed[0].schema
    for i, f in enumerate(feed):
        d = os.path.join(src, f"f{i}")
        f.coalesce(1).write.parquet(d)
        t = time.time() - 10 + i
        for name in os.listdir(d):
            os.utime(os.path.join(d, name), (t, t))

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    flag = os.path.join(root, "bomb")
    open(flag, "w").close()

    def bomb(batch_id: int) -> None:
        if batch_id == 1 and os.path.exists(flag):
            os.unlink(flag)
            raise RuntimeError("injected failure on the delete batch")

    store_path = os.path.join(root, "store")
    ckpt = os.path.join(root, "ckpt")
    q = start_commitlog_cdc_merge(
        stream(), store_path, ["k"], ckpt, on_batch=bomb
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    # restart from the same checkpoint — batch 1 replays, then batch 2
    q2 = start_commitlog_cdc_merge(stream(), store_path, ["k"], ckpt)
    q2.awaitTermination()

    store = CommitLogStore(store_path)
    got = {(r.k, r.v) for r in store.read(spark).collect()}
    expected = {(k, str(k)) for k in range(80) if not (k < 60 and k % 3 == 0)}
    assert got == expected
    # ledger: batches 0..2 applied exactly once, in order
    applied = [store.manifest(v)["batch_id"] for v in store.versions()]
    assert applied == [0, 1, 2]
    assert store.last_batch_id() == 2


# -- r10: data skipping / compact / schema evolution --------------------------


def test_files_for_prunes_by_footer_stats(spark, tmp_path):
    """r10 data skipping: footer-lifted min/max stats in the manifest
    prune files a predicate provably can't match; read_where stays
    bit-identical to read().filter()."""
    store = CommitLogStore(str(tmp_path / "s"))
    df = (
        spark.range(0, 100)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.format_string("%03d", "id")).alias("v"),
        )
        .repartitionByRange(5, "k")
    )
    store.commit(df, expect_version=None)
    m = store.manifest(1)
    assert len(m["files"]) == 5
    # every file carries rows/bytes/col stats
    for f in m["files"]:
        st = m["stats"][f]
        assert st["rows"] > 0 and st["bytes"] > 0
        assert set(st["cols"]) == {"k", "v"}
        assert st["cols"]["k"]["nulls"] == 0
    # point lookup: one file; open range: one file; between: a middle slice
    assert len(store.files_for([("k", "==", 7)])) == 1
    assert len(store.files_for([("k", ">", 97)])) == 1
    assert len(store.files_for([("k", "<=", 0)])) == 1
    assert 1 <= len(store.files_for([("k", "between", (38, 42))])) <= 2
    assert len(store.files_for([("k", "in", [3, 96])])) == 2
    # string stats prune too (zero-padded so lexicographic == numeric)
    assert len(store.files_for([("v", "==", "v007")])) == 1
    # conjunction: contradictory ranges prune everything
    assert store.files_for([("k", ">", 90), ("k", "<", 5)]) == []
    # unknown-stats column: conservative, keeps all files
    assert len(store.files_for([("nope", "==", 1)])) == 5
    # read_where == read().filter() exactly, including the empty case
    for preds in (
        [("k", "between", (17, 63))],
        [("k", "==", 7), ("v", ">=", "v007")],
        [("k", ">", 1000)],
    ):
        from calorista_spark.sources.commitlog import _predicate_column
        from functools import reduce

        cond = reduce(
            lambda a, b: a & b, [_predicate_column(*p) for p in preds]
        )
        got = {(r.k, r.v) for r in store.read_where(spark, preds).collect()}
        want = {(r.k, r.v) for r in store.read(spark).filter(cond).collect()}
        assert got == want


def test_stats_temporal_kinds_never_cross_prune(spark, tmp_path):
    """Dates and timestamps carry a kind tag: a predicate of the WRONG
    temporal kind is incomparable and must not prune (a date-vs-midnight
    tie would otherwise misprune); the right kind prunes exactly."""
    import datetime as dt

    store = CommitLogStore(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1) + dt.timedelta(days=i), i) for i in range(40)],
        "d date, k long",
    ).repartitionByRange(4, "d")
    store.commit(df, expect_version=None)
    assert len(store.manifest(1)["files"]) == 4
    # date predicate on a date column: prunes to one file
    hits = store.files_for([("d", "==", dt.date(2024, 1, 5))])
    assert len(hits) == 1
    # datetime predicate on a date column: incomparable → keeps all
    assert (
        len(store.files_for([("d", "==", dt.datetime(2024, 1, 5))])) == 4
    )
    # out-of-range date: pruned to nothing
    assert store.files_for([("d", ">", dt.date(2030, 1, 1))]) == []


def test_compact_binpacks_and_is_invisible_to_readers(spark, tmp_path):
    """r10 OPTIMIZE: compact bin-packs each partition's small files,
    readers see bit-identical data, the CDF across the compact commit
    is EMPTY (row-hash suppression), time travel still reaches the
    pre-compact layout, re-running is a no-op, and vacuum reclaims the
    superseded files."""
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark,
        [(f"d{i}", k, f"{i}:{k}") for i in range(3) for k in range(20)],
    ).repartition(8)
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    m1 = store.manifest(1)
    assert all(len(fl) > 1 for fl in m1["partitions"].values())
    before = {(r.d, r.k, r.v) for r in store.read(spark).collect()}

    v2 = store.compact(spark)
    m2 = store.manifest(v2)
    assert m2["op"] == "compact"
    assert all(len(fl) == 1 for fl in m2["partitions"].values())
    assert {(r.d, r.k, r.v) for r in store.read(spark).collect()} == before
    # metadata-only from a reader's POV: zero CDF rows across it
    assert store.read_changes(spark, 1, v2).count() == 0
    # time travel reaches the pre-compact layout
    assert store.manifest(1)["files"] == m1["files"]
    assert {(r.d, r.k, r.v) for r in store.read(spark, version=1).collect()} == before
    # idempotent: a second scheduled compact writes NO commit
    assert store.compact(spark) == v2
    # vacuum reclaims the superseded small files once history expires
    store.vacuum(keep_versions=1, retention_seconds=0)
    assert store.versions() == [v2]
    assert {(r.d, r.k, r.v) for r in store.read(spark).collect()} == before


def test_compact_cluster_by_makes_stats_prunable(spark, tmp_path):
    """cluster_by lays rows out range-partitioned + sorted, so file
    min/max become tight disjoint ranges and files_for prunes on a
    NON-partition column; the clustering entry makes re-runs no-ops
    and a later unclustered rewrite drops the guarantee."""
    store = CommitLogStore(str(tmp_path / "s"))
    # k deliberately shuffled across input partitions: pre-compact every
    # file spans nearly the full k range, so nothing prunes
    df = (
        spark.range(0, 400)
        .select(
            ((F.col("id") * 37) % 400).alias("k"),
            F.lit("d0").alias("d"),
        )
        .repartition(6)
    )
    store.commit(df, expect_version=None, partition_by="d", keys=["k"])
    assert len(store.files_for([("k", "==", 7)])) > 1
    v2 = store.compact(
        spark, target_file_bytes=1, cluster_by=["k"]
    )  # 1-byte target: one output file per input file's worth → several files
    m2 = store.manifest(v2)
    assert m2["clustering"] == {"d0": ["k"]}
    assert len(m2["partitions"]["d0"]) > 1
    # disjoint sorted ranges: a point lookup now opens exactly one file
    assert len(store.files_for([("k", "==", 7)])) == 1
    # data unchanged
    assert store.read(spark).count() == 400
    assert store.read_changes(spark, 1, v2).count() == 0
    # idempotent with the same clustering
    assert store.compact(spark, target_file_bytes=1, cluster_by=["k"]) == v2
    # a merge into the partition rewrites it unclustered → entry drops
    v3 = store.merge(
        spark,
        spark.createDataFrame([(999, "d0")], "k long, d string"),
        ["k"],
    )
    assert "d0" not in store.manifest(v3).get("clustering", {})


def test_merge_schema_evolution_additive(spark, tmp_path):
    """r10 schema evolution: schema_mode='merge' appends new nullable
    columns; pre-evolution rows AND carried-by-reference partitions
    (old physical files) read back as null; strict mode keeps dropping
    extras; a same-name type conflict raises."""
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(3) for k in range(2)]
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    batch = spark.createDataFrame(
        [("d1", 0, "UPD", 3.5), ("d1", 9, "NEW", 1.25)],
        "d string, k long, v string, score double",
    )
    # strict (default): extra column silently dropped
    v2 = store.merge(spark, batch, ["d", "k"])
    assert store.read(spark).columns == ["d", "k", "v"]
    # merge mode: schema evolves, untouched partitions carried by reference
    v3 = store.merge(spark, batch, ["d", "k"], schema_mode="merge")
    m3 = store.manifest(v3)
    assert store.read(spark).columns == ["d", "k", "v", "score"]
    m2 = store.manifest(v2)
    for d in ("d0", "d2"):
        assert m3["partitions"][d] == m2["partitions"][d]
    got = {(r.d, r.k, r.v, r.score) for r in store.read(spark).collect()}
    assert ("d1", 0, "UPD", 3.5) in got and ("d1", 9, "NEW", 1.25) in got
    # every pre-evolution row surfaces a typed null
    assert {t[3] for t in got if t[0] != "d1"} == {None}
    # pruned reads plan the evolved schema too
    ev = store.read_where(spark, [("d", "==", "d0")])
    assert ev.columns == ["d", "k", "v", "score"]
    assert {r.score for r in ev.collect()} == {None}
    # type conflict: no silent widening
    bad = spark.createDataFrame([("d1", 1, 7)], "d string, k long, v long")
    with pytest.raises(ValueError, match="schema conflict"):
        store.merge(spark, bad, ["d", "k"], schema_mode="merge")
    # CDF across the evolution commit stays exact (additive is allowed)
    cdf = store.read_changes(spark, v2, v3)
    rows = {(r.d, r.k, r.v, r.score, r._change_type) for r in cdf.collect()}
    assert rows == {
        ("d1", 0, "UPD", None, "update_preimage"),
        ("d1", 0, "UPD", 3.5, "update_postimage"),
        ("d1", 9, "NEW", None, "update_preimage"),
        ("d1", 9, "NEW", 1.25, "update_postimage"),
    }


def test_merge_cdc_schema_evolution(spark, tmp_path):
    """merge_cdc evolves additively the same way, with op/seq columns
    excluded from the table schema."""
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(2) for k in range(2)]
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    cdc = spark.createDataFrame(
        [
            ("d1", 0, None, None, "delete"),
            ("d1", 5, "new", 9.0, "upsert"),
        ],
        "d string, k long, v string, score double, op string",
    )
    store.merge_cdc(spark, cdc, ["d", "k"], schema_mode="merge")
    out = store.read(spark)
    assert out.columns == ["d", "k", "v", "score"]
    got = {(r.d, r.k, r.v, r.score) for r in out.collect()}
    assert ("d1", 5, "new", 9.0) in got
    assert ("d1", 0, "1:0", None) not in {t[:3] + (t[3],) for t in got}
    assert len(got) == 4  # 4 base - 1 delete + 1 insert
    # carried partition rows read null for the appended column
    assert {t[3] for t in got if t[0] == "d0"} == {None}


def test_delete_where_deletion_vectors(spark, tmp_path):
    """r10 deletion vectors: delete_where masks rows WITHOUT touching
    any data file (merge-on-read); stacked deletes union; the CDF
    emits exactly the newly-deleted rows; a no-match delete writes no
    commit; time travel still sees pre-delete snapshots."""
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(4) for k in range(10)]
    )
    v1 = store.commit(
        base, expect_version=None, partition_by="d", keys=["d", "k"]
    )
    v2 = store.delete_where(spark, [("k", "in", [3, 7])])
    m1, m2 = store.manifest(v1), store.manifest(v2)
    assert m2["files"] == m1["files"]  # zero rewrites
    assert m2["op"] == "delete" and len(m2["dv"]) > 0
    got = {(r.d, r.k) for r in store.read(spark).collect()}
    assert got == {
        (f"d{i}", k) for i in range(4) for k in range(10) if k not in (3, 7)
    }
    # pruned read applies the mask too
    rw = {(r.d, r.k) for r in store.read_where(spark, [("k", ">=", 6)]).collect()}
    assert rw == {(f"d{i}", k) for i in range(4) for k in (6, 8, 9)}
    # CDF: exactly the 8 deletes, agreed by both faces
    cdf = sorted(
        (r.d, r.k, r._change_type, r._commit_version)
        for r in store.read_changes(spark, v1, v2).collect()
    )
    assert cdf == sorted(
        (f"d{i}", k, "delete", v2) for i in range(4) for k in (3, 7)
    )
    from calorista_spark.sources.commitlog import _changes_between_py

    assert sorted(
        (t[0], t[1], t[3], t[4]) for t in _changes_between_py(store, v1, v2, None)
    ) == cdf
    # stacked delete: DVs union, CDF shows only the new deletes
    v3 = store.delete_where(spark, [("d", "==", "d1"), ("k", "<", 2)])
    assert sorted(
        (r.d, r.k, r._change_type)
        for r in store.read_changes(spark, v2, v3).collect()
    ) == [("d1", 0, "delete"), ("d1", 1, "delete")]
    # no-match: no commit
    assert store.delete_where(spark, [("k", ">", 999)]) == v3
    # time travel: v1 still has everything
    assert store.read(spark, version=v1).count() == 40


def test_deletion_vectors_merge_and_compact_purge(spark, tmp_path):
    """DV interplay with the rest of the format: a merge rewrite of a
    DV'd partition applies the mask (no resurrection) and drops its DV;
    carried partitions keep theirs; compact purges all DVs into clean
    files with zero reader-visible change; vacuum keeps DV sidecars
    while any retained manifest references them."""
    store = CommitLogStore(str(tmp_path / "s"))
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(4) for k in range(10)]
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    store.delete_where(spark, [("k", "in", [3, 7])])
    v3 = store.merge(
        spark,
        spark.createDataFrame([("d2", 5, "UPD")], "d string, k long, v string"),
        ["d", "k"],
    )
    m3 = store.manifest(v3)
    got = {(r.d, r.k, r.v) for r in store.read(spark).collect()}
    assert ("d2", 3, "2:3") not in got and ("d2", 7, "2:7") not in got
    assert ("d2", 5, "UPD") in got and ("d1", 3, "1:3") not in got
    assert not any(f in m3["dv"] for f in m3["partitions"]["d2"])
    assert any(f in m3["dv"] for f in m3["partitions"]["d1"])
    # compact: DV'd partitions force a rewrite even at target file count
    v4 = store.compact(spark)
    m4 = store.manifest(v4)
    assert not m4.get("dv")
    assert {(r.d, r.k, r.v) for r in store.read(spark).collect()} == got
    assert store.read_changes(spark, v3, v4).count() == 0
    # vacuum: while v3 is retained its DV sidecars survive; after
    # dropping history they're GC'd and the head still reads clean
    store.vacuum(keep_versions=2, retention_seconds=0)
    assert {
        (r.d, r.k, r.v) for r in store.read(spark, version=v3).collect()
    } == got
    store.vacuum(keep_versions=1, retention_seconds=0)
    assert {(r.d, r.k, r.v) for r in store.read(spark).collect()} == got


def test_zorder_compact_prunes_on_every_dimension(spark, tmp_path):
    """r10 Z-order: compact(layout='zorder') lays rows along a Morton
    curve over BOTH cluster columns, so manifest-stats pruning bites on
    predicates over EITHER dimension (a linear sort only serves its
    leading column); reads stay exact; re-runs are no-ops; non-numeric
    cluster columns are rejected with a typed error."""
    from pyspark.sql import functions as F

    store = CommitLogStore(str(tmp_path / "s"))
    df = (
        spark.range(0, 4096)
        .select(
            ((F.col("id") * 37) % 4096).alias("x"),
            ((F.col("id") * 101) % 4096).alias("y"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    v1 = store.commit(df, expect_version=None, keys=["payload"])
    target = max(
        1,
        sum(
            st["bytes"] for st in store.manifest(v1)["stats"].values()
        )
        // 16,
    )
    v2 = store.compact(
        spark, target_file_bytes=target, cluster_by=["x", "y"], layout="zorder"
    )
    m2 = store.manifest(v2)
    nf = len(m2["files"])
    assert nf > 4
    assert m2["clustering"][""] == {"layout": "zorder", "cols": ["x", "y"]}
    # both dimensions prune (each range covers ~5% of the value space)
    assert len(store.files_for([("x", "between", (100, 300))])) < nf / 2
    assert len(store.files_for([("y", "between", (100, 300))])) < nf / 2
    # pruned reads stay exact on both dimensions
    for col in ("x", "y"):
        got = {
            r.payload
            for r in store.read_where(
                spark, [(col, "between", (100, 300))]
            ).collect()
        }
        want = {
            r.payload
            for r in store.read(spark)
            .filter((F.col(col) >= 100) & (F.col(col) <= 300))
            .collect()
        }
        assert got == want
    # idempotent under the same layout; data unchanged across compact
    assert (
        store.compact(
            spark,
            target_file_bytes=target,
            cluster_by=["x", "y"],
            layout="zorder",
        )
        == v2
    )
    assert store.read_changes(spark, v1, v2).count() == 0
    with pytest.raises(ValueError, match="unknown layout"):
        store.compact(spark, cluster_by=["x"], layout="hilbert")
    s2 = CommitLogStore(str(tmp_path / "s2"))
    s2.commit(spark.createDataFrame([("a", 1)], "s string, x long"), expect_version=None)
    with pytest.raises(ValueError, match="must be numeric"):
        s2.compact(spark, cluster_by=["s"], layout="zorder")


def test_timestamp_time_travel_and_history(spark, tmp_path):
    """r10: every manifest records committed_at; read(as_of=ts) resolves
    the newest commit at or before ts (TIMESTAMP AS OF), and history()
    is the newest-first audit trail."""
    import time

    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_df(spark, [(1, "a")]), expect_version=None)
    t_after_v1 = store.manifest(1)["committed_at"]
    store.merge(spark, _df(spark, [(2, "b")]), ["k"])
    assert store.version_as_of(t_after_v1) == 1
    assert store.read(spark, as_of=t_after_v1).count() == 1
    assert store.read(spark, as_of=time.time()).count() == 2
    with pytest.raises(ValueError, match="no commit at or before"):
        store.version_as_of(t_after_v1 - 1e6)
    with pytest.raises(ValueError, match="not both"):
        store.read(spark, version=1, as_of=t_after_v1)
    h = store.history()
    assert [e["version"] for e in h] == [2, 1]
    assert h[0]["op"] == "merge" and h[1]["op"] == "overwrite"
    assert all(e["committed_at"] is not None for e in h)
    assert h[0]["rows_physical"] >= 2


def test_update_where_merge_on_read(spark, tmp_path):
    """r10 merge-on-read UPDATE: one commit masks the old positions
    (DV) and appends the updated rows — no file rewritten; the CDF
    classifies it as exact update pre/post pairs; updates may move a
    row to a new partition; prior deletes are respected; compact folds
    the appended files back into clean ones."""
    from pyspark.sql import functions as F

    store = CommitLogStore(str(tmp_path / "s"))
    base = spark.createDataFrame(
        [(f"d{i}", k, f"{i}:{k}", 10 * k) for i in range(3) for k in range(5)],
        "d string, k long, v string, amt long",
    )
    v1 = store.commit(
        base, expect_version=None, partition_by="d", keys=["d", "k"]
    )
    v2 = store.update_where(
        spark, [("k", "==", 2)], {"amt": F.col("amt") * 2, "v": "UPD"}
    )
    m1, m2 = store.manifest(v1), store.manifest(v2)
    assert set(m1["files"]) <= set(m2["files"])  # zero rewrites
    assert m2["op"] == "update" and len(m2["dv"]) > 0
    got = {(r.d, r.k, r.v, r.amt) for r in store.read(spark).collect()}
    assert got == {
        (
            f"d{i}",
            k,
            ("UPD" if k == 2 else f"{i}:{k}"),
            (40 if k == 2 else 10 * k),
        )
        for i in range(3)
        for k in range(5)
    }
    cdf = sorted(
        (r.d, r.k, r.v, r.amt, r._change_type)
        for r in store.read_changes(spark, v1, v2).collect()
    )
    assert cdf == sorted(
        [(f"d{i}", 2, f"{i}:2", 20, "update_preimage") for i in range(3)]
        + [(f"d{i}", 2, "UPD", 40, "update_postimage") for i in range(3)]
    )
    # partition-moving update
    v3 = store.update_where(
        spark, [("d", "==", "d0"), ("k", "==", 0)], {"d": "d9"}
    )
    assert "d9" in store.manifest(v3)["partitions"]
    got = {(r.d, r.k) for r in store.read(spark).collect()}
    assert ("d9", 0) in got and ("d0", 0) not in got
    # no-match → no commit; unknown column → typed error
    assert store.update_where(spark, [("k", "==", 999)], {"v": "x"}) == v3
    with pytest.raises(ValueError, match="unknown column"):
        store.update_where(spark, [("k", "==", 1)], {"nope": 1})
    # compact purges
    v4 = store.compact(spark)
    assert not store.manifest(v4).get("dv")
    assert store.read_changes(spark, v3, v4).count() == 0
    # a row deleted earlier is not updated back to life
    s2 = CommitLogStore(str(tmp_path / "s2"))
    s2.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    s2.delete_where(spark, [("k", "==", 2), ("d", "==", "d0")])
    s2.update_where(spark, [("k", "==", 2)], {"v": "U2"})
    got = {(r.d, r.k, r.v) for r in s2.read(spark).collect()}
    assert ("d0", 2, "U2") not in got and ("d1", 2, "U2") in got


def test_stacked_updates_and_delete_of_updated_row(spark, tmp_path):
    """Mutation stacking: update an already-updated row (DV lands on
    the APPENDED file), then delete it — every read face and both CDF
    faces stay exact through the whole chain."""
    from pyspark.sql import functions as F

    from calorista_spark.sources.commitlog import _changes_between_py

    store = CommitLogStore(str(tmp_path / "s"))
    base = spark.createDataFrame(
        [("d0", k, 10 * k) for k in range(4)], "d string, k long, amt long"
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    # cow_threshold=None pins the pure-DV path: the second update masks
    # 100% of the 1-row appended file, which the default threshold
    # would (correctly) rewrite copy-on-write instead — this test is
    # specifically about a DV landing on an APPENDED file
    v2 = store.update_where(
        spark, [("k", "==", 1)], {"amt": 111}, cow_threshold=None
    )
    v3 = store.update_where(
        spark, [("k", "==", 1)], {"amt": 222}, cow_threshold=None
    )
    m3 = store.manifest(v3)
    # the second update masked a position in the v2-APPENDED file
    appended_v2 = sorted(
        set(store.manifest(v2)["files"]) - set(store.manifest(1)["files"])
    )
    assert any(f in m3["dv"] for f in appended_v2)
    got = {(r.k, r.amt) for r in store.read(spark).collect()}
    assert got == {(0, 0), (1, 222), (2, 20), (3, 30)}
    cdf = sorted(
        (r.k, r.amt, r._change_type)
        for r in store.read_changes(spark, v2, v3).collect()
    )
    assert cdf == [(1, 111, "update_preimage"), (1, 222, "update_postimage")]
    v4 = store.delete_where(spark, [("k", "==", 1)])
    assert {(r.k, r.amt) for r in store.read(spark).collect()} == {
        (0, 0),
        (2, 20),
        (3, 30),
    }
    cdf = sorted(
        (r.k, r.amt, r._change_type)
        for r in store.read_changes(spark, v3, v4).collect()
    )
    assert cdf == [(1, 222, "delete")]
    # the driver-side streaming mirror agrees over the full chain
    spark_face = sorted(
        (r.k, r.amt, r._change_type, r._commit_version)
        for r in store.read_changes(spark, 0, v4).collect()
    )
    py_face = sorted(
        (t[1], t[2], t[3], t[4]) for t in _changes_between_py(store, 0, v4, None)
    )
    assert spark_face == py_face


def test_redundant_mutations_write_no_commit(spark, tmp_path):
    """Deleting an already-deleted row (or updating one) matches no
    LIVE row and must publish NO commit — the liveness anti-join on
    the position scan, not just a harmless re-mask."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(
        spark.createDataFrame([("d0", k, k) for k in range(4)],
                              "d string, k long, amt long"),
        expect_version=None, partition_by="d", keys=["d", "k"],
    )
    v2 = store.delete_where(spark, [("k", "==", 1)])
    assert v2 == 2
    assert store.delete_where(spark, [("k", "==", 1)]) == v2
    assert store.update_where(spark, [("k", "==", 1)], {"amt": 99}) == v2
    assert store.versions() == [1, 2]


def test_cdf_spans_schema_evolution(spark, tmp_path):
    """A single read_changes call spanning an additive evolution commit
    emits the END version's schema, pre-evolution change rows reading
    null for the appended column — both faces; a fixed-schema consumer
    asked to read BEYOND its schema gets a restart error, not
    misaligned tuples."""
    from calorista_spark.sources.commitlog import _changes_between_py

    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(
        _pdf(spark, [("d0", 0, "a"), ("d1", 1, "b")]),
        expect_version=None,
        partition_by="d",
        keys=["d", "k"],
    )
    store.merge(spark, _pdf(spark, [("d0", 0, "A2")]), ["d", "k"])  # v2
    evolved = spark.createDataFrame(
        [("d1", 1, "B3", 9.5)], "d string, k long, v string, score double"
    )
    v3 = store.merge(spark, evolved, ["d", "k"], schema_mode="merge")
    cdf = store.read_changes(spark, 0, v3)
    assert cdf.columns == ["d", "k", "v", "score", "_change_type", "_commit_version"]
    rows = {
        (r.d, r.k, r.v, r.score, r._change_type, r._commit_version)
        for r in cdf.collect()
    }
    assert rows == {
        ("d0", 0, "a", None, "insert", 1),
        ("d1", 1, "b", None, "insert", 1),
        ("d0", 0, "a", None, "update_preimage", 2),
        ("d0", 0, "A2", None, "update_postimage", 2),
        ("d1", 1, "b", None, "update_preimage", 3),
        ("d1", 1, "B3", 9.5, "update_postimage", 3),
    }
    # py mirror agrees, same arity everywhere
    py = {tuple(t) for t in _changes_between_py(store, 0, v3, None)}
    assert py == rows
    # fixed pre-evolution schema asked to read past the evolution: typed error
    with pytest.raises(ValueError, match="restart"):
        _changes_between_py(store, 0, v3, None, out_cols=["d", "k", "v"])


# -- r11: executor-side DV build, copy-on-write DML, ADVICE fixes -----------


def test_cow_threshold_decides_per_file(spark, tmp_path):
    """r11 copy-on-write fallback (VERDICT r10 #2): ONE delete whose
    predicate matches 100% of one partition's file and 10% of
    another's must rewrite the first (file leaves the manifest, no DV,
    the emptied partition drops from the map) and DV-mask the second
    (file stays, DV entry) — the threshold decision is per file.
    Reads and the change feed are identical to the pure-DV run of the
    same predicate."""
    rows = [("dA", k, 0) for k in range(10)] + [
        ("dB", k, (0 if k == 0 else 100 + k)) for k in range(10)
    ]
    base = spark.createDataFrame(rows, "d string, k long, amt long")
    results = {}
    for name, thr in (("cow", 0.5), ("dv", None)):
        store = CommitLogStore(str(tmp_path / name))
        store.commit(
            base.coalesce(1), expect_version=None, partition_by="d",
            keys=["d", "k"],
        )
        m1 = store.manifest(1)
        v2 = store.delete_where(spark, [("amt", "<", 8)], cow_threshold=thr)
        m2 = store.manifest(v2)
        f_a, f_b = m1["partitions"]["dA"], m1["partitions"]["dB"]
        if thr is None:  # pure DV: every file survives, two DVs
            assert m2["files"] == m1["files"]
            assert all(f in m2["dv"] for f in f_a + f_b)
        else:  # per-file: dA rewritten away (10/10 > 0.5), dB masked
            assert all(f not in m2["files"] for f in f_a)
            assert all(f in m2["files"] for f in f_b)
            assert all(f not in m2.get("dv", {}) for f in f_a)
            assert all(f in m2["dv"] for f in f_b)
            assert "dA" not in m2["partitions"]  # emptied partition
        results[name] = {
            "rows": sorted(
                (r.d, r.k, r.amt) for r in store.read(spark).collect()
            ),
            "cdf": sorted(
                (r.d, r.k, r._change_type)
                for r in store.read_changes(spark, 1, v2).collect()
            ),
        }
    assert results["cow"] == results["dv"]
    assert results["cow"]["rows"] == sorted(
        ("dB", k, 100 + k) for k in range(1, 10)
    )
    assert results["cow"]["cdf"] == sorted(
        [("dA", k, "delete") for k in range(10)] + [("dB", 0, "delete")]
    )


def test_cow_update_rewrites_in_place(spark, tmp_path):
    """r11: an UPDATE matching every row of a file rewrites it in
    place (no DV, no appended file for it), while a sparse file on the
    same predicate takes DV+append; values and CDF match the pure-DV
    run bit for bit."""
    rows = [("dA", k, 0) for k in range(4)] + [("dB", k, k) for k in range(10)]
    base = spark.createDataFrame(rows, "d string, k long, amt long")
    results = {}
    for name, thr in (("u_cow", 0.5), ("u_dv", None)):
        store = CommitLogStore(str(tmp_path / name))
        store.commit(
            base.coalesce(1), expect_version=None, partition_by="d",
            keys=["d", "k"],
        )
        m1 = store.manifest(1)
        v2 = store.update_where(
            spark, [("amt", "<", 2)], {"amt": F.col("amt") + 100},
            cow_threshold=thr,
        )
        m2 = store.manifest(v2)
        f_a, f_b = m1["partitions"]["dA"], m1["partitions"]["dB"]
        if thr is None:
            assert set(m1["files"]) <= set(m2["files"])
            assert all(f in m2["dv"] for f in f_a + f_b)
        else:  # dA 4/4 matched → COW; dB 2/10 → DV + append
            assert all(f not in m2["files"] for f in f_a)
            assert all(f not in m2.get("dv", {}) for f in f_a)
            assert all(f in m2["files"] and f in m2["dv"] for f in f_b)
        results[name] = {
            "rows": sorted(
                (r.d, r.k, r.amt) for r in store.read(spark).collect()
            ),
            "cdf": sorted(
                (r.d, r.k, r.amt, r._change_type)
                for r in store.read_changes(spark, 1, v2).collect()
            ),
        }
    assert results["u_cow"] == results["u_dv"]
    assert results["u_cow"]["rows"] == sorted(
        [("dA", k, 100) for k in range(4)]
        + [("dB", k, (k + 100 if k < 2 else k)) for k in range(10)]
    )


def test_dv_paths_with_uri_special_partition_values(spark, tmp_path):
    """ADVICE r10: a partition value with a space / plus / unicode
    must round-trip through _metadata.file_path's percent-encoding —
    delete_where must find the rows (not raise 'untracked file') and
    the DV anti-join must keep masking them on read."""
    base = spark.createDataFrame(
        [(d, k, k) for d in ("a b", "c+d", "é%20x") for k in range(4)],
        "d string, k long, amt long",
    )
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(
        base.coalesce(1), expect_version=None, partition_by="d",
        keys=["d", "k"],
    )
    v2 = store.delete_where(spark, [("k", "==", 1)], cow_threshold=None)
    assert v2 == 2 and store.manifest(v2)["dv"]
    got = {(r.d, r.k) for r in store.read(spark).collect()}
    assert got == {
        (d, k) for d in ("a b", "c+d", "é%20x") for k in (0, 2, 3)
    }
    # update through the same encoded paths, then CDF over the chain
    store.update_where(
        spark, [("k", "==", 2)], {"amt": 99}, cow_threshold=None
    )
    got = {(r.d, r.k, r.amt) for r in store.read(spark).collect()}
    assert ("a b", 2, 99) in got and ("c+d", 2, 99) in got
    assert ("é%20x", 1, 1) not in {(d, k, a) for d, k, a in got}


def test_empty_predicates_raise_typed_error(spark, tmp_path):
    """ADVICE r10: read_where/delete_where/update_where with an empty
    predicate list raise a clear ValueError, not a bare reduce()
    TypeError."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_df(spark, [(1, "a")]), expect_version=None)
    with pytest.raises(ValueError, match="non-empty"):
        store.read_where(spark, [])
    with pytest.raises(ValueError, match="non-empty"):
        store.delete_where(spark, [])
    with pytest.raises(ValueError, match="non-empty"):
        store.update_where(spark, [], {"v": "x"})


def test_nan_rows_do_not_drift_between_cdf_faces(spark, tmp_path):
    """ADVICE r10: a NaN float re-sent IDENTICAL through a merge must
    be suppressed by BOTH change-feed faces (Spark row-hash and the
    driver-side dict compare), and a real NaN→value change must
    surface in both."""
    import math as _math

    from calorista_spark.sources.commitlog import _changes_between_py

    nan = float("nan")
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(
        spark.createDataFrame(
            [(1, nan), (2, 2.0), (3, nan)], "k long, x double"
        ),
        expect_version=None,
        keys=["k"],
    )
    # re-send row 1 identical (NaN unchanged), change row 3 NaN→7.5
    v2 = store.merge(
        spark,
        spark.createDataFrame([(1, nan), (3, 7.5)], "k long, x double"),
        ["k"],
    )
    def norm(x):
        return "nan" if x is not None and _math.isnan(x) else str(x)

    spark_face = sorted(
        (r.k, norm(r.x), r._change_type)
        for r in store.read_changes(spark, 1, v2).collect()
    )
    py_face = sorted(
        (t[0], norm(t[1]), t[2])
        for t in _changes_between_py(store, 1, v2, None)
    )
    assert spark_face == py_face
    assert spark_face == [
        (3, "7.5", "update_postimage"),
        (3, "nan", "update_preimage"),
    ]


def test_naive_timestamp_pruning_matches_lit_semantics(spark, tmp_path):
    """ADVICE r10: INT64 timestamp footer stats are UTC-adjusted while
    F.lit converts a naive datetime predicate via the DRIVER's local
    timezone (TimestampType.toInternal / time.mktime — NOT the session
    timezone); files_for must apply the same conversion or it prunes
    files whose rows actually match. Simulated on a non-UTC driver by
    flipping TZ+tzset for the duration."""
    import datetime as _dt
    import os as _os
    import time as _time

    prev_out = spark.conf.get("spark.sql.parquet.outputTimestampType")
    prev_tz = _os.environ.get("TZ")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        store = CommitLogStore(str(tmp_path / "s"))
        # one row at 03:00 UTC
        store.commit(
            spark.sql(
                "SELECT 1 AS k, TIMESTAMP'2024-01-05 03:00:00 UTC' AS ts"
            ),
            expect_version=None,
        )
        # non-UTC driver: naive 12:00 Tokyo == the row's 03:00 UTC
        _os.environ["TZ"] = "Asia/Tokyo"
        _time.tzset()
        pred = [
            (
                "ts",
                "between",
                (
                    _dt.datetime(2024, 1, 5, 11, 0, 0),
                    _dt.datetime(2024, 1, 5, 13, 0, 0),
                ),
            )
        ]
        # the residual filter (F.lit semantics) finds the row …
        expected = store.read(spark).filter(
            F.col("ts").between(
                F.lit(_dt.datetime(2024, 1, 5, 11, 0, 0)),
                F.lit(_dt.datetime(2024, 1, 5, 13, 0, 0)),
            )
        ).count()
        assert expected == 1
        # … so pruning must keep the file and read_where must agree
        # (the r10 code compared naive "12:00" against UTC "03:00"
        # stats and pruned the file — a silently wrong result)
        assert len(store.files_for(pred)) == 1
        assert store.read_where(spark, pred).count() == 1
        # a predicate missing the row (in driver-local time) may prune
        # but must never return rows
        far = [("ts", ">", _dt.datetime(2024, 1, 6, 12, 0, 0))]
        assert store.read_where(spark, far).count() == 0
        # aware predicates prune exactly regardless of driver tz
        aware = [
            (
                "ts",
                "==",
                _dt.datetime(
                    2024, 1, 5, 3, 0, 0, tzinfo=_dt.timezone.utc
                ),
            )
        ]
        assert len(store.files_for(aware)) == 1
    finally:
        if prev_tz is None:
            _os.environ.pop("TZ", None)
        else:
            _os.environ["TZ"] = prev_tz
        _time.tzset()
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev_out)


def test_merge_rewrites_only_key_intersecting_files(spark, tmp_path):
    """r12 (VERDICT r11 #2): a 1-row MERGE into a partition that holds
    many key-clustered files rewrites ONLY the file(s) whose footer
    key range can contain the incoming key; the disjoint siblings are
    carried by reference (byte-identical paths across versions), and
    the snapshot stays exact."""
    store = CommitLogStore(str(tmp_path / "s"))
    df = spark.range(400).selectExpr(
        "'d0' AS d", "id AS k", "id * 10 AS amt"
    )
    store.commit(df, expect_version=None, partition_by="d", keys=["d", "k"])
    m0 = store.manifest(store.latest_version())
    total = sum(st["bytes"] for st in m0["stats"].values())
    # cluster into ~4 files with tight disjoint k ranges
    store.compact(spark, target_file_bytes=max(1, total // 4),
                  cluster_by=["k"])
    m1 = store.manifest(store.latest_version())
    n_files = len(m1["partitions"]["d0"])
    assert n_files >= 3, m1["partitions"]
    one = spark.createDataFrame([("d0", 5, 555)], "d string, k long, amt long")
    store.merge(spark, one, ["d", "k"])
    m2 = store.manifest(store.latest_version())
    rewritten = set(m1["files"]) - set(m2["files"])
    appended = set(m2["files"]) - set(m1["files"])
    carried = set(m1["files"]) & set(m2["files"])
    # exactly the one file whose k-range contains 5 was rewritten
    assert len(rewritten) == 1, (rewritten, appended)
    assert len(carried) == n_files - 1
    assert len(appended) >= 1
    # carried files keep their stats entries
    for f in carried:
        assert m2["stats"][f] == m1["stats"][f]
    got = {(r.k, r.amt) for r in store.read(spark).collect()}
    want = {(k, k * 10) for k in range(400) if k != 5} | {(5, 555)}
    assert got == want
    # a CDC tombstone prunes the same way and the delete still lands
    tomb = spark.createDataFrame(
        [("d0", 5, None, "delete")], "d string, k long, amt long, op string"
    )
    store.merge_cdc(spark, tomb, ["d", "k"])
    m3 = store.manifest(store.latest_version())
    assert len(set(m2["files"]) - set(m3["files"])) <= 2  # only k≈5 files
    got3 = {(r.k, r.amt) for r in store.read(spark).collect()}
    assert got3 == {(k, k * 10) for k in range(400) if k != 5}


def test_merge_file_carry_respects_deletion_vectors(spark, tmp_path):
    """A carried (key-disjoint) file keeps its deletion vector across
    the merge commit — masked rows must not resurrect, and the CDF
    across the merge must show only the merged key."""
    store = CommitLogStore(str(tmp_path / "s"))
    df = spark.range(100).selectExpr("'d0' AS d", "id AS k", "id AS amt")
    store.commit(df, expect_version=None, partition_by="d", keys=["d", "k"])
    m0 = store.manifest(store.latest_version())
    total = sum(st["bytes"] for st in m0["stats"].values())
    store.compact(spark, target_file_bytes=max(1, total // 4),
                  cluster_by=["k"])
    # DV-mask k=90 (lives in the top-range file)
    store.delete_where(spark, [("k", "==", 90)], cow_threshold=None)
    v_before = store.latest_version()
    m1 = store.manifest(v_before)
    assert m1.get("dv"), "expected a deletion vector"
    # merge k=1 — bottom-range file; the DV'd top file must be carried
    one = spark.createDataFrame([("d0", 1, 111)], "d string, k long, amt long")
    store.merge(spark, one, ["d", "k"])
    m2 = store.manifest(store.latest_version())
    assert m2.get("dv") == m1.get("dv"), "carried file lost its DV"
    got = {(r.k, r.amt) for r in store.read(spark).collect()}
    want = {(k, k) for k in range(100) if k not in (1, 90)} | {(1, 111)}
    assert got == want
    changes = store.read_changes(spark, v_before).collect()
    assert {(r.k, r._change_type) for r in changes} == {
        (1, "update_preimage"),
        (1, "update_postimage"),
    }


def test_dv_read_decodes_sidecars_executor_side(spark, tmp_path, monkeypatch):
    """r12 (VERDICT r11 #1): past the sidecar-byte cap the read path
    must never materialize deleted positions on the driver — sidecars
    are opened and decoded by executor tasks. Under the cap the driver
    decodes them itself (bounded by the cap; pure-JVM broadcast, no
    Python workers — the adaptive small-DV fast path). Pinned by
    spying on the module-level ``_decode_dv``: workers import the
    module in their own processes, so a driver-side monkeypatch counts
    DRIVER decodes only."""
    from calorista_spark.sources import commitlog as cl

    store = CommitLogStore(str(tmp_path / "s"))
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    store.commit(df.repartition(4), expect_version=None)
    store.delete_where(spark, [("k", "<", 30)], cow_threshold=None)
    orig = cl._decode_dv
    calls = {"n": 0}

    def spy(blob):
        calls["n"] += 1
        return orig(blob)

    monkeypatch.setattr(cl, "_decode_dv", spy)
    # small delete set → driver decodes (cap-bounded) and the frame is
    # broadcast: pure JVM join, no Python stage in the plan
    small = store.read(spark)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = sorted(r.k for r in small.collect())
    assert got == list(range(30, 100))
    assert calls["n"] > 0, "small-DV path should decode on the driver"
    # past the sidecar-size budget the join runs distributed (no
    # broadcast of a potentially table-sized delete set, ZERO driver
    # decodes), same rows
    calls["n"] = 0
    monkeypatch.setattr(store, "dv_broadcast_bytes", 0)
    df2 = store.read(spark)
    # pre-execution plan: no broadcast hint (AQE may still convert a
    # small runtime frame, but nothing FORCES a table-sized broadcast)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan2
    assert sorted(r.k for r in df2.collect()) == list(range(30, 100))
    assert calls["n"] == 0, "driver decoded a DV sidecar past the cap"


def test_store_reads_only_format2_manifests(spark, tmp_path):
    """One on-disk format: every commit path publishes
    ``manifest_format`` 2 with ``stats_format`` 2 (UTC-normalized
    timestamp stats, so a tz-aware datetime predicate prunes), and a
    commit JSON lacking either marker is refused on load with
    :class:`ManifestFormatError` naming the version and what it
    found."""
    import datetime as _dt

    from calorista_spark.sources.commitlog import ManifestFormatError
    from calorista_spark.sources.commitlog_batch import register_batch_source

    prev_out = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    path = str(tmp_path / "s")
    store = CommitLogStore(path)
    try:
        df = spark.sql(
            "SELECT 1 AS k, TIMESTAMP'2024-01-05 03:00:00 UTC' AS ts, "
            "DATE'2024-01-05' AS d"
        )
        store.commit(df, expect_version=None, keys=["k"])
        far_ts = [
            ("ts", ">", _dt.datetime(2030, 1, 1, tzinfo=_dt.timezone.utc))
        ]
        assert store.files_for(far_ts) == []
        # reads stay exact (the residual uses the original predicate)
        assert store.read_where(spark, far_ts).count() == 0
        store.merge(spark, df.selectExpr("2 AS k", "ts", "d"), ["k"])
        store.delete_where(spark, [("k", "==", 1)], cow_threshold=None)
        store.restore(to_version=1)
        clone = store.clone(str(tmp_path / "c"))
        register_batch_source(spark)
        df.selectExpr("3 AS k", "ts", "d").write.format("commitlog").option(
            "path", path
        ).mode("append").save()
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev_out)
    ops = []
    for s, v in [(store, v) for v in store.versions()] + [(clone, 1)]:
        meta = s.manifest_meta(v)
        assert (meta["manifest_format"], meta["stats_format"]) == (2, 2)
        ops.append(meta["op"])
    assert ops == [
        "overwrite", "merge", "delete", "restore", "append", "clone"
    ]
    mpath = os.path.join(store.commits_dir, "v00000001.json")
    with open(mpath) as fh:
        m = json.load(fh)
    for marker in ("manifest_format", "stats_format"):
        with open(mpath, "w") as fh:
            json.dump({k: x for k, x in m.items() if k != marker}, fh)
        fresh = CommitLogStore(path)  # cold caches: the file is re-read
        with pytest.raises(ManifestFormatError, match=f"v1 .*{marker}=None"):
            fresh.manifest_meta(1)


# -- r11: commuting-writer rebase (VERDICT r10 #5) ---------------------------


def _race(storeA, storeB, spark, batchB, keysB, n=1):
    """Arm storeA so its next ``n`` publish attempts are each preceded
    by a competing storeB merge — a deterministic version race."""
    orig = storeA._publish
    state = {"left": n}

    def racy(manifest, token):
        if state["left"] > 0:
            state["left"] -= 1
            storeB.merge(spark, batchB, keysB)
        return orig(manifest, token)

    storeA._publish = racy
    return state


def test_disjoint_partition_merges_commute_via_rebase(spark, tmp_path):
    """Two writers merging DISJOINT partition sets both commit: the
    loser detects commutation and rebases its already-staged data onto
    the winner's head — no recompute (stage ran once), no error, the
    winner's partition carried by reference, both changes visible."""
    path = str(tmp_path / "s")
    storeA, storeB = CommitLogStore(path), CommitLogStore(path)
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(4) for k in range(3)]
    )
    storeA.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    batchA = _pdf(spark, [("d1", 0, "A-UPD"), ("d1", 99, "A-NEW")])
    batchB = _pdf(spark, [("d2", 0, "B-UPD")])
    stage_calls = {"n": 0}
    orig_stage = storeA._stage_snapshot_data

    def counting_stage(*a, **k):
        stage_calls["n"] += 1
        return orig_stage(*a, **k)

    storeA._stage_snapshot_data = counting_stage
    _race(storeA, storeB, spark, batchB, ["d", "k"])
    vA = storeA.merge(spark, batchA, ["d", "k"])
    assert vA == 3 and storeA.latest_version() == 3
    assert stage_calls["n"] == 1  # rebase, not recompute
    m2, m3 = storeA.manifest(2), storeA.manifest(3)
    assert m3["parent"] == 2
    # the winner's d2 rewrite is carried BY REFERENCE into the rebase
    assert m3["partitions"]["d2"] == m2["partitions"]["d2"]
    # and untouched d0/d3 still carry the v1 files
    m1 = storeA.manifest(1)
    for d in ("d0", "d3"):
        assert m3["partitions"][d] == m1["partitions"][d]
    got = {(r.d, r.k, r.v) for r in storeA.read(spark).collect()}
    assert ("d1", 0, "A-UPD") in got and ("d1", 99, "A-NEW") in got
    assert ("d2", 0, "B-UPD") in got
    assert ("d3", 2, "3:2") in got
    # CDF across the chain shows both writers' changes, nothing else
    changed = {
        (r.d, r.k, r._change_type)
        for r in storeA.read_changes(spark, 1, 3).collect()
    }
    assert changed == {
        ("d2", 0, "update_preimage"), ("d2", 0, "update_postimage"),
        ("d1", 0, "update_preimage"), ("d1", 0, "update_postimage"),
        ("d1", 99, "insert"),
    }


def test_same_partition_conflict_recomputes_once(spark, tmp_path):
    """Overlapping writers do NOT commute: the loser recomputes its
    merge from the winner's snapshot (stage ran twice = exactly one
    retry) so the final state is B-then-A — and with retries exhausted
    the typed conflict error still propagates."""
    path = str(tmp_path / "s")
    storeA, storeB = CommitLogStore(path), CommitLogStore(path)
    base = _pdf(spark, [("d1", k, f"base:{k}") for k in range(3)])
    storeA.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    batchA = _pdf(spark, [("d1", 0, "A"), ("d1", 77, "A-NEW")])
    batchB = _pdf(spark, [("d1", 0, "B"), ("d1", 88, "B-NEW")])
    stage_calls = {"n": 0}
    orig_stage = storeA._stage_snapshot_data

    def counting_stage(*a, **k):
        stage_calls["n"] += 1
        return orig_stage(*a, **k)

    storeA._stage_snapshot_data = counting_stage
    _race(storeA, storeB, spark, batchB, ["d", "k"])
    vA = storeA.merge(spark, batchA, ["d", "k"])
    assert vA == 3
    assert stage_calls["n"] == 2  # recompute: exactly one retry
    got = {(r.d, r.k, r.v) for r in storeA.read(spark).collect()}
    # A recomputed ON TOP of B: shared key 0 reads A, both inserts live
    assert got == {
        ("d1", 0, "A"), ("d1", 1, "base:1"), ("d1", 2, "base:2"),
        ("d1", 77, "A-NEW"), ("d1", 88, "B-NEW"),
    }
    # retries exhausted → the conflict surfaces as the typed error
    storeC = CommitLogStore(path)
    _race(storeC, storeB, spark, _pdf(spark, [("d1", 5, "B2")]), ["d", "k"])
    with pytest.raises(CommitConflictError):
        storeC.merge(
            spark, _pdf(spark, [("d1", 6, "C")]), ["d", "k"], max_retries=0
        )


def test_two_threads_merge_disjoint_partitions(spark, tmp_path):
    """A REAL two-thread race on one store: both writers merge
    disjoint partitions concurrently; whatever the interleaving, both
    commits land (one may rebase) and the final snapshot holds both."""
    import threading

    path = str(tmp_path / "s")
    store = CommitLogStore(path)
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(2) for k in range(3)]
    )
    store.commit(base, expect_version=None, partition_by="d", keys=["d", "k"])
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer(dval):
        try:
            s = CommitLogStore(path)
            batch = _pdf(spark, [(dval, 0, f"{dval}-UPD")])
            barrier.wait(timeout=60)
            s.merge(spark, batch, ["d", "k"], max_retries=4)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ts = [threading.Thread(target=writer, args=(d,)) for d in ("d0", "d1")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors
    assert store.latest_version() == 3
    got = {(r.d, r.k, r.v) for r in store.read(spark).collect()}
    assert ("d0", 0, "d0-UPD") in got and ("d1", 0, "d1-UPD") in got
    assert ("d0", 1, "0:1") in got and ("d1", 2, "1:2") in got


def test_compact_conflicts_with_racing_delete(spark, tmp_path):
    """r12 (VERDICT r11 #3): compact pins ``expect_version=latest``,
    so a DELETE that commits between compact's read and its publish
    makes the compact LOSE — it must raise (never resurrect the
    deleted rows by publishing files staged from the pre-delete
    snapshot), and with ``max_retries`` it recomputes from the new
    head and preserves the delete."""
    path = str(tmp_path / "s")
    store = CommitLogStore(path)
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(2) for k in range(40)]
    )
    store.commit(
        base.repartition(6), expect_version=None, partition_by="d",
        keys=["d", "k"],
    )
    racer = CommitLogStore(path)
    orig = racer._publish
    state = {"armed": True}

    def racy(manifest, token):
        if state["armed"]:
            state["armed"] = False
            store.delete_where(spark, [("k", "==", 7)])
        return orig(manifest, token)

    racer._publish = racy
    with pytest.raises(CommitConflictError):
        racer.compact(spark, target_file_bytes=1 << 30)
    # the delete won; no compact commit resurrected k=7
    got = {(r.d, r.k) for r in store.read(spark).collect()}
    assert not any(k == 7 for _, k in got)
    assert len(got) == 2 * 39
    # retry path: a fresh racing delete, compact recomputes and both land
    racer2 = CommitLogStore(path)
    orig2 = racer2._publish
    state2 = {"armed": True}

    def racy2(manifest, token):
        if state2["armed"]:
            state2["armed"] = False
            store.delete_where(spark, [("k", "==", 9)])
        return orig2(manifest, token)

    racer2._publish = racy2
    racer2.compact(spark, target_file_bytes=1 << 30, max_retries=2)
    got2 = {(r.d, r.k) for r in store.read(spark).collect()}
    assert not any(k in (7, 9) for _, k in got2)
    assert len(got2) == 2 * 38


def test_compact_conflicts_with_racing_merge(spark, tmp_path):
    """Compact-vs-MERGE race: the merge's upserted rows must survive
    whatever the interleaving — the stale compact loses, and a
    retried compact re-reads the merged snapshot."""
    path = str(tmp_path / "s")
    store = CommitLogStore(path)
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(2) for k in range(10)]
    )
    store.commit(
        base.repartition(4), expect_version=None, partition_by="d",
        keys=["d", "k"],
    )
    racer = CommitLogStore(path)
    orig = racer._publish
    state = {"armed": True}

    def racy(manifest, token):
        if state["armed"]:
            state["armed"] = False
            store.merge(
                spark, _pdf(spark, [("d0", 5, "MERGED"), ("d0", 99, "NEW")]),
                ["d", "k"],
            )
        return orig(manifest, token)

    racer._publish = racy
    racer.compact(spark, target_file_bytes=1 << 30, max_retries=1)
    got = {(r.d, r.k, r.v) for r in store.read(spark).collect()}
    assert ("d0", 5, "MERGED") in got and ("d0", 99, "NEW") in got
    assert len(got) == 21


def test_two_threads_compact_vs_delete(spark, tmp_path):
    """A REAL two-thread compact-vs-delete race: whatever the
    interleaving, the deleted key never resurrects, at least one
    writer lands, and re-applying any loser converges to the exact
    final state."""
    import threading

    path = str(tmp_path / "s")
    store = CommitLogStore(path)
    base = _pdf(
        spark, [(f"d{i}", k, f"{i}:{k}") for i in range(2) for k in range(40)]
    )
    store.commit(
        base.repartition(6), expect_version=None, partition_by="d",
        keys=["d", "k"],
    )
    barrier = threading.Barrier(2)
    failed: dict[str, BaseException] = {}

    def compactor():
        try:
            s = CommitLogStore(path)
            barrier.wait(timeout=60)
            s.compact(spark, target_file_bytes=1 << 30, max_retries=4)
        except BaseException as exc:  # noqa: BLE001
            failed["compact"] = exc

    def deleter():
        try:
            s = CommitLogStore(path)
            barrier.wait(timeout=60)
            s.delete_where(spark, [("k", "==", 7)])
        except BaseException as exc:  # noqa: BLE001
            failed["delete"] = exc

    ts = [threading.Thread(target=compactor), threading.Thread(target=deleter)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    # compact retries; the delete may lose the race (no retry loop) —
    # but only with the typed conflict error, and a re-apply converges
    assert "compact" not in failed, failed
    if "delete" in failed:
        assert isinstance(failed["delete"], CommitConflictError), failed
        store.delete_where(spark, [("k", "==", 7)])
    got = {(r.d, r.k) for r in store.read(spark).collect()}
    assert not any(k == 7 for _, k in got)
    assert len(got) == 2 * 39


def test_purge_dv_rewrites_only_dv_heavy_files(spark, tmp_path):
    """r12 (VERDICT r11 #5): ``purge_dv`` is REORG APPLY (PURGE) —
    only files whose deletion-vector mass exceeds the threshold are
    rewritten (mask applied, DV dropped); lightly-masked and clean
    files carry untouched, reads are row-identical before/after, the
    CDF across the reorg is empty, and a re-run is a no-op."""
    store = CommitLogStore(str(tmp_path / "s"))
    df = spark.range(400).selectExpr("'d0' AS d", "id AS k", "id AS amt")
    store.commit(df, expect_version=None, partition_by="d", keys=["d", "k"])
    m0 = store.manifest(store.latest_version())
    total = sum(st["bytes"] for st in m0["stats"].values())
    store.compact(spark, target_file_bytes=max(1, total // 4),
                  cluster_by=["k"])
    # heavy mask on the bottom k-range file, light mask near the top
    store.delete_where(spark, [("k", "<", 60)], cow_threshold=None)
    store.delete_where(spark, [("k", "==", 399)], cow_threshold=None)
    v1 = store.latest_version()
    m1 = store.manifest(v1)
    assert len(m1["dv"]) == 2
    before = {(r.k, r.amt) for r in store.read(spark).collect()}
    v2 = store.purge_dv(spark, dv_fraction=0.1)
    assert v2 == v1 + 1
    m2 = store.manifest(v2)
    assert m2["op"] == "reorg"
    # exactly one file rewritten: the heavy one; the light DV survives
    rewritten = set(m1["files"]) - set(m2["files"])
    assert len(rewritten) == 1
    assert len(m2["dv"]) == 1
    assert set(m2["dv"]) & rewritten == set()
    after = {(r.k, r.amt) for r in store.read(spark).collect()}
    assert after == before
    assert store.read_changes(spark, v1).count() == 0
    # idempotent: nothing left above threshold
    assert store.purge_dv(spark, dv_fraction=0.1) == v2
    # a tighter threshold purges the remaining light DV too
    v3 = store.purge_dv(spark, dv_fraction=0.0)
    assert v3 == v2 + 1
    assert "dv" not in store.manifest(v3)
    assert {(r.k, r.amt) for r in store.read(spark).collect()} == before


def test_vacuum_reaps_cow_replaced_files_inside_live_tokens(spark, tmp_path):
    """r11: a copy-on-write delete replaces individual files of an
    older commit whose SIBLINGS stay live, so the token dir stays
    referenced forever — vacuum must reap the replaced files
    file-granularly once history expires (physical GDPR erasure:
    COW delete → expire history → vacuum), while never touching a
    file any retained manifest lists, and leaving young dirs alone."""
    store = CommitLogStore(str(tmp_path / "s"))
    rows = [("dA", k, 0) for k in range(10)] + [("dB", k, 100 + k) for k in range(10)]
    store.commit(
        spark.createDataFrame(rows, "d string, k long, amt long").coalesce(1),
        expect_version=None, partition_by="d", keys=["d", "k"],
    )
    m1 = store.manifest(1)
    # COW rewrites dA's file (10/10 match); dB's file is untouched and
    # carried — the v1 token dir stays referenced through dB
    v2 = store.delete_where(spark, [("amt", "<", 50)], cow_threshold=0.5)
    m2 = store.manifest(v2)
    dead = [f for f in m1["files"] if f not in m2["files"]]
    live = [f for f in m1["files"] if f in m2["files"]]
    assert dead and live and dead[0].split(os.sep)[1] == live[0].split(os.sep)[1]
    # while v1 is retained, nothing is reaped (file still referenced)
    store.vacuum(retention_seconds=0)
    assert os.path.exists(os.path.join(store.path, dead[0]))
    # expire v1: the replaced file goes, its live sibling stays, reads exact
    deleted = store.vacuum(keep_versions=1, retention_seconds=0)
    assert os.path.join(store.path, dead[0]) in deleted
    assert not os.path.exists(os.path.join(store.path, dead[0]))
    assert os.path.exists(os.path.join(store.path, live[0]))
    got = {(r.d, r.k, r.amt) for r in store.read(spark).collect()}
    assert got == {("dB", k, 100 + k) for k in range(10)}
    # superseded DV sidecars are reaped the same way: DV-delete twice,
    # expire, and the first (replaced) DV file disappears
    s2 = CommitLogStore(str(tmp_path / "s2"))
    s2.commit(
        spark.createDataFrame(rows, "d string, k long, amt long").coalesce(1),
        expect_version=None, partition_by="d", keys=["d", "k"],
    )
    s2.delete_where(spark, [("k", "==", 1)], cow_threshold=None)
    dv1 = set(s2.manifest(2)["dv"].values())
    s2.delete_where(spark, [("k", "==", 2)], cow_threshold=None)
    dv2 = set(s2.manifest(3)["dv"].values())
    s2.vacuum(keep_versions=1, retention_seconds=0)
    for dvp in dv1 - dv2:
        assert not os.path.exists(os.path.join(s2.path, dvp))
    for dvp in dv2:
        assert os.path.exists(os.path.join(s2.path, dvp))
    assert s2.read(spark).count() == 16  # 20 - (k==1)x2 - (k==2)x2


# -- segmented manifests (r12 — VERDICT r11 #4) -------------------------------


def _range_parted(spark, n=400, parts=8):
    """Rows whose partition value is a disjoint id RANGE bucket, so
    every partition's segment envelope is tight and separable."""
    return (
        spark.range(n)
        .withColumn(
            "p", (F.col("id") / (n // parts)).cast("int").cast("string")
        )
        .withColumn("v", F.col("id") * 3)
    )


def test_segment_refs_dedupe_across_versions(spark, tmp_path):
    """An untouched partition's segment is content-addressed: the
    carrying commit reuses the parent's ref verbatim — publish I/O is
    O(touched partitions), and the segment file is written once."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    inc = spark.createDataFrame([(5, "0", 999)], "id long, p string, v long")
    v2 = store.merge(spark, inc, keys=["id"], partition_by="p")
    s1 = store.manifest_meta(1)["segments"]
    s2 = store.manifest_meta(v2)["segments"]
    assert set(s1) == set(s2)
    same = [p for p in s1 if s1[p]["ref"] == s2[p]["ref"]]
    assert sorted(same) == sorted(set(s1) - {"0"})
    # the hydrated views agree with the segment envelopes
    m2 = store.manifest(v2)
    assert sum(sm["n_files"] for sm in s2.values()) == len(m2["files"])
    assert store.read(spark).count() == 400
    assert store.read_where(spark, [("id", "==", 5)]).collect()[0].v == 999


def test_files_for_loads_only_matching_segments(spark, tmp_path):
    """Two-level pruning: the segment ENVELOPE eliminates whole
    partitions before their file metadata is ever parsed."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    files = store.files_for([("id", "between", (100, 110))])
    prof = store.last_prune_profile
    assert prof is not None
    assert prof["segments_total"] == 8
    # ids 100-110 span at most two 50-wide partitions
    assert prof["segments_loaded"] <= 2
    assert prof["files_matched"] == len(files) > 0
    # exactness: pruned read == full-scan filter
    got = {
        r.id
        for r in store.read_where(
            spark, [("id", "between", (100, 110))]
        ).collect()
    }
    assert got == set(range(100, 111))


def test_commit_carry_by_ref_never_parses_untouched_segments(
    spark, tmp_path, monkeypatch
):
    """The O(touched) commit claim, proven at the segment-load layer:
    a 1-partition merge against an 8-partition store parses at most
    the touched partition's segment (plus none for the carried rest)."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    loads: list[str] = []
    orig = CommitLogStore._load_segment

    def counting(self, ref):
        loads.append(ref)
        return orig(self, ref)

    monkeypatch.setattr(CommitLogStore, "_load_segment", counting)
    inc = spark.createDataFrame([(5, "0", 999)], "id long, p string, v long")
    v2 = store.merge(spark, inc, keys=["id"], partition_by="p")
    touched_ref = store.manifest_meta(1)["segments"]["0"]["ref"]
    assert set(loads) <= {touched_ref}
    # and the carried refs in v2 are the parent's, byte-identical
    s1, s2 = store.manifest_meta(1)["segments"], store.manifest_meta(v2)[
        "segments"
    ]
    assert all(s1[p]["ref"] == s2[p]["ref"] for p in s1 if p != "0")


def test_dml_recomposes_only_affected_segments(spark, tmp_path, monkeypatch):
    """DELETE planning + composition touch only segments whose
    envelope matches the predicate; every other partition carries as
    the parent's ref."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    loads: list[str] = []
    orig = CommitLogStore._load_segment

    def counting(self, ref):
        loads.append(ref)
        return orig(self, ref)

    monkeypatch.setattr(CommitLogStore, "_load_segment", counting)
    v2 = store.delete_where(spark, [("id", "==", 7)], cow_threshold=None)
    monkeypatch.undo()
    ref0 = store.manifest_meta(1)["segments"]["0"]["ref"]
    assert set(loads) == {ref0}
    s1 = store.manifest_meta(1)["segments"]
    s2 = store.manifest_meta(v2)["segments"]
    assert all(s1[p]["ref"] == s2[p]["ref"] for p in s1 if p != "0")
    assert s2["0"]["n_dv"] == 1 and s1["0"]["n_dv"] == 0
    assert store.read(spark).count() == 399


def test_purge_dv_parses_only_dv_bearing_segments(
    spark, tmp_path, monkeypatch
):
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    store.delete_where(spark, [("id", "==", 7)], cow_threshold=None)
    loads: list[str] = []
    orig = CommitLogStore._load_segment

    def counting(self, ref):
        loads.append(ref)
        return orig(self, ref)

    monkeypatch.setattr(CommitLogStore, "_load_segment", counting)
    v3 = store.purge_dv(spark, dv_fraction=0.0)
    monkeypatch.undo()
    dv_ref = store.manifest_meta(2)["segments"]["0"]["ref"]
    assert set(loads) == {dv_ref}
    assert not store.manifest(v3).get("dv")
    assert store.read(spark).count() == 399


def test_vacuum_reaps_unreferenced_segments(spark, tmp_path):
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    refs_v1 = {
        sm["ref"] for sm in store.manifest_meta(1)["segments"].values()
    }
    store.delete_where(spark, [("id", "<", 50)], cow_threshold=0.0)
    refs_v2 = {
        sm["ref"] for sm in store.manifest_meta(2)["segments"].values()
    }
    # expire v1: its now-unreferenced segments are reaped, v2's stay
    store.vacuum(keep_versions=1, retention_seconds=0)
    for ref in refs_v1 - refs_v2:
        assert not os.path.exists(os.path.join(store.path, ref))
    for ref in refs_v2:
        assert os.path.exists(os.path.join(store.path, ref))
    assert store.read(spark).count() == 350
    # age gate: a young unreferenced segment (in-flight publish) stays
    seg = store._write_segment({"files": [], "stats": {}})
    store.vacuum(keep_versions=1)  # default 600 s retention
    assert os.path.exists(os.path.join(store.path, seg))


def test_file_diff_matches_hydrated_brute_force(spark, tmp_path):
    """The segment-aware CDF diff is equal to the full-manifest set
    difference on every consecutive pair of a mixed history."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    inc = spark.createDataFrame([(5, "0", 999)], "id long, p string, v long")
    store.merge(spark, inc, keys=["id"], partition_by="p")
    store.delete_where(spark, [("id", "==", 200)], cow_threshold=None)
    store.update_where(spark, [("id", "==", 300)], {"v": 1})
    store.compact(spark)
    for v in store.versions():
        m = store.manifest_meta(v)
        if m.get("parent") is None:
            continue
        pre, post, pdv, cdv = store._file_diff(m["parent"], v)
        mp, mc = store.manifest(m["parent"]), store.manifest(v)
        bp = {(f, mp.get("dv", {}).get(f)) for f in mp["files"]}
        bc = {(f, mc.get("dv", {}).get(f)) for f in mc["files"]}
        assert pre == sorted(f for f, _ in bp - bc)
        assert post == sorted(f for f, _ in bc - bp)
        for f in pre:
            assert pdv.get(f) == mp.get("dv", {}).get(f)
        for f in post:
            assert cdv.get(f) == mc.get("dv", {}).get(f)


def test_history_meta_matches_hydrated_counts(spark, tmp_path):
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    store.delete_where(spark, [("id", "==", 7)], cow_threshold=None)
    for h in store.history():
        m = store.manifest(h["version"])
        assert h["n_files"] == len(m["files"])
        assert h["n_dv_files"] == len(m.get("dv", {}))
        assert h["rows_physical"] == sum(
            st["rows"] for st in m.get("stats", {}).values()
        )
        assert h["n_partitions"] == (len(m.get("partitions", {})) or None)


def test_compact_selects_candidates_meta_only(spark, tmp_path, monkeypatch):
    """r12: the scheduled-maintenance sweep derives its work list from
    segment ENVELOPES (n_files/bytes/n_dv) and loads only the
    partitions it rewrites; everything else carries as the parent's
    segment ref."""
    store = CommitLogStore(str(tmp_path / "s"))
    store.commit(_range_parted(spark), partition_by="p", keys=["id"])
    # give ONE partition a deletion vector: its envelope's n_dv > 0
    # puts it — and only it — on the compact work list (DV purge)
    v = store.delete_where(spark, [("id", "==", 7)], cow_threshold=None)
    idx = store._segment_index(store.manifest_meta(v))
    assert idx["0"]["n_dv"] == 1 and idx["1"]["n_dv"] == 0
    loads: list[str] = []
    orig = CommitLogStore._load_segment

    def counting(self, ref):
        loads.append(ref)
        return orig(self, ref)

    monkeypatch.setattr(CommitLogStore, "_load_segment", counting)
    v2 = store.compact(spark)
    monkeypatch.undo()
    assert v2 == v + 1
    # only the fragmented partition's segment was parsed
    assert set(loads) == {idx["0"]["ref"]}, loads
    s_old = store.manifest_meta(v)["segments"]
    s_new = store.manifest_meta(v2)["segments"]
    assert all(s_old[p]["ref"] == s_new[p]["ref"] for p in s_old if p != "0")
    assert s_new["0"]["n_dv"] == 0  # the rewrite purged the DV
    got = {r.id for r in store.read(spark).collect()}
    assert got == set(range(400)) - {7}
    # idempotence: a second sweep finds nothing to do, writes nothing
    assert store.compact(spark) == v2


def test_compact_converges_under_clustering(spark, tmp_path):
    """r12: deterministic per-partition quantile bins replace the
    SAMPLED global range partitioning, so a clustered compact is
    idempotent even when small partitions once straddled sampled
    boundaries (the old shape re-rewrote them every scheduled sweep),
    and no partition exceeds its bin target."""
    store = CommitLogStore(str(tmp_path / "s"))
    df = (
        spark.range(2000)
        .withColumn("p", (F.col("id") % 8).cast("string"))
        .withColumn("v", F.col("id"))
    )
    store.commit(df, partition_by="p", keys=["id"])
    store.delete_where(spark, [("id", "between", (0, 100))], cow_threshold=None)
    v = store.compact(spark, cluster_by=["id"])
    assert store.compact(spark, cluster_by=["id"]) == v  # converged
    idx = store._segment_index(store.manifest_meta(v))
    assert all(sm["n_files"] == 1 for sm in idx.values()), {
        p: sm["n_files"] for p, sm in idx.items()
    }
    assert store.read(spark).count() == 1899
    # multi-bin: per-partition file count never exceeds the bin target
    s2 = CommitLogStore(str(tmp_path / "b"))
    d2 = (
        spark.range(60000)
        .withColumn("p", (F.col("id") % 3).cast("string"))
        .withColumn("v", F.rand(7))
    )
    s2.commit(d2, partition_by="p", keys=["id"])
    s2.delete_where(spark, [("id", "==", 3)], cow_threshold=None)
    b = s2.compact(spark, target_file_bytes=150_000, cluster_by=["id"])
    meta = s2.manifest_meta(b)
    for val, sm in s2._segment_index(meta).items():
        want = max(1, -(-sm["stats"]["bytes"] // 150_000))
        assert sm["n_files"] <= want + 1, (val, sm["n_files"], want)
    assert s2.compact(spark, target_file_bytes=150_000, cluster_by=["id"]) == b
    assert s2.read(spark).count() == 59999


# -- r12 review fixes --------------------------------------------------------


def test_merge_with_no_usable_data_key_scopes_by_partition(spark, tmp_path):
    """MERGE whose keys reduce to the partition column (plus a
    timestamp key, excluded from file-stat pruning by design) must
    fall back to partition-level scoping, not crash: GroupedData.agg
    rejects an empty aggregate list, so the range collection has to
    go through count() when no non-partition key is prunable."""
    import datetime as _dt

    store = CommitLogStore(str(tmp_path / "s"))
    rows = [
        ("d0", _dt.datetime(2024, 1, 1, 10, 0, 0), 1),
        ("d0", _dt.datetime(2024, 1, 1, 11, 0, 0), 2),
        ("d1", _dt.datetime(2024, 1, 2, 10, 0, 0), 3),
    ]
    df = spark.createDataFrame(rows, "d string, ts timestamp, amt long")
    store.commit(df, expect_version=None, partition_by="d", keys=["d", "ts"])
    m1 = store.manifest(store.latest_version())
    up = spark.createDataFrame(
        [("d0", _dt.datetime(2024, 1, 1, 10, 0, 0), 111)],
        "d string, ts timestamp, amt long",
    )
    store.merge(spark, up, ["d", "ts"])  # pre-fix: AssertionError
    m2 = store.manifest(store.latest_version())
    got = {(r.d, r.amt) for r in store.read(spark).collect()}
    assert got == {("d0", 111), ("d0", 2), ("d1", 3)}
    # untouched partition d1 carried by reference, touched d0 rewritten
    assert set(m2["partitions"]["d1"]) == set(m1["partitions"]["d1"])
    assert set(m2["partitions"]["d0"]) != set(m1["partitions"]["d0"])


def test_vacuum_tolerates_concurrently_deleted_manifest(spark, tmp_path):
    """Two concurrent vacuums can race on the same expired manifest;
    the loser's unlink must be tolerated, matching every other GC
    branch in vacuum (ADVICE r11 made the file-granular branch
    tolerant; the expired-manifest branch was missed)."""
    store = CommitLogStore(str(tmp_path / "s"))
    for i in range(4):
        store.commit(_df(spark, [(i, f"v{i}")]), expect_version=i or None)
    # simulate the racing vacuum deleting an expired manifest first
    os.unlink(os.path.join(store.commits_dir, "v00000001.json"))
    store.vacuum(keep_versions=1, retention_seconds=0)
    assert store.latest_version() == 4
    # each commit is a full snapshot: only the head survives the GC
    assert {(r.k, r.v) for r in store.read(spark).collect()} == {(3, "v3")}


def test_relative_path_store_dv_read(spark, tmp_path, monkeypatch):
    """A store constructed with a RELATIVE path must still plan
    DV-masked reads correctly: the anti-join compares the absolute
    _metadata.file_path against driver-built paths, and executor
    tasks open sidecars against their own cwd — both sides must be
    resolved driver-side to the absolute store root."""
    monkeypatch.chdir(tmp_path)
    store = CommitLogStore("relstore")
    store.commit(
        spark.range(200).selectExpr("id AS k", "id * 2 AS v"),
        expect_version=None,
    )
    store.delete_where(spark, [("k", "between", (0, 49))], cow_threshold=None)
    assert store.manifest(store.latest_version()).get("dv"), "expected DV path"
    got = {r.k for r in store.read(spark).collect()}
    assert got == set(range(50, 200))
    assert store.read_where(spark, [("k", "<", 60)]).count() == 10


def test_unpartitioned_merge_rewrites_only_key_intersecting_files(
    spark, tmp_path
):
    """r12: MERGE on an UNPARTITIONED store prunes its rewrite set by
    footer key stats, exactly like the partitioned path — a 1-row
    upsert into a key-clustered table rewrites only the file whose
    range can hold the key; every disjoint file carries by reference
    with its stats, and the snapshot stays exact."""
    store = CommitLogStore(str(tmp_path / "s"))
    df = spark.range(400).selectExpr("id AS k", "id * 10 AS amt")
    store.commit(df, expect_version=None, keys=["k"])
    m0 = store.manifest(store.latest_version())
    total = sum(st["bytes"] for st in m0["stats"].values())
    store.compact(spark, target_file_bytes=max(1, total // 4),
                  cluster_by=["k"])
    m1 = store.manifest(store.latest_version())
    n_files = len(m1["files"])
    assert n_files >= 3, m1["files"]
    one = spark.createDataFrame([(5, 555)], "k long, amt long")
    store.merge(spark, one, ["k"])
    m2 = store.manifest(store.latest_version())
    assert "partitions" not in m2  # still unpartitioned
    rewritten = set(m1["files"]) - set(m2["files"])
    appended = set(m2["files"]) - set(m1["files"])
    carried = set(m1["files"]) & set(m2["files"])
    assert len(rewritten) == 1, (rewritten, appended)
    assert len(carried) == n_files - 1
    assert len(appended) >= 1
    for f in carried:
        assert m2["stats"][f] == m1["stats"][f]
    got = {(r.k, r.amt) for r in store.read(spark).collect()}
    want = {(k, k * 10) for k in range(400) if k != 5} | {(5, 555)}
    assert got == want
    # CDF across the merge shows only the merged key
    changes = store.read_changes(spark, store.latest_version() - 1).collect()
    assert {(r.k, r._change_type) for r in changes} == {
        (5, "update_preimage"),
        (5, "update_postimage"),
    }
    # all-new-keys merge: nothing rewritten, pure append
    new = spark.createDataFrame([(1000, 1)], "k long, amt long")
    store.merge(spark, new, ["k"])
    m3 = store.manifest(store.latest_version())
    assert set(m2["files"]) - set(m3["files"]) == set()
    assert store.read(spark).count() == 401
    # CDC tombstone prunes the same way and the delete lands
    tomb = spark.createDataFrame(
        [(5, None, "delete")], "k long, amt long, op string"
    )
    store.merge_cdc(spark, tomb, ["k"])
    m4 = store.manifest(store.latest_version())
    assert len(set(m3["files"]) - set(m4["files"])) <= 2
    got4 = {(r.k, r.amt) for r in store.read(spark).collect()}
    assert got4 == (want | {(1000, 1)}) - {(5, 555)}


def test_unpartitioned_merge_carry_respects_deletion_vectors(
    spark, tmp_path
):
    """A carried (key-disjoint) file of an unpartitioned store keeps
    its deletion vector across the merge — masked rows must not
    resurrect."""
    store = CommitLogStore(str(tmp_path / "s"))
    df = spark.range(100).selectExpr("id AS k", "id AS amt")
    store.commit(df, expect_version=None, keys=["k"])
    m0 = store.manifest(store.latest_version())
    total = sum(st["bytes"] for st in m0["stats"].values())
    store.compact(spark, target_file_bytes=max(1, total // 4),
                  cluster_by=["k"])
    store.delete_where(spark, [("k", "==", 90)], cow_threshold=None)
    m1 = store.manifest(store.latest_version())
    assert m1.get("dv"), "expected a deletion vector"
    one = spark.createDataFrame([(1, 111)], "k long, amt long")
    store.merge(spark, one, ["k"])
    m2 = store.manifest(store.latest_version())
    assert m2.get("dv") == m1.get("dv"), "carried file lost its DV"
    got = {(r.k, r.amt) for r in store.read(spark).collect()}
    assert got == {(k, k) for k in range(100) if k not in (1, 90)} | {(1, 111)}

def test_commit_append_carries_parent_files(spark, tmp_path):
    """r14: commit(op='append') on the LIBRARY face must carry the
    parent's files by reference (it used to stage only the new data —
    an overwrite wearing an append label), inherit partition layout,
    schema-check, and inherit keys."""
    from calorista_spark.sources.commitlog import CommitLogStore

    # unpartitioned
    st = CommitLogStore(str(tmp_path / "u"))
    st.commit(
        spark.range(5).selectExpr("id AS k", "id AS v"),
        expect_version=None,
        keys=["k"],
    )
    st.commit(
        spark.createDataFrame([(100, 100)], "k long, v long"), op="append"
    )
    assert sorted(r.k for r in st.read(spark).collect()) == [
        0, 1, 2, 3, 4, 100,
    ]
    m = st.manifest(st.latest_version())
    assert m.get("keys") == ["k"]  # inherited
    # partitioned: untouched partitions carry by ref
    sp = CommitLogStore(str(tmp_path / "p"))
    sp.commit(
        spark.range(30).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS g", "id AS v"
        ),
        expect_version=None,
        partition_by="g",
    )
    m1 = sp.manifest(1)
    sp.commit(
        spark.createDataFrame([(100, "1", 100)], "k long, g string, v long"),
        op="append",
    )
    m2 = sp.manifest(2)
    assert m2["partition_by"] == "g"
    assert m2["partitions"]["0"] == m1["partitions"]["0"]
    assert m2["partitions"]["2"] == m1["partitions"]["2"]
    assert set(m1["partitions"]["1"]) < set(m2["partitions"]["1"])
    assert sp.read(spark).count() == 31
    # schema mismatch raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="append schema mismatch"):
        sp.commit(
            spark.createDataFrame([(1,)], "k long"), op="append"
        )
    # layout conflict raises
    with _pytest.raises(ValueError, match="conflicts"):
        sp.commit(
            spark.createDataFrame(
                [(100, "1", 100)], "k long, g string, v long"
            ),
            op="append",
            partition_by="k",
        )
