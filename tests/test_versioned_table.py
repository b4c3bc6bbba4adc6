"""Versioned-table sink: snapshot isolation, time travel, crash orphans,
vacuum — the commit-protocol contracts (operators/table.py)."""

from __future__ import annotations

import json
import os

import pytest

from data_pipelines_cu_spark.operators import table as vt


def _df(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v string")


def test_write_read_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    assert vt.current_version(path) is None
    v1 = vt.write_table_version(_df(spark, ["a", "b"]), path)
    v2 = vt.write_table_version(_df(spark, ["c"]), path)
    assert (v1, v2) == (1, 2)
    assert vt.current_version(path) == 2
    assert {r.v for r in vt.read_table(spark, path).collect()} == {"c"}
    assert {r.v for r in vt.read_table(spark, path, version=1).collect()} == {"a", "b"}


def test_reader_snapshot_survives_concurrent_write(spark, tmp_path):
    """A reader resolved at version N keeps returning N's rows even after
    a writer publishes N+1 — immutable version dirs give snapshot
    isolation without coordination."""
    path = str(tmp_path / "t")
    vt.write_table_version(_df(spark, ["old"]), path)
    snapshot = vt.read_table(spark, path)  # resolves v=1 paths now
    vt.write_table_version(_df(spark, ["new1", "new2"]), path)
    assert {r.v for r in snapshot.collect()} == {"old"}
    assert {r.v for r in vt.read_table(spark, path).collect()} == {"new1", "new2"}


def test_crashed_writer_is_invisible_and_version_not_reused(spark, tmp_path):
    """A write that died before the manifest rename (simulated: version
    dir exists, manifest still points at v1) must not be visible; the next
    successful write claims a FRESH version number, never the orphan's."""
    path = str(tmp_path / "t")
    vt.write_table_version(_df(spark, ["committed"]), path)
    # simulate the crash: data landed for v=2, manifest never flipped
    _df(spark, ["torn", "write"]).write.parquet(os.path.join(path, "v=2"))
    assert vt.current_version(path) == 1
    assert {r.v for r in vt.read_table(spark, path).collect()} == {"committed"}
    v = vt.write_table_version(_df(spark, ["recovered"]), path)
    assert v == 3  # orphan v=2 is skipped, not overwritten
    assert {r.v for r in vt.read_table(spark, path).collect()} == {"recovered"}


def test_vacuum_keeps_committed_and_drops_orphans(spark, tmp_path):
    path = str(tmp_path / "t")
    for tag in ["one", "two", "three"]:
        vt.write_table_version(_df(spark, [tag]), path)
    # orphan from a crashed writer
    _df(spark, ["orphan"]).write.parquet(os.path.join(path, "v=9"))
    removed = vt.vacuum_table(path, keep_last=1)
    assert removed == [1, 2]
    assert vt.table_versions(path) == [3, 9] or vt.table_versions(path) == [3]
    # keep_last=1 keeps the newest dir (9, an orphan) AND the committed 3
    assert vt.current_version(path) == 3
    assert {r.v for r in vt.read_table(spark, path).collect()} == {"three"}
    with pytest.raises(ValueError):
        vt.read_table(spark, path, version=1)


def test_manifest_commit_is_all_or_nothing(spark, tmp_path):
    """The manifest on disk is always complete JSON: a reader can never
    observe a half-written manifest because publication goes through a
    temp file + rename."""
    path = str(tmp_path / "t")
    vt.write_table_version(_df(spark, ["x"]), path)
    with open(os.path.join(path, "_manifest.json")) as f:
        m = json.load(f)
    assert m == {"version": 1, "history": [1]}
    assert not [p for p in os.listdir(path) if p.startswith("_manifest.json.tmp")]


def test_commit_batch_exactly_once_and_replay_noop(spark, tmp_path):
    """Streaming commit protocol: a replayed batch_id is a no-op (no new
    version, reader state unchanged); distinct batches commit distinct
    versions; the ledger survives an interleaved batch write."""
    path = str(tmp_path / "t")
    v1 = vt.commit_batch(_df(spark, ["b0"]), path, batch_id=0)
    v2 = vt.commit_batch(_df(spark, ["b1"]), path, batch_id=1)
    assert (v1, v2) == (1, 2)
    assert vt.commit_batch(_df(spark, ["b1-replayed"]), path, batch_id=1) is None
    assert vt.current_version(path) == 2
    assert {r.v for r in vt.read_table(spark, path).collect()} == {"b1"}
    # an interleaved batch (non-streaming) write must not erase the ledger
    vt.write_table_version(_df(spark, ["compaction"]), path)
    assert vt.commit_batch(_df(spark, ["b0-replayed"]), path, batch_id=0) is None
    assert vt.current_version(path) == 3


def test_corrupt_manifest_raises_instead_of_reading_empty(spark, tmp_path):
    """A manifest that does not parse must not read as an empty table:
    the next commit would re-commit a ledgered batch and publish a
    manifest without the batch ledger or the time-travel history."""
    path = str(tmp_path / "t")
    vt.commit_batch(_df(spark, ["b0"]), path, batch_id=0)
    manifest = os.path.join(path, "_manifest.json")
    with open(manifest, "w") as f:
        f.write('{"version": 1, "hist')
    with pytest.raises(ValueError, match="_manifest.json"):
        vt.commit_batch(_df(spark, ["b0-replayed"]), path, batch_id=0)
    with pytest.raises(ValueError, match="_manifest.json"):
        vt.read_table(spark, path)
    assert vt.table_versions(path) == [1]  # no second version landed


def test_streaming_into_versioned_table_end_to_end(spark, tmp_path):
    """Two micro-batches stream into the table as two committed versions;
    the latest snapshot holds the last batch and time travel reaches the
    first; a checkpoint-preserving rerun with no new files commits
    nothing."""
    import json as _json
    import os as _os

    from data_pipelines_cu_spark.streaming import jobs

    src = tmp_path / "in"
    src.mkdir()
    for i in range(2):
        p = src / f"f{i}.json"
        with open(p, "w") as f:
            f.write(_json.dumps({"event_id": i, "v": f"x{i}"}) + "\n")
        _os.utime(p, (1_700_000_000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema("event_id long, v string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    table_path = str(tmp_path / "table")
    q = jobs.run_to_versioned_table(
        stream, table_path, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert vt.current_version(table_path) == 2
    assert {r.v for r in vt.read_table(spark, table_path).collect()} == {"x1"}
    assert {r.v for r in vt.read_table(spark, table_path, version=1).collect()} == {"x0"}
    # rerun over the same checkpoint: no new input -> no new commits
    q2 = jobs.run_to_versioned_table(
        stream, table_path, checkpoint=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert vt.current_version(table_path) == 2


def test_time_travel_rejects_orphan_version(spark, tmp_path):
    """Explicit read_table(version=N) must refuse an orphan version a
    crashed writer left behind — directory presence is not commit history,
    and the orphan's data may be torn."""
    path = str(tmp_path / "t")
    vt.write_table_version(_df(spark, ["committed"]), path)
    _df(spark, ["torn"]).write.parquet(os.path.join(path, "v=2"))
    with pytest.raises(ValueError, match="never committed"):
        vt.read_table(spark, path, version=2)
    # the committed one still time-travels after a later commit
    vt.write_table_version(_df(spark, ["newer"]), path)
    assert {r.v for r in vt.read_table(spark, path, version=1).collect()} == {"committed"}
    assert vt.committed_versions(path) == [1, 3]


def test_fake_object_store_rename_less_conditional_put(spark, tmp_path):
    """The full commit protocol against a rename-LESS object store: the
    manifest lives in a CAS KV (conditional put), data parquet is immutable
    objects. Write/read/time-travel/exactly-once all hold, and a stale-etag
    put raises CommitConflict instead of last-writer-wins."""
    fs = vt.FakeObjectStoreFS()
    path = str(tmp_path / "t")
    v1 = vt.write_table_version(_df(spark, ["a"]), path, fs=fs)
    v2 = vt.commit_batch(_df(spark, ["b"]), path, batch_id=7, fs=fs)
    assert (v1, v2) == (1, 2)
    assert vt.commit_batch(_df(spark, ["b-replay"]), path, batch_id=7, fs=fs) is None
    assert vt.current_version(path, fs=fs) == 2
    assert {r.v for r in vt.read_table(spark, path, fs=fs).collect()} == {"b"}
    assert {r.v for r in vt.read_table(spark, path, version=1, fs=fs).collect()} == {"a"}
    # concurrent writer conflict: stale etag must NOT silently win
    manifest_key = path + "/_manifest.json"
    _, stale = fs.read_text(manifest_key)
    fs.put_text(manifest_key, fs.read_text(manifest_key)[0], if_match=stale)
    with pytest.raises(vt.CommitConflict):
        fs.put_text(manifest_key, "{}", if_match=stale)
    # POSIX rename never ran: all publishes were conditional KV puts
    assert fs.puts >= 3 and not [
        p for p in os.listdir(path) if p.startswith("_manifest.json")
    ]


def test_hadoop_fs_flavor_on_local_paths(spark, tmp_path):
    """HadoopTableFS drives the same protocol through org.apache.hadoop.fs
    (exercised here via the local Hadoop FileSystem — the identical code
    path serves hdfs:// and s3a:// URIs on a real cluster)."""
    fs = vt.HadoopTableFS(spark)
    path = str(tmp_path / "t")
    v1 = vt.write_table_version(_df(spark, ["h1"]), path, fs=fs)
    v2 = vt.write_table_version(_df(spark, ["h2"]), path, fs=fs)
    assert (v1, v2) == (1, 2)
    assert vt.current_version(path, fs=fs) == 2
    assert {r.v for r in vt.read_table(spark, path, fs=fs).collect()} == {"h2"}
    assert {r.v for r in vt.read_table(spark, path, version=1, fs=fs).collect()} == {"h1"}
    assert vt.commit_batch(_df(spark, ["h3"]), path, batch_id=0, fs=fs) == 3
    assert vt.commit_batch(_df(spark, ["h3r"]), path, batch_id=0, fs=fs) is None
    assert vt.vacuum_table(path, keep_last=1, fs=fs) == [1, 2]
    with pytest.raises(ValueError, match="vacuumed"):
        vt.read_table(spark, path, version=1, fs=fs)


def test_commit_batch_multi_single_commit_point(spark, tmp_path):
    """N tables advance under ONE manifest put: a replayed batch no-ops for
    ALL tables, and a crash between data writes and the publish (simulated:
    data dirs exist, manifest never flipped) leaves every table unadvanced."""
    root = str(tmp_path / "state")
    got = vt.commit_batch_multi(
        {"a": _df(spark, ["a1"]), "b": _df(spark, ["b1"])}, root, batch_id=1
    )
    assert got == {"a": 1, "b": 1}
    assert vt.commit_batch_multi(
        {"a": _df(spark, ["aX"]), "b": _df(spark, ["bX"])}, root, batch_id=1
    ) is None
    assert {r.v for r in vt.read_multi_table(spark, root, "a").collect()} == {"a1"}
    # simulated partial crash: batch 2's data landed for BOTH tables but the
    # manifest never flipped -> readers still on batch 1, and the next
    # successful batch claims fresh version numbers
    _df(spark, ["a-torn"]).write.parquet(os.path.join(root, "a", "v=2"))
    _df(spark, ["b-torn"]).write.parquet(os.path.join(root, "b", "v=2"))
    assert {r.v for r in vt.read_multi_table(spark, root, "a").collect()} == {"a1"}
    with pytest.raises(ValueError, match="never committed"):
        vt.read_multi_table(spark, root, "a", version=2)
    got3 = vt.commit_batch_multi(
        {"a": _df(spark, ["a3"]), "b": _df(spark, ["b3"])}, root, batch_id=3
    )
    assert got3 == {"a": 3, "b": 3}
    assert vt.multi_table_batches(root) == {
        "1": {"a": 1, "b": 1}, "3": {"a": 3, "b": 3}
    }
    assert {r.v for r in vt.read_multi_table(spark, root, "b").collect()} == {"b3"}
    # time travel to batch 1's snapshot of table b
    assert {r.v for r in vt.read_multi_table(spark, root, "b", version=1).collect()} == {"b1"}
