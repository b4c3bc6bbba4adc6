"""Versioned table sink: snapshot-isolated reads + time travel (K4/O5 made
transactional).

Dynamic partition overwrite (operators/upsert.py) gives idempotent
RECOMPUTE, but a reader that lists files mid-rewrite can still see a
partition half-replaced. This module adds the missing isolation level with
the classic lakehouse commit protocol, reduced to its core: every write
lands in a fresh immutable version directory (``v=N``), and readers resolve
the table through a single manifest file that is published ATOMICALLY.
A reader therefore sees exactly one complete version — never a partial
write — and old versions remain readable (time travel) until vacuumed.

The atomic-publish primitive is pluggable (``TableFS``): data files always
flow through Spark's own Hadoop FS layer (``df.write.parquet`` works on
file:/, hdfs:/, s3a:/ alike — immutable once written), so ONLY the tiny
manifest needs a custom commit primitive. Three implementations:

- ``LocalTableFS`` (default): POSIX write-temp + ``os.replace`` — atomic on
  any local/NFS filesystem; single writer per table is the documented
  contract (the conditional-put check is best-effort, not race-free).
- ``HadoopTableFS``: routes through ``org.apache.hadoop.fs`` via the
  SparkSession's JVM, so commits work on hdfs:// and s3a:// paths; the
  publish is a ``FileContext.rename(OVERWRITE)`` — atomic on HDFS, and on
  S3A the small-object PUT-on-rename makes torn reads impossible (readers
  see old or new manifest, never half of one).
- ``FakeObjectStoreFS``: a rename-LESS object store model for tests — the
  manifest lives in a KV with compare-and-swap etags (the S3
  ``If-Match``-conditional-put contract); a concurrent manifest advance
  raises ``CommitConflict`` instead of silently last-writer-wins.

Conditional-put contract (what a production object store must provide):
``put_text(path, text, if_match=etag)`` succeeds iff the object's current
etag equals ``if_match`` (``None`` = must-not-exist is NOT required — the
protocol tolerates create-or-replace for the first commit because version
directories are claimed before the manifest flips). On conflict the commit
raises ``CommitConflict`` and the writer's version directory becomes an
invisible orphan — safe to retry, vacuum reclaims it.

Committed-version history: the manifest records every version it has ever
published (``history``), so time travel validates against COMMITTED
history, not directory presence — an orphan ``v=N`` from a crashed writer
is unreadable even by explicit ``read_table(version=N)`` (it may be torn).

Scale notes: the manifest is one tiny file — the same design point as
Delta's _last_checkpoint / Iceberg's version-hint; data files are immutable
parquet, so concurrent readers of version N are unaffected by the writer
producing N+1. A crashed writer leaves an orphan ``v=N`` directory that no
manifest points to: readers never see it, and the next successful write
simply claims the next free version (vacuum removes orphans).

Reference grounding: the course's upserts rewrite CSVs in place
(lecture3/13_binance_calculate_hourly.py:79-85) — readers racing that
rewrite see truncated files; this is the at-scale repair.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_manifest.json"


class CommitConflict(RuntimeError):
    """Conditional put failed: another writer advanced the manifest first."""


class LocalTableFS:
    """POSIX filesystem: atomic publish via write-temp + ``os.replace``.

    The ``if_match`` check is best-effort (read-compare-replace has a TOCTOU
    window); the documented contract for this implementation is a single
    writer per table — the normal Spark-driver-owns-the-sink deployment.
    """

    def read_text(self, path: str) -> tuple[str, str] | None:
        """Return (text, etag) or None if absent. Etag = the text itself
        (manifests are tiny; content equality IS version equality here)."""
        try:
            with open(path) as f:
                text = f.read()
        except OSError:
            return None
        return text, text

    def put_text(self, path: str, text: str, if_match: str | None = None) -> None:
        if if_match is not None:
            cur = self.read_text(path)
            if cur is None or cur[1] != if_match:
                raise CommitConflict(f"manifest advanced under writer: {path}")
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)  # the atomic commit point

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except OSError:
            return []

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path)


class FakeObjectStoreFS:
    """Rename-less object store for tests: manifests live in an in-process
    KV with monotonically increasing etags and TRUE compare-and-swap puts
    (the conditional-put contract a real object store provides); data
    parquet still lands on the local backing dir, modelling immutable
    objects. There is no rename anywhere in this path."""

    def __init__(self) -> None:
        self._kv: dict[str, tuple[str, str]] = {}
        self._gen = 0
        self.puts = 0
        self.conflicts = 0

    def read_text(self, path: str) -> tuple[str, str] | None:
        return self._kv.get(path)

    def put_text(self, path: str, text: str, if_match: str | None = None) -> None:
        cur = self._kv.get(path)
        if if_match is not None and (cur is None or cur[1] != if_match):
            self.conflicts += 1
            raise CommitConflict(f"etag mismatch on {path}")
        self._gen += 1
        self.puts += 1
        self._kv[path] = (text, f"etag-{self._gen}")

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except OSError:
            return []

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path)


class HadoopTableFS:
    """Manifest I/O through ``org.apache.hadoop.fs`` via the session JVM,
    so the same commit protocol works on hdfs:// and s3a:// paths (where
    driver-local ``os.replace`` cannot reach). Publish = write temp object
    + ``FileContext.rename(OVERWRITE)`` — atomic on HDFS; on S3A the
    manifest is a single small object so readers see old-or-new, never
    torn. ``if_match`` is best-effort (as LocalTableFS) — a store with true
    conditional PUT should implement the FakeObjectStoreFS contract
    instead."""

    def __init__(self, spark: SparkSession) -> None:
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._jpath(p).getFileSystem(self._conf)

    def read_text(self, path: str) -> tuple[str, str] | None:
        fs, p = self._fs(path), self._jpath(path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            text = self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return text, text

    def put_text(self, path: str, text: str, if_match: str | None = None) -> None:
        if if_match is not None:
            cur = self.read_text(path)
            if cur is None or cur[1] != if_match:
                raise CommitConflict(f"manifest advanced under writer: {path}")
        tmp = f"{path}.tmp.{os.getpid()}"
        fs, tmp_p = self._fs(path), self._jpath(tmp)
        out = fs.create(tmp_p, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        # FileContext.rename(OVERWRITE): atomic replace on HDFS/local FS
        Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gateway.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._jpath(path).toUri(), self._conf
        )
        fc.rename(tmp_p, self._jpath(path), opts)

    def listdir(self, path: str) -> list[str]:
        fs, p = self._fs(path), self._jpath(path)
        if not fs.exists(p):
            return []
        return [s.getPath().getName() for s in fs.listStatus(p)]

    def mkdirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._jpath(path))

    def rmtree(self, path: str) -> None:
        self._fs(path).delete(self._jpath(path), True)


_DEFAULT_FS = LocalTableFS()


def _resolve_fs(fs) -> LocalTableFS:
    return fs if fs is not None else _DEFAULT_FS


def _manifest_path(path: str) -> str:
    return f"{path.rstrip('/')}/{_MANIFEST}"


def _read_manifest(path: str, fs=None) -> tuple[dict, str | None]:
    """(manifest dict, etag) — ({}, None) for an empty/uncommitted table.
    A manifest that does not parse raises ValueError: read as empty, the
    next commit would re-commit ledgered batches and publish a manifest
    without the batch ledger or the time-travel history."""
    fs = _resolve_fs(fs)
    mpath = _manifest_path(path)
    got = fs.read_text(mpath)
    if got is None:
        return {}, None
    text, etag = got
    try:
        return json.loads(text), etag
    except ValueError as e:
        raise ValueError(f"corrupt table manifest at {mpath}: {e}") from e


def _committed_versions(manifest: dict) -> list[int]:
    """Every version this manifest has ever published."""
    return sorted(int(v) for v in manifest.get("history", []))


def current_version(path: str, fs=None) -> int | None:
    """Committed version per the manifest, or None for an empty table.
    Orphan v=N directories without a manifest entry are invisible."""
    manifest, _ = _read_manifest(path, fs)
    try:
        return int(manifest["version"])
    except (KeyError, TypeError, ValueError):
        return None


def table_versions(path: str, fs=None) -> list[int]:
    """All version directories present on disk (committed or orphaned)."""
    fs = _resolve_fs(fs)
    out = []
    for n in fs.listdir(path):
        if n.startswith("v="):
            try:
                out.append(int(n[2:]))
            except ValueError:
                continue
    return sorted(out)


def committed_versions(path: str, fs=None) -> list[int]:
    """Versions the manifest has published (time-travelable history);
    excludes orphans from crashed writers."""
    manifest, _ = _read_manifest(path, fs)
    return _committed_versions(manifest)


def _next_version(path: str, fs) -> int:
    existing = table_versions(path, fs)
    return (existing[-1] + 1) if existing else 1


def write_table_version(df: DataFrame, path: str, fs=None) -> int:
    """Write ``df`` as the table's next version and atomically publish it.

    The data write (slow, distributed) happens into an unpublished ``v=N``
    directory; the commit is a single conditional manifest put (fast,
    atomic). A crash before the put leaves readers on the previous version
    with no cleanup required for correctness."""
    fs = _resolve_fs(fs)
    fs.mkdirs(path)
    version = _next_version(path, fs)
    df.write.mode("errorifexists").parquet(f"{path.rstrip('/')}/v={version}")
    manifest, etag = _read_manifest(path, fs)
    new = {
        "version": version,
        "history": _committed_versions(manifest) + [version],
    }
    # Preserve the streaming batch ledger (commit_batch) across batch
    # rewrites — dropping it would let a replayed micro-batch double-commit.
    if "batches" in manifest:
        new["batches"] = manifest["batches"]
    fs.put_text(_manifest_path(path), json.dumps(new), if_match=etag)
    return version


def read_table(
    spark: SparkSession, path: str, version: int | None = None, fs=None
) -> DataFrame:
    """Read the committed snapshot (default) or a specific COMMITTED
    version (time travel). Raises FileNotFoundError for an
    empty/uncommitted table and ValueError for a vacuumed or
    never-committed version — an orphan ``v=N`` from a crashed writer is
    not readable even explicitly (its data may be torn)."""
    manifest, _ = _read_manifest(path, fs)
    committed = _committed_versions(manifest)
    if version is None:
        try:
            version = int(manifest["version"])
        except (KeyError, TypeError, ValueError):
            raise FileNotFoundError(f"no committed version at {path}") from None
    if version not in committed:
        raise ValueError(f"version {version} was never committed at {path}")
    if version not in table_versions(path, fs):
        raise ValueError(f"version {version} vacuumed at {path}")
    return spark.read.parquet(f"{path.rstrip('/')}/v={version}")


def vacuum_table(path: str, keep_last: int = 2, fs=None) -> list[int]:
    """Remove all version directories except the newest ``keep_last``
    committed-or-newer ones, INCLUDING orphans from crashed writers.
    Never removes the currently committed version. Returns removed
    versions."""
    fs = _resolve_fs(fs)
    committed = current_version(path, fs)
    versions = table_versions(path, fs)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    if committed is not None:
        keep.add(committed)
    removed = []
    for v in versions:
        if v not in keep:
            fs.rmtree(f"{path.rstrip('/')}/v={v}")
            removed.append(v)
    return removed


def commit_batch(df: DataFrame, path: str, batch_id: int, fs=None) -> int | None:
    """Exactly-once commit for streaming sinks: write ``df`` as the next
    version UNLESS ``batch_id`` is already in the manifest's batch ledger,
    in which case this is a replay and the call is a no-op (returns None).

    The ledger rides in the same atomically-published manifest as the
    version pointer, so "which batches are committed" and "what readers
    see" can never disagree — the property that makes foreachBatch +
    versioned commits exactly-once end-to-end: a crash after the data
    write but before the publish leaves an invisible orphan, and the
    replayed batch claims a fresh version; a crash after the publish makes
    the replay a no-op."""
    fs = _resolve_fs(fs)
    manifest, etag = _read_manifest(path, fs)
    committed = manifest.get("batches", {})
    if str(batch_id) in committed:
        return None
    fs.mkdirs(path)
    version = _next_version(path, fs)
    df.write.mode("errorifexists").parquet(f"{path.rstrip('/')}/v={version}")
    new = {
        "version": version,
        "history": _committed_versions(manifest) + [version],
        "batches": {**committed, str(batch_id): version},
    }
    fs.put_text(_manifest_path(path), json.dumps(new), if_match=etag)
    return version


# ---------------------------------------------------------------------------
# Multi-table atomic commits: N tables advance under ONE manifest put.
# ---------------------------------------------------------------------------


def commit_batch_multi(
    dfs: dict[str, DataFrame], root: str, batch_id: int, fs=None
) -> dict[str, int] | None:
    """Atomically commit several tables as one batch: every ``dfs[name]``
    lands in ``root/name/v=N`` (unpublished), then a SINGLE conditional
    manifest put at ``root/_manifest.json`` publishes all of them. There is
    exactly one commit point, so a crash anywhere leaves either NO table
    advanced (all writes become invisible orphans) or ALL tables advanced —
    the multi-table state can never tear (the failure mode of three
    independent per-table commits, where a crash between commits leaves a
    replay reading half-advanced state).

    Replaying a committed ``batch_id`` is a no-op (returns None); otherwise
    returns {table name: committed version}."""
    fs = _resolve_fs(fs)
    manifest, etag = _read_manifest(root, fs)
    ledger = manifest.get("batches", {})
    if str(batch_id) in ledger:
        return None
    tables = dict(manifest.get("tables", {}))
    history = {k: list(v) for k, v in manifest.get("table_history", {}).items()}
    versions: dict[str, int] = {}
    for name, df in dfs.items():
        sub = f"{root.rstrip('/')}/{name}"
        fs.mkdirs(sub)
        v = _next_version(sub, fs)
        df.write.mode("errorifexists").parquet(f"{sub}/v={v}")
        versions[name] = v
        tables[name] = v
        history.setdefault(name, []).append(v)
    new = {
        "tables": tables,
        "table_history": history,
        "batches": {**ledger, str(batch_id): versions},
    }
    fs.put_text(_manifest_path(root), json.dumps(new), if_match=etag)
    return versions


def multi_table_batches(root: str, fs=None) -> dict[str, dict[str, int]]:
    """The committed batch ledger: {batch_id: {table: version}} — the
    authoritative record of which versions exist; orphans are absent."""
    manifest, _ = _read_manifest(root, fs)
    return {
        str(b): {k: int(v) for k, v in vs.items()}
        for b, vs in manifest.get("batches", {}).items()
    }


def read_multi_table(
    spark: SparkSession,
    root: str,
    name: str,
    version: int | None = None,
    fs=None,
) -> DataFrame:
    """Read a table committed via ``commit_batch_multi`` at its current
    (default) or an explicit COMMITTED version. Raises FileNotFoundError if
    the table has never been committed and ValueError for an orphan
    version."""
    return spark.read.parquet(_multi_table_path(root, name, version, fs))


def _multi_table_path(
    root: str, name: str, version: int | None = None, fs=None
) -> str:
    """Directory of a committed version of ``name`` (the current one by
    default); raises as :func:`read_multi_table` documents."""
    manifest, _ = _read_manifest(root, fs)
    tables = manifest.get("tables", {})
    history = manifest.get("table_history", {}).get(name, [])
    if version is None:
        if name not in tables:
            raise FileNotFoundError(f"no committed table {name!r} at {root}")
        version = int(tables[name])
    if int(version) not in {int(v) for v in history}:
        raise ValueError(f"version {version} of {name!r} never committed at {root}")
    return f"{root.rstrip('/')}/{name}/v={int(version)}"
