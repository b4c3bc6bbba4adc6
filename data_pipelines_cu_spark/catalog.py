"""Fixture table catalog: load the driver's parquet tables and register views.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

At scale these would be partitioned/ bucketed external tables; the loader
keeps the access path declarative (``spark.read.parquet``) so predicate
pushdown, column pruning and partition pruning all apply unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimension tables that are always broadcast-eligible in joins.
# (customer/supplier/part grow with SF but stay dimension-sized relative to
# the fact tables lineitem/orders/events.)
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-created SparkSession (e.g. the driver's own)
    able to run this engine's queries: the events fixture stores
    TIMESTAMP(NANOS) which Spark only reads with nanosAsLong; date_format
    output (compared against the naive-timestamp DuckDB oracle) requires a
    UTC session. Both confs are runtime-settable; get_spark sessions
    already carry them. Also ships the engine package to Python workers
    (addPyFile) so Arrow kernels survive a driver process whose cwd /
    PYTHONPATH doesn't cover the repo."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Driver-side plan-construction speed (see session.py): PySpark 4's
    # per-call call-site capture costs ~2 ms per Column/DataFrame op —
    # 6x the py4j cost of the engine's expression-heavy builders.
    # spark.python.sql.dataFrameDebugging.enabled is a STATIC conf
    # (settable only at session build — session.py does), so for an
    # externally-created vanilla session the only lever is pyspark's
    # process-local cache of the flag; flip it directly, guarded so a
    # pyspark that renames the internals degrades to slow-but-correct.
    # Results are unaffected either way — only error-message call-site
    # decoration is lost.
    if os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false") == "false":
        try:  # noqa: SIM105
            from pyspark.errors import utils as _pyspark_err_utils  # noqa: PLC0415

            # hasattr first: a bare assignment always succeeds, so the old
            # except-AttributeError guard could never fire — a pyspark that
            # renames the internal would get a dead attribute and silently
            # keep the slow path. Verified present on the pinned 4.1.2
            # (tests/test_round14_opt.py pins the assumption).
            if hasattr(_pyspark_err_utils, "_enable_debugging_cache"):
                _pyspark_err_utils._enable_debugging_cache = False
        except ImportError:
            pass
    _ensure_workers_can_import(spark)


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """mapInPandas/Arrow kernels cloudpickle references to this package by
    MODULE NAME; workers resolve it via their own sys.path, which does NOT
    inherit driver-side ``sys.path`` edits. If the driver process imported
    us from a path workers can't see (cwd elsewhere, no PYTHONPATH), every
    Python-worker stage dies with ModuleNotFoundError. Zip the package once
    per session and addPyFile it — workers unpack onto their sys.path."""
    sc = spark.sparkContext
    if getattr(sc, "_dpcs_pyfile_added", False):
        return
    import tempfile  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), "data_pipelines_cu_spark_pyfile.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(
                    "data_pipelines_cu_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    sc.addPyFile(zpath)
    sc._dpcs_pyfile_added = True


# Per-session cache of RESOLVED table handles: (session id, path, mtime,
# size) -> DataFrame. spark.read.parquet pays DataSource resolution + file
# listing + footer schema inference on EVERY call (~120 ms measured, even
# for a 4-row dimension file), and the engine's 200 query fns call
# load_table ~500 times per bench sweep — ~60 s of pure metadata work per
# run. A metastore/manifest catalog (Hive, Iceberg — guide §6) exists to
# amortize exactly this; the cache is this repo's stand-in. It holds plan
# HANDLES only — schema + file listing, never rows; every action on a
# cached handle still scans the parquet — and the (mtime, size) key
# invalidates it if a fixture is rewritten in place, so a stale handle is
# impossible for any test that regenerates its inputs.
# Values are (session, DataFrame): holding the session keeps id(session)
# from being recycled by the allocator while its entries are live.
_TABLE_HANDLES: dict[tuple, tuple] = {}


def _path_stamp(path: str) -> tuple:
    """Invalidation stamp for a table path. For a single parquet FILE the
    (mtime_ns, size) pair changes on any rewrite. For a DIRECTORY-shaped
    table the root stat alone is not enough: replacing one part-file's
    contents in place (same name, same entry count) leaves the directory's
    own mtime/size untouched, so the stamp folds in the direct children's
    (name, mtime_ns, size) — one listdir, no recursion. Depth contract:
    this covers rewrites one level down; the cache's only callers
    (_raw_table / load_table) serve the flat fixture layout (one parquet
    file, or a dir of part-files), never the multi-level partitioned
    index trees, which are read uncached at their call sites."""
    try:
        st = os.stat(path)
    except OSError:
        return (None, None)
    stamp: tuple = (st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        try:
            children = []
            for e in os.scandir(path):
                cst = e.stat()
                children.append((e.name, cst.st_mtime_ns, cst.st_size))
        except OSError:
            return (None, None)
        # the listing itself, not a hash of it: two listings that collide
        # under hash() would serve a stale handle
        stamp = (*stamp, tuple(sorted(children)))
    return stamp


def _raw_table(spark: SparkSession, path: str) -> DataFrame:
    """The cached spark.read.parquet handle (pre-conversion — callers that
    need the stored representation, e.g. events_between's pushdown on the
    raw int64 ts, share this entry with load_table's conversion layer)."""
    key = (id(spark), "raw", path, _path_stamp(path))
    hit = _TABLE_HANDLES.get(key)
    if hit is None:
        _evict_stale(key, spark, path)
        df = spark.read.parquet(path)
        _handle_insert(key, spark, df)
        return df
    return hit[1]


def _evict_stale(key: tuple, spark: SparkSession, path: str) -> None:
    """Targeted eviction BEFORE re-resolving a rewritten path: drop stale
    entries for the same (session, path) — a repeatedly-rewritten fixture
    otherwise accumulates dead (session, DataFrame) pairs until the size
    bound trips and a mass clear() evicts every hot entry too (ADVICE
    r13) — and refresh Spark's OWN session-level file-status cache for
    that path: a stamp change means the files were rewritten in place,
    and a fresh spark.read.parquet would otherwise resolve footers
    against the cached (stale) file lengths and fail or serve garbage
    (observed: EOF reading a rewritten part-file's footer)."""
    prefix = key[:-1]  # (session id, [tag,] path) — the stamp is the last slot
    stale = [k for k in _TABLE_HANDLES if k[:-1] == prefix and k != key]
    if not stale:
        return
    for k in stale:
        del _TABLE_HANDLES[k]
    try:  # noqa: SIM105
        spark.catalog.refreshByPath(path)
    except Exception:  # noqa: BLE001 — refresh is best-effort on odd paths
        pass


def _handle_insert(key: tuple, spark: SparkSession, df: DataFrame) -> None:
    """Bounded insert; stale same-path entries were evicted by
    ``_evict_stale`` on the miss path before the re-read."""
    if len(_TABLE_HANDLES) > 256:
        _TABLE_HANDLES.clear()
    _TABLE_HANDLES[key] = (spark, df)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    key = (id(spark), path, _path_stamp(path))
    hit = _TABLE_HANDLES.get(key)
    if hit is not None:
        return hit[1]
    _evict_stale(key, spark, path)
    df = _raw_table(spark, path)
    # Nanosecond-timestamp columns arrive as long (nanosAsLong, session.py);
    # convert to Spark's microsecond TimestampType. The fixture generator
    # writes microsecond-precision values, so the floordiv loses nothing.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integral div: a double roundtrip would lose sub-µs exactness
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # tz-naive parquet timestamps (timestamp[us], isAdjustedToUTC=false) read
    # as TIMESTAMP_NTZ in Spark 4; normalize to TimestampType so the whole
    # engine (unix_micros, windows, streaming watermarks) sees one type.
    # Under the UTC session the NTZ→LTZ cast is instant-preserving, and it
    # matches the DuckDB oracle, which reads the same column as naive UTC.
    for cname, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    _handle_insert(key, spark, df)
    return df


def events_between(
    spark: SparkSession, sf_dir: str, start_ts: str, end_ts: str
) -> DataFrame:
    """events in the half-open window [start_ts, end_ts) with the range
    predicate applied to the RAW int64 nanosecond column, BEFORE the
    µs-timestamp conversion.

    Filtering the converted column can't reach the parquet scan (the
    predicate wraps an expression, so only IsNotNull pushes down); filtering
    the stored int64 pushes as a plain range → row-group/page pruning works,
    which is the difference between scanning a day and scanning 100 TB.
    """
    ensure_session_confs(spark)
    raw = _raw_table(spark, table_path(sf_dir, "events"))
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        lo = F.lit(start_ts).cast("timestamp")
        hi = F.lit(end_ts).cast("timestamp")
        raw = raw.filter(
            (F.col("ts") >= F.unix_micros(lo) * 1000)
            & (F.col("ts") < F.unix_micros(hi) * 1000)
        ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return raw
    if ts_type == "timestamp_ntz":
        # Compare against NTZ literals so the range predicate stays a plain
        # column comparison the parquet scan can push down (a cast around the
        # COLUMN would block row-group pruning); convert the column after.
        raw = raw.filter(
            (F.col("ts") >= F.lit(start_ts).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(end_ts).cast("timestamp_ntz"))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    return raw.filter(
        (F.col("ts") >= F.lit(start_ts).cast("timestamp"))
        & (F.col("ts") < F.lit(end_ts).cast("timestamp"))
    )


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table as a DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
