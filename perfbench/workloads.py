"""The two workloads: what one pass does and how its output is checked.

Every call into the package goes through ``Tracer.call``. In a traced pass
it tags the call's Spark jobs with a job group ``p<pass>|<layer>|<name>``
and records the call's wall time as a span; in an untraced pass it only
runs the call. Nothing inside the package is instrumented.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import time

import numpy as np

from data_pipelines_cu_spark.catalog import TABLES, load_table
from data_pipelines_cu_spark.operators.table import (
    multi_table_batches,
    write_table_version,
)
from data_pipelines_cu_spark.pipelines.binance import run_backfill
from data_pipelines_cu_spark.pipelines.incremental import ingest_wave
from data_pipelines_cu_spark.plans import Pipeline, Stage
from data_pipelines_cu_spark.queries import all_queries
from data_pipelines_cu_spark.sources.readers import read_csv
from data_pipelines_cu_spark.streaming.jobs import run_cascade

import fixtures

# Zero-eager-job TPC-H/events queries: plan building returns without running
# a Spark job, so the pass is scan, shuffle and sink work.
RELATIONAL = (
    "pricing_summary",
    "orders_by_region",
    "events_user_daily_counts",
    "top_events_per_user",
    "late_shipment_priority",
)
# Heavy-tail curation query whose function runs Spark jobs before it
# returns: the Lloyd loop of k-means, with a driver collect per round.
CURATION = ("embedding_kmeans_clusters",)
CATALOG_SF = 0.01
# Days of ticks and document waves landed for the ingest workload: one of
# each per pass, more than a run's warm-up plus timed passes ever use.
MAX_CYCLES = 12
TICK_SCHEMA = (
    "mins INT, price STRING, closeTime BIGINT, timestamp STRING, "
    "fetch_time TIMESTAMP, price_float DOUBLE"
)


class Tracer:
    """Runs calls into the package and, while ``traced`` is set, records a
    span per call and tags its Spark jobs with the span's job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.traced = False
        self.pass_idx = -1
        self.spans: list[dict] = []

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.traced:
            return fn(*args, **kwargs)
        group = f"p{self.pass_idx}|{layer}|{name}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append({
                "pass": self.pass_idx, "layer": layer, "name": name,
                "group": group, "wall_s": time.perf_counter() - t0,
            })
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def alias(self, group: str, layer: str, name: str) -> None:
        """File jobs that Spark tagged itself (a streaming query tags its
        micro-batches with its run id) under a span of the current pass."""
        self.spans.append({
            "pass": self.pass_idx, "layer": layer, "name": name,
            "group": group, "wall_s": 0.0,
        })


# --- output checks --------------------------------------------------------
def _norm(v):
    """Type-faithful value normaliser: an int and a float of equal value
    differ (DuckDB HUGEINT arrives in pandas as float64)."""
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    return str(v)


def _rows(pdf) -> list:
    """Column names and sorted normalised rows, as JSON-shaped lists."""
    cols = sorted(c.lower() for c in pdf.columns)
    pdf = pdf.rename(columns=str.lower)
    return [cols, sorted([_norm(r[c]) for c in cols] for _, r in pdf.iterrows())]


def oracle_rows(sf_dir: str, names) -> dict[str, list]:
    """Each query's DuckDB oracle result over the catalog, normalised.
    Results are cached next to the catalog, keyed by the oracle SQL."""
    import duckdb  # noqa: PLC0415

    registry = all_queries()
    key = hashlib.sha1(
        json.dumps([[n, registry[n].oracle] for n in sorted(names)]).encode()
    ).hexdigest()[:16]
    cache = os.path.join(sf_dir, f"oracle-{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {n: _rows(con.sql(registry[n].oracle).df()) for n in names}
    dump(cache + ".tmp", out)
    os.replace(cache + ".tmp", cache)
    return out


# --- queries --------------------------------------------------------------
class QueryWorkload:
    """A pass runs every query once, in a seeded order: the query function
    (plan building plus any eager jobs) and then the noop sink."""

    min_passes = 2

    def __init__(self, names, seed: int):
        self.names = tuple(names)
        self.rng = random.Random(seed)
        self.fns = {n: all_queries()[n].fn for n in self.names}
        self.sf_dir = ""
        self.expected: dict[str, list] = {}

    def inputs(self, work: str) -> None:
        self.sf_dir = fixtures.write_catalog(os.path.join(work, "inputs"), CATALOG_SF)
        self.expected = oracle_rows(self.sf_dir, self.names)

    def resolve(self, spark) -> None:
        for t in TABLES:
            load_table(spark, self.sf_dir, t)

    def _order(self):
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def prepare_pass(self) -> None:
        pass

    def warm_pass(self, spark, tr: Tracer, ops) -> None:
        """Warm-up pass that collects every result and compares it with the
        query's DuckDB oracle."""
        for name in self._order():
            ops.attempted += 1
            try:
                got = _rows(self.fns[name](spark, self.sf_dir).toPandas())
            except Exception as exc:  # noqa: BLE001
                ops.fail(f"{name}: {exc!r}")
                continue
            if got != self.expected[name]:
                ops.fail(f"{name}: result differs from its DuckDB oracle")

    def timed_pass(self, spark, tr: Tracer, ops) -> dict:
        for name in self._order():
            ops.attempted += 1
            try:
                df = tr.call("build", name, self.fns[name], spark, self.sf_dir)
                tr.call("sink", name, _noop_write, df)
            except Exception as exc:  # noqa: BLE001
                ops.fail(f"{name}: {exc!r}")
        return {}

    def post_check(self, spark, ops) -> None:
        pass


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- ingest ---------------------------------------------------------------
class IngestWorkload:
    """The daily ingest cycle as a ``plans.Pipeline`` DAG. Pass ``k`` lands
    day ``k`` (a CSV of minute ticks) and document wave ``k + 1``, then runs:

    - ``backfill``: ``read_csv`` of the day, then ``run_backfill`` (keep-last
      dedup, hourly, daily, partition upserts);
    - ``cascade``: ``run_cascade`` with ``availableNow`` over the landing
      directory, resuming from its checkpoint, so it reads only the new day;
    - ``wave``: ``ingest_wave``, one atomic multi-table commit;
    - ``version``: ``write_table_version`` of the daily rollup.

    State carries over from pass to pass, as it does in production; the
    output root is emptied once, before the warm-up pass."""

    STAGES = ("backfill", "cascade", "wave", "version")
    min_passes = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.landed: dict = {}
        self.out = self.inbox = ""
        self.cycle = -1
        self.waves: list[dict] = []

    def inputs(self, work: str) -> None:
        cat = fixtures.write_catalog(os.path.join(work, "inputs"), CATALOG_SF)
        self.landed = fixtures.land_ingest(
            os.path.join(work, "landed"), self.seed,
            os.path.join(cat, "documents.parquet"), MAX_CYCLES,
        )
        self.out = os.path.join(work, "out")
        self.inbox = os.path.join(work, "inbox")
        for d in (self.out, self.inbox):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.inbox)

    def resolve(self, spark) -> None:
        pass

    def prepare_pass(self) -> None:
        """Land the next day's tick file in the stream's directory."""
        self.cycle += 1
        if self.cycle >= MAX_CYCLES:
            raise RuntimeError(f"ingest inputs hold only {MAX_CYCLES} cycles")
        src = self.landed["ticks"][self.cycle]
        shutil.copyfile(src, os.path.join(self.inbox, os.path.basename(src)))

    def warm_pass(self, spark, tr: Tracer, ops) -> None:
        self.prepare_pass()
        self.timed_pass(spark, tr, ops)

    def input_bytes(self) -> int:
        """Bytes of landed input the cycles run so far have consumed."""
        return sum(
            os.path.getsize(self.landed[kind][i])
            for kind in ("ticks", "waves") for i in range(self.cycle + 1)
        )

    def _backfill(self, spark, tr):
        day = self.landed["ticks"][self.cycle]
        raw = tr.call("ingest", "read_csv", read_csv, spark, day, TICK_SCHEMA)
        tr.call("ingest", "backfill", run_backfill, spark, raw,
                os.path.join(self.out, "backfill"))

    def _cascade(self, spark, tr):
        ticks = (
            spark.readStream.schema(TICK_SCHEMA)
            .option("header", True)
            .csv(self.inbox)
            .select("fetch_time", "price_float")
        )
        cascade = os.path.join(self.out, "cascade")
        q = tr.call("ingest", "cascade", run_cascade, ticks,
                    os.path.join(cascade, "hourly"), os.path.join(cascade, "daily"),
                    os.path.join(cascade, "_checkpoint"))
        if tr.traced:  # micro-batch jobs carry the query's run id as group
            tr.alias(str(q.runId), "ingest", "cascade")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def _wave(self, spark, tr):
        docs = spark.read.parquet(self.landed["waves"][self.cycle])
        self.waves.append(tr.call("ingest", "wave", ingest_wave, spark, docs,
                                  os.path.join(self.out, "state"), self.cycle + 1))

    def _version(self, spark, tr):
        daily = spark.read.parquet(os.path.join(self.out, "backfill", "daily"))
        tr.call("ingest", "version", write_table_version, daily,
                os.path.join(self.out, "daily_versioned"))

    def timed_pass(self, spark, tr: Tracer, ops) -> dict:
        walls: dict[str, float] = {}

        def stage_fn(stage):
            def fn(ctx):
                t0 = time.perf_counter()
                try:
                    return getattr(self, f"_{stage}")(spark, tr)
                finally:
                    walls[stage] = time.perf_counter() - t0
            return fn

        p = Pipeline("ingest", max_parallel=1)
        upstream: list[str] = []
        for stage in self.STAGES:
            p.add(Stage(id=stage, fn=stage_fn(stage), upstream=upstream))
            upstream = [stage]
        ops.attempted += len(self.STAGES)
        t0 = time.perf_counter()
        try:
            p.run()
        except Exception as exc:  # noqa: BLE001
            # the failed stage and every stage after it did not complete
            ops.fail(f"ingest cycle {self.cycle}: {exc!r}",
                     n=len(self.STAGES) - len(walls) + 1)
        return {"pipeline_s": time.perf_counter() - t0, "stage_s": walls}

    # -- output check, outside the timed passes ---------------------------
    def post_check(self, spark, ops) -> None:
        checks = {
            "partitions": self._check_partitions,
            "wave_ledger": self._check_ledger,
            "replay_noop": lambda: self._check_replay(spark),
            "daily_rollup": self._check_rollup,
        }
        for name, check in checks.items():
            ops.attempted += 1
            try:
                problem = check()
            except Exception as exc:  # noqa: BLE001
                problem = repr(exc)
            if problem:
                ops.fail(f"ingest check {name}: {problem}")

    def _check_partitions(self) -> str | None:
        import duckdb  # noqa: PLC0415

        days = self.cycle + 1
        base = os.path.join(self.out, "backfill")
        for layer in ("raw", "hourly", "daily"):
            parts = [d for d in os.listdir(os.path.join(base, layer)) if d.startswith("date=")]
            if len(parts) != days:
                return f"{layer}: {len(parts)} date partitions, want {days}"
        n_hourly = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{base}/hourly/*/*.parquet')"
        ).fetchone()[0]
        if n_hourly != 24 * days:
            return f"hourly rows {n_hourly}, want {24 * days}"
        return None

    def _check_ledger(self) -> str | None:
        ledger = multi_table_batches(os.path.join(self.out, "state"))
        want = [str(w) for w in range(1, self.cycle + 2)]
        if sorted(ledger, key=int) != want:
            return f"ledger holds waves {sorted(ledger, key=int)}, want {want}"
        for r in self.waves:
            if not 0 <= r["admitted"] <= r["incoming"]:
                return f"wave {r['wave_id']}: admitted {r['admitted']} of {r['incoming']}"
        return None

    def _check_replay(self, spark) -> str | None:
        state = os.path.join(self.out, "state")
        manifest = os.path.join(state, "_manifest.json")
        with open(manifest) as f:
            before = f.read()
        listing = sorted(os.listdir(os.path.join(state, "corpus")))
        docs = spark.read.parquet(self.landed["waves"][self.cycle])
        ingest_wave(spark, docs, state, self.cycle + 1)
        with open(manifest) as f:
            after = f.read()
        if after != before or sorted(os.listdir(os.path.join(state, "corpus"))) != listing:
            return "replaying the last wave changed the committed state"
        return None

    def _check_rollup(self) -> str | None:
        """Recompute the daily rollup from the landed CSVs in DuckDB and
        compare it with both the partitioned daily layer and the newest
        version of the versioned table."""
        import duckdb  # noqa: PLC0415

        files = ", ".join(f"'{p}'" for p in self.landed["ticks"][: self.cycle + 1])
        dec = "CAST(SUM(CAST({0} AS DECIMAL(38,12))) AS DOUBLE) / COUNT({0})"
        want = duckdb.sql(f"""
            WITH raw AS (
              SELECT * FROM read_csv([{files}], header=true,
                columns={{'mins':'INT','price':'VARCHAR','closeTime':'BIGINT',
                          'timestamp':'VARCHAR','fetch_time':'TIMESTAMP',
                          'price_float':'DOUBLE'}})),
            t AS (SELECT * FROM raw QUALIFY row_number() OVER
                    (PARTITION BY closeTime ORDER BY fetch_time DESC) = 1),
            h AS (
              SELECT strftime(fetch_time, '%Y-%m-%d') AS date,
                     strftime(fetch_time, '%H') AS hour,
                     {dec.format("price_float")} AS avg_price,
                     min(price_float) AS min_price, max(price_float) AS max_price,
                     arg_min(price_float, fetch_time) AS first_price,
                     arg_max(price_float, fetch_time) AS last_price,
                     count(price_float) AS data_points
              FROM t GROUP BY 1, 2)
            SELECT date, {dec.format("avg_price")} AS avg_price,
                   min(min_price) AS min_price, max(max_price) AS max_price,
                   arg_min(first_price, hour) AS opening_price,
                   arg_max(last_price, hour) AS closing_price,
                   sum(data_points)::BIGINT AS total_data_points,
                   count(*)::BIGINT AS hours_with_data
            FROM h GROUP BY date ORDER BY date
        """).fetchall()
        newest = f"{self.out}/daily_versioned/v={self.cycle + 1}"
        for src in (
            f"read_parquet('{self.out}/backfill/daily/*/*.parquet', hive_partitioning=true)",
            f"read_parquet('{newest}/*.parquet')",
        ):
            got = duckdb.sql(f"""
                SELECT CAST(date AS VARCHAR), avg_price, min_price, max_price,
                       opening_price, closing_price, total_data_points,
                       hours_with_data, price_change, price_change_pct
                FROM {src} ORDER BY 1
            """).fetchall()
            if len(got) != len(want):
                return f"{src}: {len(got)} days, want {len(want)}"
            for g, w in zip(got, want):
                if g[0] != w[0] or tuple(g[6:8]) != tuple(w[6:8]):
                    return f"{src}: day {g[0]} counts {g[6:8]}, want {w[6:8]}"
                vals = list(w[1:6]) + [w[5] - w[4], (w[5] - w[4]) / w[4] * 100.0]
                got_vals = list(g[1:6]) + list(g[8:10])
                if not all(math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                           for a, b in zip(got_vals, vals)):
                    return f"{src}: day {g[0]} values {got_vals}, want {vals}"
        return None


def make(name: str, seed: int):
    if name == "queries":
        return QueryWorkload(RELATIONAL + CURATION, seed)
    if name == "ingest":
        return IngestWorkload(seed)
    raise SystemExit(f"unknown workload {name!r}")


def dump(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
