#!/usr/bin/env python
"""Plan-hygiene audit: run the N most expensive registered queries (by
the last BENCH_DETAIL.json) and flag, per stage, the two execution
pathologies that correctness tests and wall-clock benchmarks both miss
until they explode at 100×:

1. **Duplicate partition reads** — distinct tasks within one stage whose
   shuffle-read record counts repeat pairwise. That is the signature of
   a plan consuming one expensive subtree twice (a union of two selects,
   a probe + build pair, a nondeterministic expression blocking
   ReusedExchange): the same map output is fetched once per consumer.
   Caught this way in round 8: dedup_clusters' edge union executed the
   whole PassJoin candidate join twice (max task 6.6s → 1.8s after the
   single-scan rewrite).
2. **Stragglers** — max task time > 3× the stage median. Distinguishes a
   hot key / fat group (data problem: salt or split) from uniform stage
   width (max ≈ median — add partitions, not salt).
3. **Repeated file scans** — a query whose EXECUTED plan graphs (the
   Spark UI /sql REST endpoint, i.e. AFTER AQE stage reuse) contain far
   more Scan-parquet nodes than the query touches distinct relations:
   the signature of one expensive subtree compiled per consumer or per
   iteration. Built in round 11 after the bench gate caught
   source_tv_drift at 4 static scans (detectors 1-2 were structurally
   blind: the redundancy is file reads, not shuffle fetches). The
   detector counts EXECUTED scan nodes, not static FileScan leaves,
   because the static census over-counts ~2×: AQE reuses identical
   subtrees at runtime (measured: a 4-branch duplicate union executed
   2 scans), while genuinely distinct consumers recompute. The metric
   is the MAX over the query's executions, not the sum — an eager
   checkpoint chain legitimately runs many 1-scan builds, while the
   pathology concentrates its redundancy in one job. The static
   per-relation census is still computed and printed WITH each flag as
   the attribution hint. Calibration on the full 200-query registry:
   the legitimate floor is 2-5 executed scans per job (self-joins,
   two-pass vocab/encode, multi-table stars); the flag threshold
   (≥6 AND ≥2× distinct relations) caught nation_trade_pagerank at 14
   (edge subtree compiled per iteration per consumer — fixed with
   edge/rank checkpoints) and nb_lang_predict's triple tokenize (fixed
   by deriving model counts from the compressed doc-feature table).
   TRIAGED_SCANS lists queries whose high scan count is a documented
   design choice; they print with "triaged" and don't fail the audit.

4. **Repeated corpus tokenization** — detector 3's floor (≥6 executed
   scans) is calibrated for scan COUNT, but the expensive redundancy in
   this engine is the normalize+split+explode subtree over the documents
   table: tv_drift had 4 scans, nb_lang 3, corpus_datacard 3 — all real
   multi-compiles of the corpus tokenize, all under the detector-3
   floor. Detector 4 counts, per /sql execution, FileScan lines over the
   documents relation in the FINAL executed plan (planDescription — post
   AQE, ReusedExchange prints as a one-line ref so reused subtrees don't
   double-count) when that plan bears tokenize markers (regexp_replace +
   split/explode), and flags the query when any single execution ran ≥2.
   TRIAGED_TOKENIZE allowlists the legitimate two-pass shapes (a vocab/
   model pass + an encode/score pass over a checkpointed or broadcast
   small table) with the reason inline; entries print with "triaged" and
   don't fail the audit.

5. **Repeated Arrow kernels** — executed Python/Arrow eval nodes
   (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /
   BatchEvalPython) per /sql execution. The Python round-trip is the
   single most expensive node class in this engine (everything else is
   whole-stage codegen), so TWO kernels in one job is either two
   genuinely different inputs (ann_ivf_topk: corpus assign + query
   assign — allowlisted) or the same kernel compiled per consumer
   (embedding_near_dup_pairs' self-join ran the hyperplane kernel twice
   over the full vector table until round 12 cut it). Calibration over
   all 200: every query runs 0-1 kernels per job except the allowlisted
   shape; the floor is ≥2.

Usage: python plan_audit.py [N]   (default 20; needs BENCH_DETAIL.json)
Prints one line per flagged (query, stage); exits 1 if anything flagged,
so it slots into CI next to the oracle gate.
"""

from __future__ import annotations

import json
import re
import sys
import urllib.error
import urllib.request
import uuid
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_pipelines_cu_spark.queries import all_queries  # noqa: E402
from data_pipelines_cu_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
FAT_READ_ROWS = 100_000  # only fat reads can hide a meaningful double scan
STRAGGLER_RATIO = 3.0
STRAGGLER_FLOOR_MS = 2_000  # ignore ratios on sub-2s stages (noise)
SCAN_FLOOR = 6  # executed-scan count below which no plan shape flags
SCAN_RATIO = 2.0  # executed scans per distinct relation that flags

# Detector 4: executions of the documents relation that bear tokenize
# markers and scan it ≥ TOKENIZE_FLOOR times flag as a repeated corpus
# tokenization (the normalize+split+explode subtree compiled per consumer).
TOKENIZE_FLOOR = 2

# Queries whose multi-scan tokenize is a DOCUMENTED two-pass design —
# two genuinely DIFFERENT linear passes, each compiled once. The
# pathology detector 4 hunts is N compiles of the SAME pass (fixed in
# round 12 across 12 operators via compressed-intermediate checkpoints);
# these four are the honest minimum for their shapes. Entries print with
# "triaged": true and don't fail the audit.
TRIAGED_TOKENIZE: dict[str, str] = {
    "minhash_lsh_pairs": (
        "LSH candidate pass + exact-Jaccard verify pass — two different "
        "linear tokenizes; materializing the corpus shingle-set table to "
        "save the second costs more than the pass it saves"
    ),
    "fuzzy_decontamination": (
        "rides minhash_lsh_pairs: same candidate + verify pass pair"
    ),
    "doc_decontamination": (
        "benchmark grams + corpus grams are two different datasets that "
        "share one physical table only at the gate fixture"
    ),
    "incremental_dedup_new_docs": (
        "incoming batch + historical index both derive from documents "
        "only at the gate; the production index is a persisted digest "
        "table that is never re-tokenized (see incremental_dedup doc)"
    ),
    "bloom_decontamination_stats": (
        "corpus gram rows feed the bloom-position chain and the per-doc "
        "totals; the shared intermediate carries n-word gram STRINGS "
        "(several times the corpus bytes), so the second linear tokenize "
        "is cheaper than materializing it — measured at sf0.1, worse at "
        "scale (benchmark side IS checkpointed)"
    ),
}

# Detector 5: executed Arrow/Python kernel nodes per execution that flag
ARROW_FLOOR = 2
ARROW_MARKERS = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "BatchEvalPython",
)

# Queries whose ≥2 kernels per job are genuinely different inputs.
TRIAGED_ARROW = {
    "ann_ivf_topk": (
        "corpus cell-assign + query probe-assign — two different inputs "
        "through the same kernel, each once"
    ),
}

# Queries whose executed-scan count exceeds the threshold as a DOCUMENTED
# design choice — they print with "triaged": true and do not fail the
# audit. Every entry needs the reason inline.
TRIAGED_SCANS = {
    # One gate entry evaluates the reference's Q6+Q14+Q17+Q19 scalar
    # quartet (BASELINE.md round-10 headline-set change): each branch
    # scans lineitem with its own DISJOINT pushed predicate, which at
    # scale beats one full scan + 4 residual filters (row-group pruning
    # does the work); 4 branches x (lineitem + part) = 8 scans by design.
    "lineitem_revenue_kpis": "4 merged KPI branches with disjoint pushdown",
}


def _drain(spark) -> None:
    """Block until the listener bus has delivered every event posted so
    far, so the status store (read by the REST API and the status
    tracker) holds every execution, job, stage and task that has run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _ui(spark, path: str):
    """One status-REST read for this application, after a bus drain. The
    base URL comes from ``uiWebUrl``, never a hardcoded port: a second
    driver on the box moves this app's UI to 4041+."""
    sc = spark.sparkContext
    _drain(spark)
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=15) as r:
        return json.load(r)


def _sql_executions(spark, offset: int = 0, plans: bool = True) -> list:
    """/sql executions from ``offset`` (paged), in id order. With
    ``plans=False`` each row leaves out its plan text and node graph."""
    lean = "" if plans else "&details=false&planDescription=false"
    out: list = []
    while True:
        page = _ui(spark, f"/sql?offset={offset + len(out)}&length=100{lean}")
        out.extend(page)
        if len(page) < 100:
            break
    return out


class ExecCursor:
    """Incremental reader of the /sql executions that started after it
    was made. Reads follow a bus drain, so every started execution is
    listed. Once ``spark.sql.ui.retainedExecutions`` is reached each new
    execution evicts the oldest and the list shifts left, so the cursor
    re-reads the last row it delivered (``offset - 1``): if that row is
    no longer ``last_id``, one full listing filtered by id replaces the
    page."""

    def __init__(self, spark) -> None:
        self.spark = spark
        # only the count and the last id are needed: no plans
        full = _sql_executions(spark, plans=False)
        self.offset = len(full)
        self.last_id = full[-1]["id"] if full else -1

    def new_executions(self) -> list:
        start = max(self.offset - 1, 0)
        page = _sql_executions(self.spark, start)
        if self.offset and (not page or page[0]["id"] != self.last_id):
            start, page = 0, _sql_executions(self.spark)
        new = [e for e in page if e["id"] > self.last_id]
        self.offset = start + len(page)
        if new:
            self.last_id = new[-1]["id"]
        return new


def run_grouped(spark, run):
    """Run ``run()`` under a fresh Spark job group; return its result and
    the stage attempts of every job the group ran, RDD actions outside a
    SQL execution included. Jobs come from the status tracker, then one
    ``/stages/{id}?withSummaries=true&quantiles=1.0`` read per stage gives
    status, task counts, shuffle bytes and each task metric's max
    (``taskMetricsDistributions``). Stages the UI evicted are skipped."""
    sc = spark.sparkContext
    group = f"plan-audit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = run()
    finally:
        sc._jsc.clearJobGroup()
    _drain(spark)
    tracker = sc.statusTracker()
    infos = (tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group))
    stage_ids = {sid for info in infos if info for sid in info.stageIds}
    stages: list = []
    # newest first: the order of the app-wide /stages listing audit() read
    for sid in sorted(stage_ids, reverse=True):
        try:
            stages.extend(
                _ui(spark, f"/stages/{sid}?withSummaries=true&quantiles=1.0")
            )
        except urllib.error.HTTPError:
            continue
    return result, stages


def stage_max(stages: list, metric: str) -> float | None:
    """Largest single-task ``metric`` (a ``taskMetricsDistributions`` key,
    e.g. ``duration`` or ``executorRunTime``, in ms) over the completed
    stage attempts; None when no task completed."""
    vals = [
        st["taskMetricsDistributions"][metric][0]
        for st in stages
        if st.get("status") == "COMPLETE" and st.get("taskMetricsDistributions")
    ]
    return max(vals, default=None)


def _scan_flag(
    name: str, max_exec_scans: int, static_census: dict
) -> dict | None:
    """Detector-3 verdict for one query: None below threshold, a flag
    dict above it ("triaged": True for allowlisted design choices, which
    print but don't fail the audit). ``max_exec_scans`` = the most
    Scan-parquet nodes any single execution ran; the per-relation ratio
    uses the final frame's static census so a wide star join (many
    relations, one scan each) never flags on the floor alone."""
    n_rels = max(1, len(static_census))
    if max_exec_scans < SCAN_FLOOR or max_exec_scans < SCAN_RATIO * n_rels:
        return None
    triaged = TRIAGED_SCANS.get(name)
    return {
        "query": name,
        "flag": "repeated_file_scan",
        "max_exec_scans": max_exec_scans,
        "distinct_relations": n_rels,
        "static_census": static_census,
        **({"triaged": True, "reason": triaged} if triaged else {}),
    }


_SCAN_TREE_RE = re.compile(r"Scan parquet\s*\((\d+)\)")
_SCAN_FOOTER_RE = re.compile(r"^\((\d+)\) Scan parquet\s*$")
_ATTR_RE = re.compile(r"(\w+#\d+)")


def _doc_tokenize_scans(plan_desc: str) -> int:
    """Detector-4 metric for ONE execution: how many times the FINAL
    executed plan compiled the corpus tokenize — Scan-parquet nodes over
    the documents relation whose own output attributes feed a
    regexp_replace (the normalize+split subtree), counted in the final
    plan tree. planDescription is the formatted post-AQE plan: the tree
    section prints ``Scan parquet  (N)`` per occurrence (a ReusedExchange
    prints as a one-line reference, so runtime-reused subtrees don't
    double-count) and the footer maps node id N to its Location and
    Output attribute ids (``text#15``). A scan counts only when some
    regexp_replace-bearing footer line references one of ITS attributes —
    a plain doc-count or quality scan sharing the plan with a tokenize
    does not count, because the expensive redundancy is the tokenize
    compile, not the scan itself. Only the ``== Final Plan ==``
    subsection is counted: the Initial Plan repeats every node and would
    double the census."""
    if "regexp_replace" not in plan_desc:
        return 0
    # footer pass 1: documents-relation scan node ids and their outputs
    doc_scan_attrs: dict[str, set[str]] = {}
    cur_id: str | None = None
    cur_attrs: set[str] = set()
    cur_is_doc = False
    for line in plan_desc.splitlines():
        m = _SCAN_FOOTER_RE.match(line.rstrip())
        if m:
            cur_id, cur_attrs, cur_is_doc = m.group(1), set(), False
            continue
        if cur_id is None:
            continue
        if not line.strip():
            if cur_is_doc:
                doc_scan_attrs[cur_id] = cur_attrs
            cur_id = None
        elif line.startswith("Output"):
            cur_attrs.update(_ATTR_RE.findall(line))
        elif line.startswith("Location:") and "documents" in line:
            cur_is_doc = True
    if cur_id is not None and cur_is_doc:  # footer ends without blank line
        doc_scan_attrs[cur_id] = cur_attrs
    # footer pass 2: which of those scans feed a regexp_replace
    tokenize_ids = set()
    for line in plan_desc.splitlines():
        if "regexp_replace" not in line:
            continue
        refs = set(_ATTR_RE.findall(line))
        for sid, attrs in doc_scan_attrs.items():
            if attrs & refs:
                tokenize_ids.add(sid)
    # tree pass: occurrences of tokenize-scan ids in the final plan only
    tree = plan_desc.split("== Initial Plan ==")[0]
    return sum(
        1 for m in _SCAN_TREE_RE.finditer(tree) if m.group(1) in tokenize_ids
    )


def _arrow_kernels(ex: dict) -> int:
    """Detector-5 metric for one execution: executed Arrow/Python eval
    nodes (post-AQE node list, not the static plan)."""
    return sum(
        1
        for node in ex.get("nodes", [])
        if any(node.get("nodeName", "").startswith(m) for m in ARROW_MARKERS)
    )


def _arrow_flag(name: str, max_kernels: int) -> dict | None:
    """Detector-5 verdict: None below the floor, a flag dict at/above it
    ("triaged": True for allowlisted different-input shapes)."""
    if max_kernels < ARROW_FLOOR:
        return None
    triaged = TRIAGED_ARROW.get(name)
    return {
        "query": name,
        "flag": "repeated_arrow_kernel",
        "max_exec_arrow_kernels": max_kernels,
        **({"triaged": True, "reason": triaged} if triaged else {}),
    }


def _tokenize_flag(name: str, max_doc_scans: int) -> dict | None:
    """Detector-4 verdict for one query: None below the floor, a flag
    dict at/above it ("triaged": True for allowlisted two-pass shapes)."""
    if max_doc_scans < TOKENIZE_FLOOR:
        return None
    triaged = TRIAGED_TOKENIZE.get(name)
    return {
        "query": name,
        "flag": "repeated_corpus_tokenize",
        "max_doc_tokenize_scans": max_doc_scans,
        **({"triaged": True, "reason": triaged} if triaged else {}),
    }


def _scan_counts(df) -> Counter:
    """Per-relation FileScan counts from the compiled physical plan
    (driver-side compile, no job). Relation identity = the scan's
    location paths; an unparseable leaf is counted under its first
    line so a plan this can't read still shows up rather than
    vanishing."""
    counts: Counter = Counter()
    try:
        # string walk, not collectLeaves: under AQE the whole query is
        # ONE AdaptiveSparkPlanExec leaf, which hides every real scan
        text = df._jdf.queryExecution().executedPlan().toString()
        for line in text.splitlines():
            if "FileScan" not in line:
                continue
            m = re.search(r"Location: \w+(?:\(\d+ paths?\))?\[([^\]]*)", line)
            rel = (
                m.group(1)
                if m
                else re.sub(r"^[^A-Za-z]*", "", line)[:120]
            )
            counts[rel] += 1
    except Exception:  # noqa: BLE001 — audit must never block the run
        pass
    return counts


_LOCATION_RE = re.compile(r"Location:.*?\[([^\]]*)")


def exec_plan_census(plan_desc: str) -> dict:
    """Flag-time forensics for ONE execution: scan census per relation,
    exchange count, and join-strategy counts from the formatted FINAL
    executed plan (planDescription — post-AQE; the ``== Initial Plan ==``
    section repeats every node and is excluded). The footer maps each
    ``(N) Scan parquet`` node id to its Location; the tree section counts
    occurrences per id, so a ReusedExchange (one-line reference) never
    double-counts. Built for the recurring judge-time gap: a post-close
    bench flag used to arrive with no plan evidence, forcing a re-measure
    on a different box state (round-12 verdict item 2)."""
    scan_loc: dict[str, str] = {}
    cur_id: str | None = None
    for line in plan_desc.splitlines():
        m = _SCAN_FOOTER_RE.match(line.rstrip())
        if m:
            cur_id = m.group(1)
            continue
        if cur_id is None:
            continue
        if not line.strip():
            cur_id = None
        elif line.startswith("Location:"):
            lm = _LOCATION_RE.search(line)
            path = (lm.group(1) if lm else line).rstrip("/")
            scan_loc[cur_id] = path.rsplit("/", 1)[-1] or path
    tree = plan_desc.split("== Initial Plan ==")[0]
    scans: Counter = Counter()
    for m in _SCAN_TREE_RE.finditer(tree):
        scans[scan_loc.get(m.group(1), "unknown")] += 1
    return {
        "scans": dict(scans),
        "n_scans": sum(scans.values()),
        "n_exchanges": len(re.findall(r"Exchange\s*\(\d+\)", tree)),
        "broadcast_hash_joins": tree.count("BroadcastHashJoin"),
        "sort_merge_joins": tree.count("SortMergeJoin"),
        "shuffled_hash_joins": tree.count("ShuffledHashJoin"),
        "nested_loop_joins": tree.count("BroadcastNestedLoopJoin"),
    }


def capture_forensics(spark, run, cursor: "ExecCursor | None" = None) -> dict:
    """Run ``run`` once and return the executed-plan evidence a regression
    flag needs to be adjudicated later: the worst (max-scan) execution's
    plan census, execution count, and the max task duration (ms) over
    every job ``run`` started, SQL or not. Callers without a standing
    cursor get a fresh one (executions before this call are excluded
    either way)."""
    if cursor is None:
        cursor = ExecCursor(spark)
    _, stages = run_grouped(spark, run)
    executions = cursor.new_executions()
    censuses = [
        exec_plan_census(ex.get("planDescription", "") or "")
        for ex in executions
    ]
    worst = max(censuses, key=lambda c: c["n_scans"], default=None)
    return {
        "n_executions": len(executions),
        "plan": worst,
        "max_task_ms": stage_max(stages, "duration"),
    }


def audit(n_queries: int = 20) -> int:
    spark = get_spark(
        "plan-audit",
        **{
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            # a 200-query audit with eager-checkpoint chains exceeds the
            # default 1000 retained executions; the ExecCursor survives
            # eviction, but a roomier window keeps it on the cheap
            # incremental path (static conf — set before session start)
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    detail = json.loads(
        (Path(__file__).resolve().parent / "BENCH_DETAIL.json").read_text()
    )
    walls = dict(detail["queries"], **detail.get("long_tail", {}))
    queries = all_queries()
    # a stale BENCH_DETAIL may name renamed/retired queries — skip them
    targets = [
        k
        for k, _ in sorted(walls.items(), key=lambda kv: -kv[1])
        if k in queries
    ][:n_queries]
    # skip executions predating the audit (warm-up etc.) and read
    # incrementally from here (eviction-safe: see ExecCursor)
    cursor = ExecCursor(spark)
    n_flags = 0
    for name in targets:

        def run(fn=queries[name].fn) -> dict:
            df = fn(spark, SF_DIR)
            census = dict(_scan_counts(df))
            df.write.format("noop").mode("overwrite").save()
            return census

        # the group holds the eager phase's jobs as well as the sink's
        static_census, stages = run_grouped(spark, run)
        # detector 3: executed Scan-parquet nodes per /sql execution
        # (post-AQE-reuse truth). The metric is the MAX over this
        # query's executions, not the sum: an eager checkpoint chain
        # legitimately runs many 1-scan builds (semantic_dedup's six
        # single-scan stages), while the pathology — a subtree compiled
        # per consumer/iteration — concentrates its redundant scans in
        # ONE execution (pre-fix nation_trade_pagerank: 14 in one job).
        max_exec_scans = 0
        # detector 4: documents-relation scans inside tokenize-bearing
        # final plans, per execution (see _doc_tokenize_scans)
        max_doc_scans = 0
        # detector 5: Arrow/Python kernel nodes per execution
        max_kernels = 0
        for ex in cursor.new_executions():
            max_exec_scans = max(
                max_exec_scans,
                sum(
                    1
                    for node in ex.get("nodes", [])
                    if node.get("nodeName", "").startswith("Scan parquet")
                ),
            )
            max_doc_scans = max(
                max_doc_scans,
                _doc_tokenize_scans(ex.get("planDescription", "")),
            )
            max_kernels = max(max_kernels, _arrow_kernels(ex))
        for flag in (
            _scan_flag(name, max_exec_scans, static_census),
            _tokenize_flag(name, max_doc_scans),
            _arrow_flag(name, max_kernels),
        ):
            if flag is not None:
                print(json.dumps(flag))
                if not flag.get("triaged"):
                    n_flags += 1
        for st in stages:
            if st["status"] != "COMPLETE" or st["numCompleteTasks"] < 4:
                continue
            try:
                # page until exhausted: a wide stage (> page size tasks)
                # sampled partially can hide a double scan pair or skew
                # the fat-read fraction
                tasks: list = []
                while True:
                    page = _ui(
                        spark,
                        f"/stages/{st['stageId']}/{st['attemptId']}/taskList"
                        f"?offset={len(tasks)}&length=1000",
                    )
                    tasks.extend(page)
                    if len(page) < 1000:
                        break
            except OSError:
                continue
            reads = [
                t.get("taskMetrics", {})
                .get("shuffleReadMetrics", {})
                .get("recordsRead", 0)
                for t in tasks
            ]
            times = sorted(
                t.get("taskMetrics", {}).get("executorRunTime", 0)
                for t in tasks
            )
            fat = [r for r in reads if r > FAT_READ_ROWS]
            # double-scan signature: MANY distinct counts, each repeated
            # exactly twice (partition sizes vary naturally, so pairs of
            # equal counts across tasks = the same partition read per
            # consumer). A single value repeated across ALL tasks is a
            # legitimately uniform stage (round-robin repartition,
            # generated data) — NOT a double scan.
            groups = Counter(fat)
            pairs = [c for c in groups.values() if c == 2]
            if (
                len(pairs) >= 4
                and 2 * len(pairs) >= 0.8 * len(fat)
                and len(fat) >= 8
                and len(groups) >= 4
            ):
                print(
                    json.dumps(
                        {
                            "query": name,
                            "stage": st["stageId"],
                            "flag": "duplicate_partition_reads",
                            "fat_reads": len(fat),
                            "duplicated": 2 * len(pairs),
                        }
                    )
                )
                n_flags += 1
            mx, md = (times[-1], times[len(times) // 2]) if times else (0, 0)
            # md == 0 (sub-ms median) CAN be the extreme straggler
            # (near-empty siblings), but legitimately tiny-sibling
            # stages also read md == 0 — so that branch additionally
            # requires the max task to dominate the stage's total time
            # (one task is most of the work), not just clear the floor
            if mx > STRAGGLER_FLOOR_MS and (
                (md == 0 and mx > 0.5 * sum(times))
                or (md > 0 and mx / md > STRAGGLER_RATIO)
            ):
                print(
                    json.dumps(
                        {
                            "query": name,
                            "stage": st["stageId"],
                            "flag": "straggler",
                            "max_s": round(mx / 1000, 2),
                            "med_s": round(md / 1000, 2),
                        }
                    )
                )
                n_flags += 1
    print(
        json.dumps(
            {"audited": len(targets), "flags": n_flags, "sf_dir": SF_DIR}
        )
    )
    return 1 if n_flags else 0


if __name__ == "__main__":
    sys.exit(audit(int(sys.argv[1]) if len(sys.argv) > 1 else 20))
