"""Spans around the program's layers, recorded from outside the program.

``Tracer.install`` wraps the public entry points of the catalog, the Pig
Latin front end and the Spark actions; ``uninstall`` restores them, so an
untraced execution runs the program unwrapped.  Spans stay in memory.
After each traced execution ``SparkStats`` reads Spark's local status
API (``/api/v1/applications/<app>/stages`` and ``/sql``) for the jobs of
that execution's job group.

Layer names are the repo's module names: ``catalog``, ``latin``,
``queries``, ``catalyst`` (forcing ``executedPlan``) and ``exec`` (every
Spark action, including the sink).  The root span of an execution is
``query``; its self time is the benchmark's own glue.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import Counter, defaultdict
from contextlib import contextmanager

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from pigout_spark import catalog as catalog_mod
from pigout_spark import latin as latin_mod
from pigout_spark.queries import registry

#: DataFrame methods that run a Spark job (localCheckpoint and
#: checkpoint are eager by default)
ACTIONS = ("collect", "count", "toPandas", "take", "first", "head",
           "localCheckpoint", "checkpoint")
WRITES = ("save", "parquet", "csv", "json")
#: per-execution counters: SparkStats.collect, plus the RDD and sink
#: counts the benchmark loop takes after a traced execution
COUNTED = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.gc_s",
    "exec.scheduler_delay_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "catalyst.exchanges", "catalyst.sorts",
    "catalyst.sort_merge_joins", "scan.tasks", "scan.files", "scan.mb_read",
    "scan.rows", "scan.time_s", "udf.rows", "udf.mb_to_python",
    "udf.mb_from_python", "pipeline.persisted_rdds", "pipeline.leaked_rdds",
    "sink.files", "sink.mb_written",
)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "ArrowWindowPython", "WindowInPandas")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.qid: int | None = None
        self.counts: Counter = Counter()
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "qid": self.qid}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # -- wrapping --------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        tr = self

        def spanned(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def counted_load(orig):
            def wrapper(cat, spark, name):
                tr.counts["catalog.loads"] += 1
                if not any(tr.spans[i]["name"] == "catalog" for i in tr._stack):
                    tr.counts["catalog.lookups"] += 1
                with tr.span("catalog"):
                    return orig(cat, spark, name)
            return wrapper

        def counted_load_table(orig):
            def wrapper(spark, sf_dir, name):
                tr.counts["catalog.lookups"] += 1
                key = (spark.sparkContext.applicationId, sf_dir, name)
                if key in catalog_mod._HANDLE_CACHE:
                    tr.counts["catalog.hits"] += 1
                with tr.span("catalog"):
                    return orig(spark, sf_dir, name)
            return wrapper

        def counted_run(orig):
            def wrapper(pig, stmt):
                tr.counts["latin.statements"] += 1
                return orig(pig, stmt)
            return wrapper

        def planned_write(orig):
            # A DataFrame caches its own physical plan, and the write
            # plans its query again in a new QueryExecution; time that
            # planning on a fresh QueryExecution of the same plan.
            def wrapper(writer, *a, **kw):
                jss = writer._df.sparkSession._jsparkSession
                mode = writer._df.sparkSession._jvm.org.apache.spark.sql \
                    .execution.CommandExecutionMode.ALL()
                with tr.span("catalyst"):
                    jss.sessionState().executePlan(
                        writer._df._jdf.queryExecution().logical(), mode
                    ).executedPlan()
                with tr.span("exec"):
                    return orig(writer, *a, **kw)
            return wrapper

        self._patch(catalog_mod.Catalog, "load", counted_load)
        for mod in (catalog_mod, registry):
            self._patch(mod, "load_table", counted_load_table)
        self._patch(latin_mod.PigSession, "execute", spanned("latin"))
        self._patch(latin_mod.PigSession, "_run", counted_run)
        for m in ACTIONS:
            self._patch(DataFrame, m, spanned("exec"))
        for m in WRITES:
            self._patch(DataFrameWriter, m, planned_write)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- reduction ---------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Σ self time per layer name over all spans."""
        out: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        for i, rec in enumerate(self.spans):
            out[rec["name"]] += rec["end"] - rec["start"] - child[i]
        return dict(out)

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.spans if r["name"] == name)


# -- Spark status API ------------------------------------------------------
_UNITS = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
          "GiB": 1024**3 / 1e6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """A SQL node metric as the UI formats it: ``60,000``, ``1.2 MiB``
    (→ MB), ``320 ms`` (→ s), or the multi-task form whose second line
    starts with the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    m = re.match(r"^([\d.,]+)\s*([A-Za-z]*)$", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkStats:
    """Per-execution job, stage, task and SQL-node figures."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.sql_seen = 0

    def begin(self) -> None:
        """Call before a traced execution: SQL executions up to here
        belong to earlier, untraced ones."""
        self.sql_seen = len(self._get("sql?details=false&offset=0&length=1000000"))

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.url}/{path}", timeout=30) as r:
            return json.load(r)

    def collect(self, group: str) -> Counter:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = sorted({s for j in jobs for s in st.getJobInfo(j).stageIds})
        c: Counter = Counter({"exec.jobs": len(jobs)})
        for sid in stage_ids:
            for a in self._get(f"stages/{sid}?details=true"):
                if a["status"] != "COMPLETE":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += a["numCompleteTasks"]
                c["exec.task_s"] += a["executorRunTime"] / 1e3
                c["exec.gc_s"] += a["jvmGcTime"] / 1e3
                c["exec.scheduler_delay_s"] += sum(
                    t.get("schedulerDelay", 0) for t in a.get("tasks", {}).values()
                ) / 1e3
                c["exec.shuffle_read_mb"] += a["shuffleReadBytes"] / 1e6
                c["exec.shuffle_write_mb"] += a["shuffleWriteBytes"] / 1e6
                c["exec.spill_mb"] += a["diskBytesSpilled"] / 1e6
                if a["inputBytes"] or a["inputRecords"]:
                    c["scan.tasks"] += a["numCompleteTasks"]
        execs = self._get(f"sql?details=true&planDescription=false"
                          f"&offset={self.sql_seen}&length=1000000")
        for e in execs:
            if not set(jobs) & set(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            for node in e.get("nodes", []):
                name = node["nodeName"]
                m = {x["name"]: metric_value(x["value"]) for x in node.get("metrics", [])}
                if name in ("Exchange", "BroadcastExchange"):
                    c["catalyst.exchanges"] += 1
                elif name == "Sort":
                    c["catalyst.sorts"] += 1
                elif name == "SortMergeJoin":
                    c["catalyst.sort_merge_joins"] += 1
                elif name.startswith("Scan "):
                    c["scan.files"] += m.get("number of files read", 0)
                    c["scan.mb_read"] += m.get("size of files read", 0)
                    c["scan.rows"] += m.get("number of output rows", 0)
                    c["scan.time_s"] += m.get("scan time", 0)
                elif name in PYTHON_NODES:
                    c["udf.rows"] += m.get("number of output rows", 0)
                    c["udf.mb_to_python"] += m.get("data sent to Python workers", 0)
                    c["udf.mb_from_python"] += m.get("data returned from Python workers", 0)
        return c
