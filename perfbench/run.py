"""Benchmark of the PigOut-on-Spark engine: one workload, one seed, one
closed loop with a single client.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  It generates seeded inputs under
``.perfbench_work/`` (inputs.py, in its own process), starts
``local[<nproc>]`` Spark from a cold JVM (the set-up time), hash-checks
each query's first, untimed execution against its DuckDB twin
(oracle.py, in its own process), then submits one query at a time in a
seeded order, a fixed number of whole rounds of the query list.  It prints ``metric <name> <value> <unit>`` lines and, last, one
JSON object.  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` alternates untraced and traced rounds and
reports the per-layer metrics (see tracing.py).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import string
import subprocess
import sys
import tempfile
import time
from collections import Counter
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
NEEDED = ("pigout_spark", "bench.py", "tools/make_scale.py", "examples/udfs.py")

#: per workload: replication factor of the sf0.001 base (so sf =
#: factor / 1000), timed rounds of the query list, and the query list.
#: A fixed number of rounds, not a deadline, ends the loop, whatever
#: ``--seconds`` says: the JVM is still warming up, so one round more or
#: less would move every figure, and a faster program must not get more
#: (and warmer) rounds than a slower one.  The round counts give at least
#: 16 executions, so that a tail percentile with 10 samples beyond it
#: exists, and three samples or more per query for its median.
WORKLOADS = {
    "relational": (20, 3, [
        "q01_group_agg", "q03_join_agg", "q05_broadcast_join", "q09_order_limit",
        "q11_cube", "q15_nested_topk", "q22_distinct_agg", "x_cohort_retention",
        "x_sessionize", "x_apply_cdc", "stream_session",
    ]),
    "pig_scripts": (10, 3, [
        "etl_compat", "macros_and_cube", "params_and_stream",
        "revenue_by_priority", "udfs_and_compat", "wordcount",
    ]),
    "pipeline": (1, 4, ["x_pagerank", "dedup_minhash", "x_item_cf", "x_bpe_encode"]),
}
#: seeded variants of the Pig scripts' constants and keys
PIG_PARAMS = {
    "etl_compat": {"BIG": ["100000.0", "150000.0", "200000.0"],
                   "MID": ["30000.0", "50000.0", "70000.0"]},
    "macros_and_cube": {"MINQTY": [str(q) for q in range(20, 31, 2)]},
    "params_and_stream": {"MINQTY": [str(q) for q in range(30, 36)]},
    "revenue_by_priority": {"MAXQTY": [str(q) for q in range(10, 16)],
                            "KEY": ["o_orderpriority", "o_orderstatus"]},
    "udfs_and_compat": {"MAXQTY": [str(q) for q in range(36, 41)]},
    "wordcount": {"TOPN": [str(n) for n in range(10, 51, 10)]},
}
#: orders as a PigStorage (tab-separated, headerless) file: the
#: ``AS (...)`` schema a Pig script would declare for it
ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING"
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted, not used: a run is a fixed number of rounds")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input size override (a multiple of 0.001)")
    return p.parse_args(argv)


def percentile_tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it: the
    sample at rank n-10 (1-based).  Returns (value, percentile)."""
    s = sorted(xs)
    k = max(len(s) - 10, 1)
    return s[k - 1], 100.0 * k / len(s)


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median_of_medians(samples: dict[str, list[float]]) -> float:
    """The median over the query list of each query's median: the median
    of the pooled samples would jump between the gaps of a mix of queries
    with different costs."""
    return statistics.median(statistics.median(v) for v in samples.values() if v)


class Releaser:
    """Drops persisted RDDs outside the timed region, counting each
    unpersist that fails instead of swallowing it."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc
        self.failures = 0

    def persisted(self) -> int:
        return len(self.jsc.getPersistentRDDs())

    def release(self) -> None:
        from py4j.protocol import Py4JError

        gc.collect()
        jmap = self.jsc.getPersistentRDDs()
        for rdd in list(jmap.values()):
            try:
                rdd.unpersist(False)
            except Py4JError as e:
                self.failures += 1
                print(f"release failed: {e}", file=sys.stderr)


class RegistryRunner:
    """Registered queries through their callables, into a noop sink.
    ``rebuild`` builds the plan from scratch on every execution (the
    raw builder); otherwise the prepared-plan cache serves it, unless
    its plan holds a checkpoint or a cache (bench._needs_rebuild)."""

    kind = "registry"

    def __init__(self, names: list[str], data: Path, rebuild: bool) -> None:
        import __spark_entry__ as entrymod
        from pigout_spark import queries as qmod

        qs = {**qmod.extra_queries(), **entrymod.queries()}
        self.sql = {**qmod.extra_oracle_sql(), **entrymod.oracle_sql()}
        self.names = names
        self.dirs = [str(data)]
        self.data = str(data)
        self.memo = {n: qs[n] for n in names}
        self.rebuild = {n: rebuild for n in names}

    def register(self, spark) -> None:
        from pigout_spark.catalog import FIXTURE_TABLES, load_table

        for t in FIXTURE_TABLES:
            load_table(spark, self.data, t)

    def _fn(self, name):
        return self.memo[name].__wrapped__ if self.rebuild[name] else self.memo[name]

    def execute(self, spark, name, tr=None):
        from pigout_spark.queries import registry

        fn = self._fn(name)
        if tr is not None and fn is self.memo[name]:
            tr.counts["queries.calls"] += 1
            key = (spark.sparkContext.applicationId, self.data, name)
            tr.counts["queries.plan_cache_hits"] += key in registry._PLAN_CACHE
        with _span(tr, "query"):
            with _span(tr, "queries"):
                df = fn(spark, self.data)
            df.write.format("noop").mode("overwrite").save()
        return df

    def first(self, spark, name) -> dict[str, str]:
        """The untimed first execution; its rows, as pickled pandas, and
        the DuckDB twin, for oracle.py."""
        from bench import _needs_rebuild

        df = self._fn(name)(spark, self.data)
        if not self.rebuild[name]:
            self.rebuild[name] = _needs_rebuild(df)
        got = WORK / "got" / f"{name}.pkl"
        df.toPandas().to_pickle(got)
        return {"name": name, "got": str(got), "sql": self.sql[name]}

    def sink_stats(self, name) -> tuple[int, float]:
        return 0, 0.0  # the noop sink writes nothing


class PigRunner:
    """Pig Latin scripts compiled from text on every submission, over a
    fresh two-cluster Catalog; every script ends in a parquet STORE."""

    kind = "pig"

    def __init__(self, names: list[str], clusters, rng: random.Random) -> None:
        self.names = names
        self.dirs = [str(c) for c in clusters]
        self.c1, self.c2 = clusters
        self.out = WORK / "out"
        self.scripts = {}
        for n in names:
            params = {k: rng.choice(v) for k, v in PIG_PARAMS[n].items()}
            params["OUT"] = str(self.out / n)
            params["UDFS"] = str(ROOT / "examples" / "udfs.py")
            self.scripts[n] = ((HERE / "scripts" / f"{n}.pig").read_text(), params)

    def catalog(self):
        from pigout_spark.catalog import Catalog

        return (
            Catalog()
            .register_fixture_dir(str(self.c1))
            .register("orders", str(self.c2 / "orders.tsv"), fmt="csv",
                      options={"sep": "\t"}, schema=ORDERS_DDL)
            .register("documents", str(self.c2 / "documents.parquet"))
        )

    def register(self, spark) -> None:
        cat = self.catalog()
        for t in ("lineitem", "orders", "documents"):
            cat.load(spark, t).schema

    def execute(self, spark, name, tr=None):
        from pigout_spark.latin import run_script

        text, params = self.scripts[name]
        with _span(tr, "query"):
            return run_script(spark, text, self.catalog(), params=params)

    def first(self, spark, name) -> dict[str, str]:
        """The untimed first execution; the directory it stored into and
        the DuckDB twin (scripts/<name>.sql, same parameters), for
        oracle.py."""
        self.execute(spark, name)
        _, params = self.scripts[name]
        sql = string.Template((HERE / "scripts" / f"{name}.sql").read_text())
        return {"name": name, "got": str(self.out / name), "sql": sql.substitute(params)}

    def sink_stats(self, name) -> tuple[int, float]:
        files = [p for p in (self.out / name).glob("*") if not p.name.startswith(("_", "."))]
        return len(files), sum(p.stat().st_size for p in files) / 1e6


def _span(tr, name):
    return nullcontext() if tr is None else tr.span(name)


def warm_up(spark, sf_dir: str) -> None:
    """One small scan, shuffle join, aggregate and sink, so the first
    query does not pay for starting the task machinery.  JIT warm-up is
    left to the untimed, checked first execution of every query."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.join(region, nation.n_regionkey == region.r_regionkey).groupBy(
        "r_name").count().write.format("noop").mode("overwrite").save()


def setup(runner, warm_dir: str, conf: dict[str, str]):
    """SparkSession start (launching the JVM) + catalog registration +
    warm-up; returns the session and the three times."""
    from pigout_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    runner.register(spark)
    t2 = time.perf_counter()
    warm_up(spark, warm_dir)
    t3 = time.perf_counter()
    return spark, (t1 - t0, t2 - t1, t3 - t2)


def stop() -> None:
    """Stop Spark, if its JVM was launched, and wait until the JVM has
    ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)


def check_first(runner, spark, names, releaser) -> tuple[int, list[str]]:
    """Untimed first executions, then one oracle.py process that
    hash-checks each result against its DuckDB twin.  Returns the number
    that failed and the names that failed or mismatched."""
    failed, bad, checks = 0, [], []
    (WORK / "got").mkdir()
    for name in names:
        try:
            checks.append(runner.first(spark, name))
        except Exception as e:  # a failing query is counted and reported
            failed += 1
            bad.append(name)
            print(f"MISMATCH {name}: error {type(e).__name__}: {str(e)[:300]}",
                  flush=True)
        finally:
            releaser.release()
    spec = WORK / "checks.json"
    spec.write_text(json.dumps({"kind": runner.kind, "dirs": runner.dirs,
                                "checks": checks}))
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, str(HERE / "oracle.py"), str(spec)],
                         check=True, stdout=subprocess.PIPE, text=True, timeout=150)
    print(f"info oracle_s={time.perf_counter() - t0:.2f}", flush=True)
    for name, problem in json.loads(out.stdout.splitlines()[-1]).items():
        if problem:
            bad.append(name)
            print(f"MISMATCH {name}: {problem}", flush=True)
    return failed, bad


class Loop:
    """The closed loop: one client submits the query list in a seeded
    order, round after round.  With a tracer, rounds come in pairs,
    untraced-traced then traced-untraced, and each traced execution is
    followed, outside its timed region, by the Spark status reads and the
    RDD and sink counts."""

    def __init__(self, runner, spark, releaser, tracer=None, stats=None) -> None:
        self.runner, self.spark, self.releaser = runner, spark, releaser
        self.tracer, self.stats = tracer, stats
        self.plain: dict[str, list[float]] = {n: [] for n in runner.names}
        self.traced: dict[str, list[float]] = {n: [] for n in runner.names}
        self.per_exec: Counter = Counter()
        self.attempted = self.failed = self.rounds = 0

    def run(self, rng: random.Random, rounds: int) -> None:
        """``rounds`` whole rounds.  Traced, two pairs instead, in
        alternating order so that warm-up does not land on one side of
        the overhead (the traced run reports no end-to-end metric)."""
        if self.tracer is None:
            order = [None] * rounds
        else:
            order = [None, self.tracer, self.tracer, None]
        for tr in order:
            for name in rng.sample(self.runner.names, len(self.runner.names)):
                self._one(name, tr)
            self.rounds += 1

    def _one(self, name: str, tr) -> None:
        sc = self.spark.sparkContext
        self.attempted += 1
        before = self.releaser.persisted()
        if tr is not None:
            tr.qid = self.attempted
            group = f"perfbench-{self.attempted}"
            sc.setJobGroup(group, name)
            self.stats.begin()
            tr.install()
        t0 = time.perf_counter()
        try:
            handle = self.runner.execute(self.spark, name, tr)
            dt = time.perf_counter() - t0
        except Exception as e:  # a failing query is counted and reported
            self.failed += 1
            print(f"FAILED {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            self.releaser.release()
            return
        finally:
            if tr is not None:
                tr.uninstall()
                sc._jsc.clearJobGroup()
        if tr is None:
            self.plain[name].append(dt)
        else:
            self.traced[name].append(dt)
            c = self.per_exec
            c["pipeline.persisted_rdds"] += self.releaser.persisted() - before
            del handle
            gc.collect()
            sc._jvm.System.gc()
            c["pipeline.leaked_rdds"] += self.releaser.persisted() - before
            c.update(self.stats.collect(group))
            files, mb = self.runner.sink_stats(name)
            c["sink.files"] += files
            c["sink.mb_written"] += mb
        if self.releaser.persisted() > before:
            self.releaser.release()


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in NEEDED if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: {ROOT} is not a pigout_spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    # keep every file Spark, py4j and Python write inside the checkout
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # a 2 GB driver heap, not session.py's 8g: enough at these input sizes
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": str(WORK / "tmp"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        # Python UDF workers unpickle functions defined in pigout_spark
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    sys.path.insert(0, str(ROOT))

    factor, rounds, names = WORKLOADS[args.workload]
    if args.sf is not None:
        factor = max(1, round(args.sf * 1000))
    rng = random.Random(args.seed)
    pig = args.workload == "pig_scripts"
    try:
        t0 = time.perf_counter()
        gen = subprocess.run(
            [sys.executable, str(HERE / "inputs.py"), str(WORK), str(factor),
             str(args.seed)] + (["--clusters"] if pig else []),
            check=True, stdout=subprocess.PIPE, text=True, timeout=150)
        dirs = [Path(d) for d in gen.stdout.split()]
        gen_s = time.perf_counter() - t0
        if pig:
            runner = PigRunner(names, dirs, rng)
        else:
            runner = RegistryRunner(names, dirs[0], rebuild=args.workload == "pipeline")
        print(f"info workload={args.workload} seed={args.seed} sf={factor / 1000:g} "
              f"queries={','.join(names)} cpus={cpus} loop=closed clients=1 "
              f"rounds={rounds} gen_s={gen_s:.3f}", flush=True)
        spark, setup_t = setup(runner, str(dirs[0]), conf)
        releaser = Releaser(spark)
        t0 = time.perf_counter()
        failed, mismatched = check_first(
            runner, spark, rng.sample(names, len(names)), releaser)
        check_s = time.perf_counter() - t0
        tracer = stats = None
        if args.trace:
            from tracing import SparkStats, Tracer

            tracer, stats = Tracer(), SparkStats(spark)
        loop = Loop(runner, spark, releaser, tracer, stats)
        t0 = time.perf_counter()
        loop.run(rng, rounds)
        loop_s = time.perf_counter() - t0
        rss = (vm_hwm_mb(spark.sparkContext._gateway.proc.pid), vm_hwm_mb("self"))
    finally:
        stop()
        shutil.rmtree(WORK, ignore_errors=True)

    plain = [x for v in loop.plain.values() for x in v]
    tail, tail_pct = percentile_tail(plain)
    attempted = len(names) + loop.attempted
    failed += loop.failed
    values = {
        "setup_s": sum(setup_t),
        "latency_p50_s": median_of_medians(loop.plain),
        "latency_tail_s": tail,
        "queries_per_min": 60.0 * len(plain) / sum(plain),
        "peak_rss_mb": sum(rss),
        "fail_ratio": failed / attempted,
        "oracle_mismatch": len(mismatched),
        "session.start_s": setup_t[0],
        "session.warmup_s": setup_t[2],
        "pipeline.release_failures": releaser.failures,
    }
    if args.trace:
        n_traced = sum(map(len, loop.traced.values()))
        values.update(layer_metrics(tracer, loop.per_exec, n_traced, cpus))
        values["trace.overhead_s"] = (
            median_of_medians(loop.traced) - median_of_medians(loop.plain))
    print(f"info executions={len(plain)} traced={n_traced if args.trace else 0} "
          f"rounds={loop.rounds} latency_tail_s=p{tail_pct:.1f} of {len(plain)} "
          f"samples setup_s={[round(t, 2) for t in setup_t]} "
          f"check_s={check_s:.1f} loop_s={loop_s:.1f} "
          f"rss_jvm_mb={rss[0]:.0f} rss_py_mb={rss[1]:.0f} "
          f"load1_start={load_start:.2f} load1_end={os.getloadavg()[0]:.2f}",
          flush=True)

    metrics = {}
    for m in spec["per_layer"] if args.trace else spec["end_to_end"]:
        v = float(values[m["name"]])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"metric {m['name']} {v:.6g} {m['unit']}", flush=True)
    print(json.dumps({
        "correct": not mismatched and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def layer_metrics(tr, per_exec: Counter, n: int, cpus: int) -> dict[str, float]:
    """Per-execution means over the traced rounds, by layer."""
    self_s = tr.self_times()
    c = tr.counts
    exec_s = self_s.get("exec", 0.0)
    out = {
        "catalog.load_s": self_s.get("catalog", 0.0) / n,
        "catalog.loads": c["catalog.loads"] / n,
        "catalog.cache_hit_ratio": c["catalog.hits"] / max(c["catalog.lookups"], 1),
        "latin.compile_s": self_s.get("latin", 0.0) / n,
        "latin.statements": c["latin.statements"] / n,
        "queries.build_s": self_s.get("queries", 0.0) / n,
        "queries.plan_cache_hit_ratio":
            c["queries.plan_cache_hits"] / max(c["queries.calls"], 1),
        "catalyst.plan_s": self_s.get("catalyst", 0.0) / n,
        "exec.action_s": exec_s / n,
        "exec.busy_ratio": per_exec["exec.task_s"] / max(exec_s * cpus, 1e-9),
        # Σ layer self times over the traced wall; the rest is the
        # benchmark's own glue inside the timed region (the root span)
        "trace.self_time_share":
            sum(v for k, v in self_s.items() if k != "query") / tr.total("query"),
    }
    from tracing import COUNTED

    for k in COUNTED:
        out[k] = per_exec[k] / n
    return out


if __name__ == "__main__":
    sys.exit(main())
