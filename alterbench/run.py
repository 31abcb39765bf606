#!/usr/bin/env python3
"""End-to-end benchmark of easy_alterator_spark.

    python3 alterbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (closed loop, one client, one process, ``local[<cpus>]``):

- ``ddl_apply``: one ``cli.run_alterator(validate=False)`` per round
  over a Hive corpus, on a freshly restored catalog: tables that need a
  pure ``ADD COLUMNS``, plus the format-changed, non-parquet, identical
  and new tables of the reference's published run and a non-CREATE
  file. Each operation reads its own copy of the DDL files. After the
  timed rounds, an untimed validate re-run must find every table at its
  fix-point.
- ``query_mix``: round-robin over a fixed list of ``queries.QUERIES``,
  one ``QUERIES[name](spark, data).toPandas()`` per operation.

The run makes its inputs from ``--seed`` in a private directory under
``.alterbench/`` (own warehouse, database, Spark scratch and temp
dirs), sets up the session and builds the inputs into it several
times, warms up untimed, then runs whole rounds of operations until
``--seconds`` have passed and at least ``min_rounds`` rounds are done.
Outputs are checked outside the timed region against the corpus
generator's expectations, the catalog after apply, the fix-point
validate and the DuckDB oracles. The time metrics are CPU seconds of
the process tree; the record keeps the wall times too.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). A per-run record (failures with reasons, cpus, host
steal, Spark ERROR lines) is printed on the line before and written to
``.alterbench/records/``; traced runs also write their spans to
``.alterbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".alterbench")
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("ddl_apply", "query_mix")
# set-up passes per run (the first also launches the JVM); setup_s is
# the median of their CPU times
SETUP_PASSES = 4
# driver JVM heap; the session default (16g) lets one schema-diff run
# grow the JVM past the memory of a 16 GB host
DRIVER_MEM = "2g"
ACCOUNT_ID = "123456789012"
# ddl_apply corpus: tables per kind. The read-side kinds are the
# non-Iceberg categories of the one run the reference publishes (458
# tables: 185 format-changed, 39 non-parquet, 35 identical, 11 new),
# format-changed the most as there, scaled down to the run's time
# budget; the ADD COLUMNS tables give the write path its work.
# README.md gives the measured cost of each table.
APPLY_CORPUS = {
    "add": 3,
    "format_changed": 3,
    "non_parquet": 1,
    "identical": 1,
    "new": 1,
    "non_create": 1,
}
QUERY_SF = 0.01
# ROADMAP's named performance targets that fit one run's time budget,
# then every K-th of the other benched queries with an oracle, in name
# order. README.md gives the reasons for every exclusion.
QUERY_TARGETS = ("q08_multijoin_agg", "cluster_kmeans")
QUERY_TARGETS_LEFT_OUT = (
    "dedup_minhash_lsh",
    "dedup_cluster_assign_star",
    "dedup_keep_best",
    "stats_bootstrap_poisson",
    "graph_pagerank",
    "stream_view_click_join",
    "hierarchy_bom_rollup",
)
QUERY_STRIDE = 70
QUERY_EXCLUDED = ("sim_ann_pq",)
QUERY_EXCLUDED_PREFIXES = ("ml_logreg_", "ddl_")
QUERY_EXCLUDED_MODULES = ("easy_alterator_spark.queries.schema_tools",)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# process isolation
# ---------------------------------------------------------------------------


def isolate(work: str, trace: bool) -> dict:
    """Point every scratch location of Spark, the JVM and Python at
    ``work``; send the JVM's log (fd 2) to a file there. Must run before
    the first session starts."""
    for d in ("warehouse", "spark-local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    confs = {"spark.sql.warehouse.dir": f"file://{work}/warehouse"}
    if trace:
        from spans import EVENT_LOG_CONFS

        confs.update(EVENT_LOG_CONFS)
        confs["spark.eventLog.dir"] = f"file://{work}/events"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # C1 only: a run's JVM lives about a minute, and with C2 the
            # JIT kept compiling through every timed round, so the
            # figures tracked how far it had got on a busy host
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -XX:TieredStopAtLevel=1",
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in confs.items())
            + " pyspark-shell",
        }
    )
    os.chdir(work)
    log = os.path.join(work, "spark.log")
    real_stderr = os.dup(2)
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(fd, 2)
    os.close(fd)
    return {"cpus": cpus, "log": log, "stderr": real_stderr}


class ErrorLines:
    """Counts Spark ERROR log lines written to the log since the last call."""

    def __init__(self, path: str):
        self.path = path
        self.pos = 0

    def take(self) -> int:
        with open(self.path, "rb") as f:
            f.seek(self.pos)
            data = f.read()
        self.pos += len(data)
        return sum(1 for line in data.split(b"\n") if b" ERROR " in line)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and every live descendant: the Python driver, the JVM and its Python
    workers. Host steal is not charged to processes, so this counts the
    program's work where wall time also counts the neighbours'."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children[pid])
    return ticks / _TICK


def retained_mb(spark) -> float:
    """Memory the run holds once its timed rounds end: the driver JVM's
    heap in use after a full collection plus the Python driver's
    resident set after one."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    gc.collect()
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return (rt.totalMemory() - rt.freeMemory()) / 2**20 + rss_kb / 1024.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """:meth:`prepare` makes the input files once; each set-up pass
    builds them into a fresh session (:meth:`build`); a round runs
    :meth:`op` for each entry of :meth:`entries`. ``op`` returns (wall
    seconds, CPU seconds, failure reason or None); only the program call
    is timed, its output is checked after."""

    # timed rounds a run makes at least, whatever --seconds says
    min_rounds = 1

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.spark = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @staticmethod
    def timed(call):
        """(result, wall seconds, CPU seconds) of ``call()``."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = call()
        dt = time.perf_counter() - t0
        return out, dt, tree_cpu_s() - c0

    def prepare(self, d: str) -> None:
        raise NotImplementedError

    def build(self, spark) -> None:
        raise NotImplementedError

    def entries(self) -> list[str]:
        raise NotImplementedError

    def finish(self) -> str | None:
        """An untimed check after the timed rounds: None, or why the
        last operation's output is wrong."""
        return None

    def warmup(self) -> None:
        """One untimed round."""
        for e in self.entries():
            *_, why = self.op(e)
            if why:
                raise RuntimeError(f"warm-up {e}: {why}")

    def op(self, entry: str) -> tuple[float, float, str | None]:
        raise NotImplementedError

    def teardown(self) -> None:
        pass


class DdlApply(Workload):
    db = "alterbench_apply"
    # two samples of the apply per run: a third took 10 s more of a
    # run that already took 70 s on a busy host
    min_rounds = 2

    def prepare(self, d):
        from corpus import make_corpus

        self.root = d
        self.staged = 0
        self.corpus = make_corpus(self.seed, self.db, APPLY_CORPUS)

    def build(self, spark):
        self.spark = spark
        spark.sql(f"CREATE DATABASE {self.db}")
        for t in self.corpus.tables:
            if t.catalog_sql:
                spark.sql(t.catalog_sql)

    def entries(self):
        return ["apply"]

    def stage(self, entry: str) -> str:
        """A fresh copy of the DDL files: run_alterator leaves its parse
        cached, and a parse of paths read before would be served from
        that cache."""
        self.staged += 1
        return self.corpus.stage(os.path.join(self.root, f"ddl-{self.staged:03d}-{entry}"))

    def op(self, entry):
        from checks import apply_failure
        from easy_alterator_spark.cli import run_alterator

        # restore the catalog the previous apply altered
        for t in self.corpus.tables:
            if t.applied_columns is not None:
                self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
                self.spark.sql(t.catalog_sql)
        ddl_dir = self.stage(entry)
        report, dt, cpu = self.timed(
            lambda: run_alterator(self.spark, [ddl_dir], validate=False, aws_account_id=ACCOUNT_ID)
        )
        return dt, cpu, apply_failure(self.spark, report, self.corpus)

    def finish(self):
        """A validate re-run after the last apply: every table must be
        at its fix-point."""
        from checks import report_failure
        from easy_alterator_spark.cli import run_alterator

        ddl_dir = self.stage("validate")
        report = run_alterator(self.spark, [ddl_dir], validate=True, aws_account_id=ACCOUNT_ID)
        return report_failure(report, self.corpus, "fixpoint")

    def teardown(self):
        self.spark.sql(f"DROP DATABASE IF EXISTS {self.db} CASCADE")


def query_list() -> list[str]:
    from easy_alterator_spark.queries import NO_BENCH, ORACLES, QUERIES, load_all

    load_all()
    others = [
        n
        for n in sorted(
            set(QUERIES) - NO_BENCH - {*QUERY_TARGETS, *QUERY_TARGETS_LEFT_OUT, *QUERY_EXCLUDED}
        )
        if n in ORACLES
        and not n.startswith(QUERY_EXCLUDED_PREFIXES)
        and QUERIES[n].__module__ not in QUERY_EXCLUDED_MODULES
    ]
    return list(QUERY_TARGETS) + others[::QUERY_STRIDE]


class QueryMix(Workload):
    # the median of each query is over three samples or more
    min_rounds = 3

    def prepare(self, d):
        from stardata import make_tables

        self.data = os.path.join(d, "data")
        make_tables(self.data, QUERY_SF, self.seed)
        self.names = query_list()

    def build(self, spark):
        from easy_alterator_spark.sources import load_tables

        self.spark = spark
        load_tables(spark, self.data)

    def entries(self):
        return self.names

    def warmup(self):
        import duckdb

        from checks import oracle_rows
        from easy_alterator_spark.queries import ORACLES
        from easy_alterator_spark.sources import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        self.oracle = {n: oracle_rows(con, ORACLES[n]) for n in self.names}
        con.close()
        super().warmup()

    def op(self, name):
        from checks import pandas_canon
        from easy_alterator_spark.queries import QUERIES

        def run():
            if not self.tracer:
                return QUERIES[name](self.spark, self.data).toPandas()
            with self.span("queries"):
                df = QUERIES[name](self.spark, self.data)
            with self.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with self.span("exec") as s:
                pdf = df.toPandas()
            s.extra["result_rows"] = len(pdf)
            return pdf

        pdf, dt, cpu = self.timed(run)
        if pandas_canon(pdf) != self.oracle[name]:
            return dt, cpu, f"{name}: result differs from its DuckDB oracle"
        return dt, cpu, None


CLASSES = {"ddl_apply": DdlApply, "query_mix": QueryMix}


# ---------------------------------------------------------------------------
# per-layer reduction of a traced run
# ---------------------------------------------------------------------------

PER_LAYER = {
    # layer span name -> counters reported for it besides self_s
    "ddl.parser": ("py4j_calls",),
    "diff.catalog.snapshot": ("jobs", "py4j_calls"),
    "diff.hive": ("py4j_calls",),
    "diff.report": ("jobs", "tasks"),
    "diff.catalog.version": ("calls", "jobs"),
    "ddl.render": (),
    "diff.catalog.apply": ("statements",),
    "cli": ("jobs", "py4j_calls", "cached_added"),
    "queries": ("jobs", "py4j_calls"),
    "sources": ("calls",),
    "plan": (),
    "exec": (
        "jobs",
        "tasks",
        "executor_run_ms",
        "executor_cpu_ms",
        "shuffle_write_bytes",
        "spill_bytes",
        "result_rows",
    ),
}
SPAN_COUNTERS = (
    "jobs",
    "tasks",
    "py4j_calls",
    "statements",
    "result_rows",
    "cached_added",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_write_bytes",
    "spill_bytes",
)
COUNT_UNITS = {
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}


def layer_metrics(spans: list[dict], rounds: int, error_lines: int) -> dict:
    """Per round of timed operations: each layer's self time and
    counters; session self time is the median over set-up passes."""
    total: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["op"] is None or s["name"] not in PER_LAYER:
            continue
        name = s["name"]
        total[f"{name}.self_s"] += s["self_s"]
        total[f"{name}.calls"] += 1
        for k, v in s.items():
            if k in SPAN_COUNTERS:
                total[f"{name}.{k}"] += v
    sessions = [s["self_s"] for s in spans if s["name"] == "session"]
    out = {"session.self_s": {"value": statistics.median(sessions), "unit": "s"}}
    for layer, counters in PER_LAYER.items():
        out[f"{layer}.self_s"] = {"value": total[f"{layer}.self_s"] / rounds, "unit": "s"}
        for c in counters:
            out[f"{layer}.{c}"] = {
                "value": total[f"{layer}.{c}"] / rounds,
                "unit": COUNT_UNITS.get(c, "count"),
            }
    out["spark.error_lines"] = {"value": error_lines / rounds, "unit": "count"}
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def bench(args, env: dict, work: str) -> tuple[dict, dict]:
    t_process = time.perf_counter()
    tracer = None
    if args.trace:
        import spans

        import easy_alterator_spark.cli  # noqa: F401 — load every layer before wrapping
        import easy_alterator_spark.queries

        easy_alterator_spark.queries.load_all()
        tracer = spans.Tracer()
        spans.install(tracer)
    from easy_alterator_spark import session

    wl = CLASSES[args.workload](args.seed, tracer)
    t0 = time.perf_counter()
    wl.prepare(os.path.join(work, "inputs"))
    prepare_s = time.perf_counter() - t0
    setup_s, setup_cpu_s = [], []
    spark = None
    for _ in range(SETUP_PASSES):
        if spark is not None:
            wl.teardown()
            if tracer:
                tracer.spark = None
            spark.stop()

        def setup():
            s = session.get_spark(f"alterbench-{args.workload}")
            wl.build(s)
            return s

        spark, dt, cpu = Workload.timed(setup)
        setup_s.append(dt)
        setup_cpu_s.append(cpu)
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    cold_setup_s = time.perf_counter() - t_process

    errors = ErrorLines(env["log"])
    errors.take()
    ops: list[tuple[str, float, float, str | None]] = []
    error_lines = 0
    rounds = 0
    retained = None
    stat0 = cpu_times()
    t_start = time.perf_counter()
    while True:
        for e in wl.entries():
            if tracer:
                tracer.op = len(ops)
            t0, c0 = time.perf_counter(), tree_cpu_s()
            try:
                dt, cpu, why = wl.op(e)
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                why = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            if tracer:
                tracer.op = None
            error_lines += errors.take()
            ops.append((e, dt, cpu, why))
        rounds += 1
        if rounds == wl.min_rounds:
            # after a fixed number of operations, whatever the host's
            # speed: each ddl_apply operation leaves cached data behind
            t0 = time.perf_counter()
            retained = retained_mb(spark)
            t_start += time.perf_counter() - t0
        if rounds >= wl.min_rounds and time.perf_counter() - t_start >= args.seconds:
            break
    timed_s = time.perf_counter() - t_start
    steal = steal_share(stat0, cpu_times())
    t0 = time.perf_counter()
    try:
        why = wl.finish()
    except Exception as exc:  # noqa: BLE001 — counted against the last operation
        why = f"finish: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
    finish_s = time.perf_counter() - t0
    if why and not ops[-1][3]:
        ops[-1] = (*ops[-1][:3], why)
    failures = Counter(why for *_, why in ops if why)
    peak_rss = peak_rss_mb([spark.sparkContext._gateway.proc.pid, os.getpid()])
    parallelism = spark.sparkContext.defaultParallelism
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "attempted": len(ops),
        "failed": sum(failures.values()),
        "failures": dict(failures),
        "rounds": rounds,
        "timed_s": timed_s,
        "cold_setup_s": cold_setup_s,
        "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "finish_s": finish_s,
        "setup_pass_s": setup_s,
        "setup_pass_cpu_s": setup_cpu_s,
        "cpus": env["cpus"],
        "defaultParallelism": parallelism,
        "suspect_cpus_ignored": parallelism != env["cpus"],
        "steal_share": steal,
        "spark_error_lines": error_lines,
        "persistent_rdds_end": persistent_rdds(spark),
        "peak_rss_mb": peak_rss,
        "op_s": [[e, dt, cpu] for e, dt, cpu, _ in ops],
    }

    if tracer:
        wl.teardown()
        tracer.spark = None
        spark.stop()
        spans.merge_event_log(tracer, os.path.join(work, "events"))
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        tracer.dump(os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = layer_metrics([s.as_dict() for s in tracer.spans], rounds, error_lines)
    else:
        wl.teardown()
        spark.stop()
        # CPU time, not wall time: the host steals wall time from the
        # run, and on a busy host wall times doubled where CPU times
        # rose by a quarter. The record keeps both.
        per_entry = defaultdict(list)
        for e, _, cpu, _ in ops:
            per_entry[e].append(cpu)
        medians = [statistics.median(v) for v in per_entry.values()]
        metrics = {
            "setup_s": {"value": statistics.median(setup_cpu_s), "unit": "s"},
            "mix_cpu_s": {"value": sum(medians), "unit": "s"},
            "geomean_cpu_s": {"value": statistics.geometric_mean(medians), "unit": "s"},
            "retained_mb": {"value": retained, "unit": "MB"},
        }
    result = {
        "correct": not failures,
        "attempted": len(ops),
        "failed": record["failed"],
        "metrics": metrics,
    }
    stop_jvm()
    return result, record


def stop_jvm() -> None:
    """End the JVM the session launched (and with it its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "easy_alterator_spark")):
        print("alterbench: easy_alterator_spark/ is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = isolate(work, bool(args.trace))
    try:
        result, record = bench(args, env, work)
    except Exception:
        os.write(env["stderr"], traceback.format_exc().encode())
        with contextlib.suppress(Exception):
            with open(env["log"], "rb") as f:
                os.write(env["stderr"], b"--- spark log tail ---\n" + f.read()[-4000:])
        with contextlib.suppress(Exception):
            from pyspark.sql import SparkSession

            s = SparkSession.getActiveSession()
            if s is not None:
                s.stop()
            stop_jvm()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
