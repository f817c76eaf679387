"""The benchmark workloads, run against the library's public surface.

Every workload is a closed loop with one client: the next operation
starts when the previous one returns.

- heavy_ops: 3 construction-heavy keys (n-gram containment, graph
  connected components, geo clustering) over the sf0.01 tables. Two
  untimed passes come first: on the fresh driver the first pays the
  one-off start-up (first jobs, Python workers, code generation), and
  the JIT warms up most steeply over the second. Then timed passes run.
  Every
  pass reads the tables through a new path holding the documents in a
  seeded row order, so every path-keyed cache misses, as for a newly
  arrived corpus. The last pass's results are collected for the
  pinned-digest check.
- reactive_ingest: the sf0.1 events fed as equal blocks into a diamond
  Reactor DAG (raw -> clicks, purchases -> per_user), each feed followed
  by a poll, with a Graph.materialize report over the accumulated sink
  every REPORT_EVERY blocks. An untimed short ingest warms up; then timed
  passes run, each ingesting every event once into a new reactor
  directory. The seed places the block boundaries.

Timed passes run until `seconds` have been measured over at least the
workload's minimum number of passes. A pass during which the hypervisor
took more than STEAL_LIMIT of this machine's CPU time (the `steal`
column of /proc/stat) measured the host's other tenants, not the
program: it is repeated, at most MAX_EXTRA_PASSES times a run, and the
end-to-end timings use the undisturbed passes, or, if too few remain,
the minimum number of least-disturbed ones.

The tables are the same for every seed.
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
from basis_spark.io import load
from basis_spark.pipeline import Graph
from basis_spark.reactive import Reactor
from basis_spark.registry import QUERIES

# Construction-heavy keys: materialized n-gram sets, eager checkpoints
# in the star connected-components loop, the DBSCAN driver loop. Their
# warm latencies (about 1, 4 and 2.5 s on 4 cores) sit apart, so the
# median op is always the same key. Pinned result digests live in
# digests.json.
HEAVY_KEYS = [
    "text_containment_pairs",
    "graph_connected_components",
    "geo_dbscan_clusters",
]
# Untimed passes: about 22 and 10.5 s on 4 cores; the timed ones that
# follow take about 8.5, 8 and 7.5 s.
HEAVY_WARM_PASSES = 2
# Undisturbed timed passes per heavy_ops run, at least.
HEAVY_PASSES = 3
N_BLOCKS = 6
REPORT_EVERY = 3
WARM_BLOCKS = 3
# Share of the CPUs' time taken by the hypervisor above which a timed
# pass counts as disturbed. Quiet passes on a 4-core guest lose under
# 0.5%; at 5-20% a pass of many short Spark jobs runs 1.3-1.8 times as
# long.
STEAL_LIMIT = 0.03
MAX_EXTRA_PASSES = 1
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


@dataclass
class Ctx:
    spark: object
    tracer: object
    rng: random.Random
    seconds: float
    deadline: float  # perf_counter time after which no new pass starts
    big: str  # sf0.1 tables
    small: str  # sf0.01 tables
    work: str  # this run's scratch directory
    threads: int
    rss: dict = field(default_factory=dict)
    cache: dict = field(default_factory=dict)

    def sample_memory(self) -> None:
        """Called right after the timed passes: the driver's peak RSS
        (Python + JVM), the memory it retains (Python RSS plus JVM heap
        and non-heap in use after a full GC) and the DataFrames Spark
        holds persisted."""
        jvm = self.spark._jvm
        pid = str(jvm.java.lang.ProcessHandle.current().pid())
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.rss = {
            "peak_python_mb": _vm_mb("self", "VmHWM"),
            "peak_jvm_mb": _vm_mb(pid, "VmHWM"),
            "python_rss_mb": _vm_mb("self", "VmRSS"),
            "jvm_heap_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_non_heap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        }
        self.rss["retained_mb"] = self.rss["python_rss_mb"] + self.rss["jvm_heap_mb"] + self.rss["jvm_non_heap_mb"]
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cache = {
            "cache.persisted_rdds": len(self.spark.sparkContext._jsc.getPersistentRDDs()),
            "cache.mem_bytes": sum(i.memSize() for i in infos),
        }


@dataclass
class Result:
    pass_spans: list = field(default_factory=list)  # timed passes only
    min_passes: int = 1
    op_spans: list = field(default_factory=list)  # timed ops
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def kept_passes(self) -> list:
        """The timed passes the end-to-end timings use: the undisturbed
        ones if there are min_passes of them, else the min_passes with
        the least steal."""
        clean = [ps for ps in self.pass_spans if not ps.attrs["disturbed"]]
        if len(clean) >= self.min_passes:
            return clean
        least = sorted(self.pass_spans, key=lambda ps: ps.attrs["steal_share"])[: self.min_passes]
        return [ps for ps in self.pass_spans if ps in least]

    def op_latencies(self) -> list[float]:
        kept = {ps.pass_no for ps in self.kept_passes()}
        return [op.dur for op in self.op_spans if op.pass_no in kept]

    def fail(self, what: str, err: BaseException | None = None) -> None:
        self.failed += 1
        detail = "" if err is None else f": {type(err).__name__}: {str(err)[:300]}"
        self.problems.append(what + detail)
        if err is not None:
            traceback.print_exception(err)


def _vm_mb(pid: str, field_name: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field_name + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field_name} for pid {pid}")


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this
    machine's CPUs had work (/proc/stat `steal`, all CPUs); 0 where the
    kernel does not count it."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _timed_passes(ctx: Ctx, res: Result, one_pass, min_passes: int = 1, first: int = 1) -> None:
    """Run one_pass(pass_no) under a pass span until min_passes
    undisturbed passes, together at least ctx.seconds long, are done;
    at most MAX_EXTRA_PASSES more passes than min_passes are run, and
    none that would cross the run deadline. A full GC first, so the
    warm-up's garbage is not collected on the clock. Passes are numbered
    from `first`."""
    ctx.spark._jvm.java.lang.System.gc()
    res.min_passes = min_passes
    p = first - 1
    while True:
        p += 1
        stolen = _steal_s()
        with ctx.tracer.span("pass", pass_no=p) as ps:
            one_pass(p)
        ps.attrs["steal_share"] = (_steal_s() - stolen) / (ctx.threads * ps.dur)
        ps.attrs["disturbed"] = ps.attrs["steal_share"] > STEAL_LIMIT
        res.pass_spans.append(ps)
        clean = [s.dur for s in res.pass_spans if not s.attrs["disturbed"]]
        if len(clean) >= min_passes and sum(clean) >= ctx.seconds:
            return
        if len(res.pass_spans) >= min_passes + MAX_EXTRA_PASSES or time.perf_counter() + ps.dur > ctx.deadline:
            return


def _query_op(ctx: Ctx, res: Result, key: str, path: str):
    """One timed operator call: build the DataFrame, (traced: force the
    physical plan), then execute it into the noop sink. Returns the
    DataFrame, or None if the call raised."""
    tr = ctx.tracer
    res.attempted += 1
    try:
        with tr.span("op", op=key) as op:
            with tr.span("build"):
                df = QUERIES[key](ctx.spark, path)
            if tr.traced:
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec"):
                df.write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
        res.fail(f"{key} raised", e)
        return None
    res.op_spans.append(op)
    return df


def _fresh_corpus(ctx: Ctx, name: str) -> str:
    """A new directory with the sf0.01 tables, documents rewritten in a
    seeded row order: a path no cache has seen, holding the same rows."""
    path = os.path.join(ctx.work, name)
    os.makedirs(path)
    for table in os.listdir(ctx.small):
        if table != "documents.parquet":
            os.symlink(os.path.join(ctx.small, table), os.path.join(path, table))
    docs = pq.read_table(os.path.join(ctx.small, "documents.parquet"))
    order = list(range(docs.num_rows))
    ctx.rng.shuffle(order)
    pq.write_table(docs.take(order), os.path.join(path, "documents.parquet"), compression="snappy")
    return path


def heavy_ops(ctx: Ctx) -> Result:
    res = Result()
    pins = json.load(open(DIGESTS))["digests"]
    checked = {}

    def run_pass(p: int) -> None:
        path = _fresh_corpus(ctx, f"corpus-p{p}")
        checked[p] = {key: _query_op(ctx, res, key, path) for key in HEAVY_KEYS}

    for p in range(1, HEAVY_WARM_PASSES + 1):
        with ctx.tracer.span("warmup", pass_no=p):
            run_pass(p)
    _timed_passes(ctx, res, run_pass, HEAVY_PASSES, first=HEAVY_WARM_PASSES + 1)
    ctx.sample_memory()
    last = res.pass_spans[-1].pass_no
    for key, df in checked[last].items():
        if df is None:
            continue
        res.attempted += 1
        with ctx.tracer.span("check", pass_no=last, op=key):
            dig, rows = checks.spark_digest(df)
        if dig != pins[key]["digest"]:
            res.fail(f"{key}: {rows} rows, digest differs from the pinned one ({pins[key]['rows']} rows)")
    return res


def _diamond(spark, base: str) -> Reactor:
    r = Reactor(spark, base)
    r.source("raw")
    r.node("clicks", lambda inc: inc.filter(F.col("event_type") == "click"), ["raw"])
    r.node("purchases", lambda inc: inc.filter(F.col("event_type") == "purchase"), ["raw"])

    def per_user(c, p):
        cu = c.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
        pu = p.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_purch"))
        return cu.join(pu, "user_id", "full").na.fill(0)

    r.node("per_user", per_user, ["clicks", "purchases"])
    return r


def _report(reactor: Reactor, out_dir: str) -> dict:
    """Graph report node over the accumulated sink: per-user totals."""
    g = Graph(reactor.spark)
    g.source("per_user", reactor.read("per_user"))

    @g.node("totals", inputs=["per_user"])
    def totals(pu):
        return pu.groupBy("user_id").agg(
            F.sum("n_clicks").alias("n_clicks"), F.sum("n_purch").alias("n_purch")
        )

    return g.materialize("totals", out_dir)


def _dir_stats(path: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


def reactive_ingest(ctx: Ctx) -> Result:
    res = Result()
    tr = ctx.tracer
    events = load(ctx.spark, ctx.big, "events")
    n = pq.read_metadata(os.path.join(ctx.big, "events.parquet")).num_rows
    start = ctx.rng.randrange(n)  # the seed places the block boundaries
    src_bytes = os.path.getsize(os.path.join(ctx.big, "events.parquet"))
    feed_s, poll_s, report_s, materialize_s, idle_s = [], [], [], [], []

    def block(i: int):
        """Events [start + i*n/N_BLOCKS, start + (i+1)*n/N_BLOCKS) in
        arrival order, wrapping at n: the blocks cover every event once."""
        lo = (start + i * n // N_BLOCKS) % n
        hi = lo + (i + 1) * n // N_BLOCKS - i * n // N_BLOCKS
        if hi <= n:
            return events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        return events.filter((F.col("event_id") >= lo) | (F.col("event_id") < hi - n))

    def ingest(base: str, blocks: int, timed: bool) -> Reactor:
        r = _diamond(ctx.spark, base)
        for i in range(blocks):
            res.attempted += 1
            try:
                with tr.span("op", op=f"block{i}") as op:
                    with tr.span("build"):
                        df = block(i)
                    if tr.traced:
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("feed") as fs:
                        r.feed("raw", df)
                    with tr.span("poll") as ps:
                        moved = r.poll()
                if "per_user" not in moved:
                    res.fail(f"block{i}: poll did not reach per_user (moved {sorted(moved)})")
            except Exception as e:  # noqa: BLE001
                res.fail(f"block{i} raised", e)
                continue
            if timed:
                res.op_spans.append(op)
                feed_s.append(fs.dur)
                poll_s.append(ps.dur)
            if (i + 1) % REPORT_EVERY == 0 or i + 1 == blocks:
                res.attempted += 1
                try:
                    with tr.span("op", op=f"report{i + 1}") as op:
                        with tr.span("report") as rs:
                            _report(r, f"{base}-reports")
                except Exception as e:  # noqa: BLE001
                    res.fail(f"report after block{i} raised", e)
                    continue
                if timed:
                    report_s.append(op.dur)
                    materialize_s.append(rs.dur)
        res.attempted += 1
        try:
            with tr.span("op", op="idle") as op:
                with tr.span("poll"):
                    moved = r.poll()
            if moved:
                res.fail(f"idle poll moved {sorted(moved)}")
        except Exception as e:  # noqa: BLE001
            res.fail("idle poll raised", e)
        if timed:
            idle_s.append(op.dur)
        return r

    ingest(os.path.join(ctx.work, "reactor-warm"), WARM_BLOCKS, timed=False)
    last = {}

    def one_pass(p: int) -> None:
        last["base"] = os.path.join(ctx.work, f"reactor-p{p}")
        last["reactor"] = ingest(last["base"], N_BLOCKS, timed=True)

    _timed_passes(ctx, res, one_pass)
    ctx.sample_memory()
    files, nbytes = _dir_stats(last["base"])
    # Exactly-once: the last report's totals must equal a batch
    # aggregate of the same events (each pass feeds every event once).
    res.attempted += 1
    reports = glob.glob(os.path.join(f"{last['base']}-reports", "totals", "block=*"))
    if not reports:
        res.fail("no report was written")
        return res
    report = ctx.spark.read.parquet(max(reports, key=lambda s: int(s.rsplit("=", 1)[1])))
    got = checks.spark_digest(report.select("user_id", "n_clicks", "n_purch"))
    con = checks.connect(ctx.big, ctx.threads)
    try:
        want = checks.duckdb_digest(
            con,
            "select user_id, count(*) filter (where event_type = 'click') n_clicks, "
            "count(*) filter (where event_type = 'purchase') n_purch from events "
            "where event_type in ('click', 'purchase') group by user_id",
        )
    finally:
        con.close()
    if got != want:
        res.fail(f"per_user totals ({got[1]} users) differ from the batch aggregate ({want[1]} users)")
    med = statistics.median
    res.extra.update(
        {
            "report_s": med(report_s),
            "reactive.feed_s": med(feed_s),
            "reactive.poll_s": med(poll_s),
            "reactive.idle_poll_s": med(idle_s),
            "reactive.files": files,
            "reactive.write_amp": nbytes / src_bytes,
            "pipeline.materialize_s": med(materialize_s),
            "pipeline.scan_files": len(last["reactor"].read("per_user").inputFiles()),
        }
    )
    return res


WORKLOADS = {"heavy_ops": heavy_ops, "reactive_ingest": reactive_ingest}
