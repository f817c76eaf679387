"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload heavy_ops --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout, against the library's public surface
(`session.get_spark`, `registry.QUERIES`, `reactive.Reactor`,
`pipeline.Graph`) with the session's shipped defaults: only
SPARK_GRAFT_CPUS (= the cores this process may use) and
SPARK_LOCAL_DIRS are set. Tables are generated once into
perfbench/.data; scratch output goes to perfbench/.work and is removed
at the end of the run, except the result and span files in
perfbench/.work/results.

--trace 0 reports the end-to-end metrics. --trace 1 turns on Spark's
event log and a job group per phase, forces each plan before executing
it, and reports the per-layer metrics instead; traced minus untraced
pass_s is the tracing overhead, printed when both results are present.
The last stdout line is {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The names in workloads.WORKLOADS; importing that module here would load
# pyspark before the set-up is timed.
WORKLOADS = ("heavy_ops", "reactive_ingest")
# A run starts no timed pass that would end later than this after the
# run began: runs stay near a minute and a half at most, with room for
# checks and shutdown well inside the 180 s a run may take.
PASS_DEADLINE_S = 80
# Stop-and-recreate cycles of the session after the cold start; setup_s
# is the registry import plus their median get_spark time. The cold
# get_spark (JVM launch) is reported on its own as session.get_spark_s.
SESSION_SETUPS = 3
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_latency_p50_s": "s",
    "op_latency_p90_s": "s",
    "retained_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.register_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "share",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_wait_s": "s",
    "spark.driver_only_s": "s",
    "spark.slot_busy_share": "share",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s",
    "spark.task_deser_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.failed_tasks": "count",
    "cache.persisted_rdds": "count",
    "cache.mem_bytes": "bytes",
}
EXEC_PHASES = ("exec", "feed", "poll", "report")


def _git_head() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, env=env, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_sha256() -> str:
    """Digest of the library's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "basis_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _layer_metrics(tracer, jobs, slots: int, pass_spans, cache: dict, setup: dict) -> dict:
    """Per-layer metrics: per timed pass from the spans and the event
    log's jobs, then the median over passes."""
    import eventlog

    by_span = eventlog.attribute(jobs, tracer.spans)
    kids: dict[int, list] = {}
    for sp in tracer.spans:
        kids.setdefault(sp.parent, []).append(sp)

    def under(sp):
        for k in kids.get(sp.id, []):
            yield k
            yield from under(k)

    per_pass = []
    for ps in pass_spans:
        desc = list(under(ps))
        ops = [s for s in kids.get(ps.id, []) if s.phase == "op"]
        pass_jobs = [j for s in [ps, *desc] for j in by_span.get(s.id, [])]
        build = [s for s in desc if s.phase == "build"]
        blocks = [s for s in ops if s.op.startswith("block")]
        build_s = sum(s.dur for s in build)
        m = {
            "operators.build_s": build_s,
            "operators.build_jobs": sum(s.attrs["jobs"] for s in build),
            "operators.build_share": build_s / ps.dur,
            "spark.plan_s": sum(s.dur for s in desc if s.phase == "plan"),
            "spark.exec_s": sum(s.dur for s in desc if s.phase in EXEC_PHASES),
        }
        m.update(eventlog.spark_metrics(pass_jobs, [(s.start, s.end) for s in ops], slots))
        if blocks:
            m["reactive.jobs_per_block"] = sum(
                len(by_span.get(s.id, [])) for b in blocks for s in [b, *under(b)]
            ) / len(blocks)
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["session.register_s"] = setup["register_s"]
    out.update(cache)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "basis_spark", "session.py")):
        print(f"perfbench: no basis_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    t_run = time.perf_counter()
    load_start = os.getloadavg()
    slots = len(os.sched_getaffinity(0))
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    results = os.path.join(HERE, ".work", "results")
    run_dir = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _measure(args, t_run, load_start, slots, name, results, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, t_run: float, load_start, slots: int, name: str, results: str, run_dir: str) -> int:
    tmp, evdir = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "eventlog")
    for d in (results, tmp, evdir):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(slots),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TZ="UTC",
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    time.tzset()
    sys.path.insert(1, ROOT)
    import datagen

    big = datagen.ensure(os.path.join(HERE, ".data"), 0.1)
    small = datagen.ensure(os.path.join(HERE, ".data"), 0.01)

    if args.trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{evdir} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    import lifecycle

    marks = {"start": t_run, "data": time.perf_counter()}
    spark, first = lifecycle.set_up()
    setup = dict(first, recreate_s=[])
    try:
        for _ in range(SESSION_SETUPS):
            spark, dt = lifecycle.recreate(spark)
            setup["recreate_s"].append(dt)
        import duckdb
        import pyspark

        import spans
        import workloads

        tracer = spans.Tracer(args.workload, spark.sparkContext if args.trace else None)
        ctx = workloads.Ctx(
            spark=spark,
            tracer=tracer,
            rng=random.Random(args.seed),
            seconds=args.seconds,
            deadline=t_run + PASS_DEADLINE_S,
            big=big,
            small=small,
            work=run_dir,
            threads=slots,
        )
        marks["session"] = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        marks["workload"] = time.perf_counter()
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "git_head": _git_head(),
            "source_sha256": _source_sha256(),
            "nproc": slots,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "confs": {
                k: spark.conf.get(k)
                for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled", "spark.driver.memory")
            },
            "app_id": spark.sparkContext.applicationId,
            "load_avg_start": load_start,
        }
    finally:
        lifecycle.stop_spark(spark)
    provenance["load_avg_end"] = os.getloadavg()
    marks["stopped"] = time.perf_counter()

    passes = [sp.dur for sp in res.kept_passes()]
    lat = sorted(res.op_latencies())
    report = {
        "passes": len(passes),
        "passes_run": len(res.pass_spans),
        "passes_disturbed": sum(sp.attrs["disturbed"] for sp in res.pass_spans),
        "steal_share": [round(sp.attrs["steal_share"], 4) for sp in res.pass_spans],
        "ops_timed": len(lat),
        "pass_s": statistics.median(passes),
        "error_rate": res.failed / res.attempted,
        "setup": setup,
        "peak_rss_mb": ctx.rss["peak_python_mb"] + ctx.rss["peak_jvm_mb"],
        "memory_mb": ctx.rss,
        **res.extra,
    }
    if args.trace:
        import eventlog

        jobs = eventlog.load(os.path.join(evdir, f"eventlog_v2_{provenance['app_id']}"))
        metrics = _layer_metrics(tracer, jobs, slots, res.kept_passes(), ctx.cache, setup)
        for key in [k for k in metrics if k.startswith(("reactive.", "pipeline."))]:
            report[key] = metrics.pop(key)
        spans_out = [
            {"phase": "job", "id": f"job{j.id}", "parent": sid, "group": j.group, "start": j.submit, "end": j.end,
             "stages": len(j.stages), "tasks": sum(len(s.tasks) for s in j.stages)}
            for sid, js in eventlog.attribute(jobs, tracer.spans).items() for j in js
        ]
        units = PER_LAYER
    else:
        spans_out = []
        metrics = {
            "setup_s": setup["register_s"] + statistics.median(setup["recreate_s"]),
            "pass_s": report["pass_s"],
            "op_latency_p50_s": statistics.median(lat),
            "op_latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
            "retained_mb": ctx.rss["retained_mb"],
        }
        units = END_TO_END
    other = os.path.join(results, f"{args.workload}-s{args.seed}-t{1 - args.trace}.json")
    if os.path.exists(other):
        with open(other) as fh:
            other_pass = json.load(fh)["report"]["pass_s"]
        traced, untraced = (report["pass_s"], other_pass) if args.trace else (other_pass, report["pass_s"])
        report["tracing_overhead_s"] = traced - untraced
    marks["end"] = time.perf_counter()
    report["timeline_s"] = {k: round(v - t_run, 2) for k, v in marks.items()}
    tracer.write_jsonl(os.path.join(results, f"{name}-spans.jsonl"), spans_out)
    with open(os.path.join(results, f"{name}.json"), "w") as fh:
        json.dump({"metrics": metrics, "report": report, "problems": res.problems, "provenance": provenance}, fh, indent=1)

    for key, val in report.items():
        print(f"# {key}: {json.dumps(val)}")
    for problem in res.problems:
        print(f"# FAILED: {problem}")
    print(json.dumps({"provenance": provenance}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
