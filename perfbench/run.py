"""Benchmark of the scheduled collection job and its training read.

    python3 perfbench/run.py --workload collect|train_read --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed`` in
this process; the program is driven only through its public functions
(see workloads.py). After set-up, whole rounds of the workload's fixed
operations run until ``--seconds`` have passed; the outputs are then
checked against the generator's expected tables, and the last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and the
``metrics`` (end-to-end ones with ``--trace 0``; per-layer ones from a
traced run with ``--trace 1``). The line before it (``# host: ...``)
records the host's CPU steal and load over the timed region, the Spark
master and the default parallelism.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("collect", "train_read")
# Spark's local parallelism: at most 2 cores. Both workloads are bound by
# fixed per-job costs, so 2 cores do the same work in about the same time
# as 4, and the cores left free absorb the host's other load: on a shared
# 4-core host that cut the run-to-run spread of collect's wall_s from
# 0.18-0.25 to 0.07 (IQR/median over five seeds).
MAX_CPUS = 2


def process_start_time() -> float:
    """Wall-clock start of this process (from /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Fix the core count and keep every file Spark, the JVM and Python
    write inside the checkout."""
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = process_start_time()

    sys.path[:0] = [ROOT, HERE]
    # the program under test; absent, the run fails here with no result
    import nfl_data_engineering_spark  # noqa: F401
    import probes

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    tracer = probes.Tracer() if args.trace else None
    try:
        with probes.RssSampler() as rss:
            result, host = run(args, work, tracer, t_process, rss)
        if tracer is not None:
            tracer.write(os.path.join(
                work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("# host: " + json.dumps(host))
    print(json.dumps(result))
    return 0


def run(args, work, tracer, t_process, rss):
    import probes
    import workloads
    from nfl_data_engineering_spark.session import get_spark

    if tracer is not None:
        install_wrappers(tracer)
    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# session: {session_s:.3f}s", file=sys.stderr)
    try:
        cls = {"collect": workloads.Collect,
               "train_read": workloads.TrainRead}[args.workload]
        w = cls(spark, args.seed, work, tracer)
        w.setup()
        setup_s = time.time() - t_process
        # peak memory of the timed work: collect set-up's garbage first
        spark._jvm.System.gc()
        rss.reset()
        h0, t_run = probes.host_sample(), time.perf_counter()
        walls = []
        while not walls or time.perf_counter() - t_run < args.seconds:
            walls.append(w.round())
        h1, timed_s = probes.host_sample(), time.perf_counter() - t_run
        peak_rss = rss.peak_bytes
        errs = w.check()
        for e in errs:
            print(f"# check failed: {e}")
        sc = spark.sparkContext
        host = {"steal_s": round(h1["steal_s"] - h0["steal_s"], 2),
                "load1_start": h0["load1"], "load1_end": h1["load1"],
                "timed_s": round(timed_s, 3),
                "rounds": len(walls),
                "peak_rss_mb": round(peak_rss / 2 ** 20, 1),
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "cpus": os.environ["SPARK_GRAFT_CPUS"]}
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (statistics.median(walls), "s"),
                "op_p50_s": (statistics.median(w.op_times), "s"),
                "rows_per_s": (w.rows / sum(walls), "1/s"),
                "lake_bytes_per_row": (w.lake_bytes_per_row(), "B"),
            }
        else:
            metrics = layer_metrics(tracer, w, session_s)
            metrics["process.peak_rss_mb"] = (peak_rss / 2 ** 20, "MB")
    finally:
        stop_spark(spark)
    result = {"correct": not errs, "attempted": len(w.op_times),
              "failed": w.failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, host


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    import probes
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    children = probes.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{pid}") for pid in children):
        time.sleep(0.1)


def install_wrappers(tracer) -> None:
    """Spans around the program's layer functions, installed from here."""
    import workloads
    from nfl_data_engineering_spark import io, pipelines
    from nfl_data_engineering_spark.operators import joins

    def scrape_tasks(t, args, kwargs):
        t.count("sources.scrape_tasks", kwargs.get("num_tasks", 32))

    tracer.wrap(pipelines, "handler", "pipelines.handler")
    tracer.wrap(pipelines, "market_coverage_gaps", "sources.coverage_check")
    tracer.wrap(pipelines, "scrape_tables_long", "sources.scrape",
                on_call=scrape_tasks)
    tracer.wrap(pipelines, "upsert_partitioned", "io.upsert")
    tracer.wrap(io, "upsert_partitioned", "io.upsert")
    tracer.wrap(joins, "pivot_wide", "operators.pivot")
    tracer.wrap(workloads, "_materialize", "features.materialize")


def layer_metrics(tracer, w, session_s: float) -> dict:
    """Per-layer numbers of a traced run: span medians, per-operation
    means of the REST counts, over the timed operations (set-up ones
    for a layer the timed region does not touch)."""
    import probes as pr

    timed = [r for r in w.records if r["timed"]]
    setup = [r for r in w.records if not r["timed"]]

    def pick(pred):
        sel = [r for r in timed if pred(r)]
        return sel or [r for r in setup if pred(r)]

    def spans(name, recs):
        tags = {r["tag"] for r in recs}
        return [s for s in tracer.spans if s["name"] == name
                and s["op"] in tags and s["end"] is not None]

    def med_span(name, recs):
        return pr.median([s["end"] - s["start"] for s in spans(name, recs)])

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    kind_recs = {k: [r for r in timed if r["kind"] == k]
                 for k in ("odds", "rankings")}
    up_recs = pick(lambda r: any(s["op"] == r["tag"] and
                                 s["name"] == "io.upsert"
                                 for s in tracer.spans))
    writes = [pr.sql_node_metrics(r["rest"], "Execute InsertIntoHadoopFs")
              for r in up_recs]
    up_spans = spans("io.upsert", up_recs)
    up_jobs = [sum(1 for j in r["rest"]["jobs"]
                   if any(s["op"] == r["tag"] and s["start"]
                          <= pr.rest_time(j["submissionTime"]) <= s["end"]
                          for s in up_spans))
               for r in up_recs]
    new_rows = sum(w.batch_rows.get(r["tag"], 0) for r in up_recs)
    scans = [pr.sql_node_metrics(r["rest"], "Scan parquet") for r in timed]
    scrape = [c["value"] for c in tracer.counts
              if c["name"] == "sources.scrape_tasks"
              and c["op"] in {r["tag"] for r in kind_recs["rankings"]}]
    ex = [pr.exec_counts(r["rest"], r["wall"]) for r in timed]
    out = {
        "session.start_s": (session_s, "s"),
        "pipelines.odds_event_s": (med_span("pipelines.handler",
                                            kind_recs["odds"]), "s"),
        "pipelines.rankings_event_s": (med_span("pipelines.handler",
                                                kind_recs["rankings"]), "s"),
        "sources.coverage_check_s": (med_span("sources.coverage_check",
                                              kind_recs["odds"]), "s"),
        "sources.scrape_tasks": (mean(scrape), "count"),
        "io.upsert_s": (med_span("io.upsert", up_recs), "s"),
        "io.upsert_jobs": (mean(up_jobs), "count"),
        "io.files_written": (mean([sum(n.get("number of written files", 0)
                                       for n in ws) for ws in writes]),
                             "count"),
        "io.bytes_written_per_row": (
            sum(n.get("written output", 0.0) for ws in writes for n in ws)
            / new_rows if new_rows else 0.0, "B"),
        "io.lake_files": (float(w.lake_files()), "count"),
        "io.files_read": (mean([sum(n.get("number of files read", 0)
                                    for n in sc) for sc in scans]), "count"),
        "io.partitions_read": (mean([sum(n.get("number of partitions read", 0)
                                         for n in sc) for sc in scans]),
                               "count"),
        "io.scan_rows": (mean([sum(n.get("number of output rows", 0)
                                   for n in sc) for sc in scans]), "count"),
        "operators.pivot_s": (med_span("operators.pivot", timed), "s"),
        "features.materialize_s": (med_span("features.materialize", timed),
                                   "s"),
    }
    units = {"exec.jobs_per_op": "count", "exec.stages_per_op": "count",
             "exec.tasks_per_op": "count", "exec.gap_s_per_op": "s",
             "exec.task_run_s_per_op": "s", "exec.shuffle_bytes_per_op": "B",
             "exec.spill_bytes_per_op": "B"}
    for k, u in units.items():
        out[k] = (mean([e[k] for e in ex]), u)
    return out


if __name__ == "__main__":
    sys.exit(main())
