"""Lake-engine benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one closed-loop, single-client workload (see ``workloads.py``) on
one ``local[nproc]`` Spark session, checks every op outside its timed
window, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, from spans recorded around the engine's public functions and from
Spark's event log. The line before it carries the run context.

Each run works in a fresh directory under ``.perfbench/runs`` of the
checkout (Spark scratch, local dirs, lake root, event log) and removes
it at exit; ``.perfbench/oracle`` caches the DuckDB oracle digests and
``.perfbench/results`` keeps each run's full record.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SF_DIR = "/root/testdata/sf0.1"
#: a run stops starting ops this long after process start, whatever
#: ``--seconds`` says, so that it always exits within its time limit
HARD_STOP_S = 150.0
MIB = 1024.0 * 1024.0

# -- host readings -----------------------------------------------------------
def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def read_cpu_totals() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return sum(vals), vals[7]


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def proc_status_mib(pid: int | str, field: str) -> float:
    """A kB field of /proc/<pid>/status (VmHWM, VmRSS) in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def retained_mib(sc) -> dict[str, float]:
    """Memory the session still holds once the workload is done: JVM
    heap after a full collection, JVM non-heap, and the driver Python's
    resident set. Python is collected first, so that the JVM objects
    only its dead DataFrames referenced are released, and the JVM twice,
    so that what Spark's context cleaner frees after the first is gone."""
    import gc
    gc.collect()
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {"jvm_heap": mx.getHeapMemoryUsage().getUsed() / MIB,
            "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / MIB,
            "python_rss": proc_status_mib("self", "VmRSS")}


def cpu_seconds(pid: int | str) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def source_id() -> str:
    """The git commit when the checkout is a repository, otherwise a
    digest of the engine's sources."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "datalake_project_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:12]


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def tail_percentile(durations: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten timed ops beyond
    it, and its nearest-rank value; None when the run is too short to
    put one at or above the median."""
    n = len(durations)
    if n < 20:
        return None
    p = int(100 * (n - 10) // n)
    ranked = sorted(durations)
    rank = max(1, -(-p * n // 100))
    return p, ranked[rank - 1]


# -- the run -----------------------------------------------------------------
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=SF_DIR,
                    help="read-only fixture directory for the query workloads")
    ap.add_argument("--max-ops", type=int, default=0,
                    help="stop after this many timed ops (0: no limit); for smoke runs")
    return ap.parse_args(argv)


def isolate(run_dir: str, cpus: int) -> None:
    """Fresh scratch and local dirs for this run; Spark's Python workers
    inherit PYTHONPATH, so they can import the engine from the checkout."""
    for sub in ("scratch", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["DATALAKE_SPARK_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # temporary files (streaming checkpoints, the engine's mkdtemp calls)
    # stay in the run directory: Python's through TMPDIR, the JVM's
    # through java.io.tmpdir on the options spark-submit passes it. Every
    # JVM, spark-submit's launcher too, would write a perf-data file to
    # /tmp whatever tmpdir says.
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}"]).strip()
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> dict:
    cpus = cpu_count()
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, cpus)
    try:
        return _run(args, cpus, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cpus: int, run_dir: str) -> dict:
    from perfbench import trace, workloads
    from perfbench.oracle import Oracle

    wl = workloads.make(args.workload)
    setup = {}
    tracer = trace.Tracer() if args.trace else None
    span = tracer.span if tracer else (lambda name: nullcontext())

    t = time.perf_counter()
    from datalake_project_spark.catalog import TABLES
    from datalake_project_spark.queries import load_all
    from datalake_project_spark.session import get_spark
    setup["import_s"] = time.perf_counter() - t

    extra = {}
    if args.trace:
        os.makedirs(os.path.join(run_dir, "events"), exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": os.path.join(run_dir, "events"),
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.compress": "false"}
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=extra)
    setup["session.get_spark_s"] = time.perf_counter() - t
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    try:
        t = time.perf_counter()
        registry = load_all()
        setup["queries.load_all_s"] = time.perf_counter() - t

        t = time.perf_counter()
        wl.plan(registry, args.seed)  # the benchmark's own input generation
        gen_s = time.perf_counter() - t

        rt = workloads.Runtime(spark, args.sf_dir, run_dir, span)
        t = time.perf_counter()
        wl.fixtures(rt)
        setup["setup.fixtures_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup(rt)
        setup["setup.warmup_s"] = time.perf_counter() - t

        if tracer:
            tracer.sc = sc
            undo = trace.install(tracer)
        oracle = Oracle(args.sf_dir, TABLES, os.path.join(STATE, "oracle"))

        durations, labels, records, failures = [], [], 0, []
        timed = 0.0
        cpu0 = read_cpu_totals()
        proc_cpu0 = cpu_seconds("self") + cpu_seconds(jvm_pid)
        wall0 = time.time()
        setup_s = time.perf_counter() - T_START - gen_s
        i = 0
        while (timed < args.seconds or not wl.at_boundary()) \
                and time.perf_counter() - T_START < HARD_STOP_S \
                and not (args.max_ops and i >= args.max_ops):
            op = wl.next_op()
            label = wl.op_label(op)
            if tracer:
                tracer.op = i
            t0 = time.perf_counter()
            err, out = None, None
            try:
                with span("op"):
                    out = wl.run(rt, op)
            except Exception as e:  # an op's failure is counted, not fatal
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
            dt = time.perf_counter() - t0
            if tracer:
                tracer.op = None
            timed += dt
            durations.append(dt)
            labels.append(label)
            if err is None:
                records += out.records
                try:
                    err = wl.check(oracle, op, out)
                except Exception as e:  # a check that cannot run is a failure
                    err = f"check {type(e).__name__}: {str(e)[:200]}"
            if err:
                failures.append({"op": label, "error": err})
            i += 1
        wall1 = time.time()
        cpu1 = read_cpu_totals()
        proc_cpu = cpu_seconds("self") + cpu_seconds(jvm_pid) - proc_cpu0
        oracle.close()
        if tracer:
            trace.uninstall(undo)

        peak_rss = proc_status_mib("self", "VmHWM") + proc_status_mib(jvm_pid, "VmHWM")
        retained = retained_mib(sc)
        lake_bpr, lake_files = None, 0
        if getattr(wl, "lake_root", None):
            size, lake_files = dir_bytes_files(wl.lake_root)
            ingested = sum(wl.inputs.n_records(k) for k in range(wl.k + 1))
            lake_bpr = size / ingested
        counts = {"lake.files": lake_files,
                  "session.temp_views_end": len(spark.catalog.listTables()),
                  "session.persisted_rdds_end": len(sc._jsc.getPersistentRDDs())}
        default_par = sc.defaultParallelism
        master = sc.master
    finally:
        stop_spark(spark)

    n = len(durations)
    if n == 0:
        raise RuntimeError("no op ran")
    dtot, dsteal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(durations),
        "ops_per_s": n / timed,
        "records_per_s": records / timed,
        "ok_frac": (n - len(failures)) / n,
        "retained_mb": sum(retained.values()),
    }
    tail = tail_percentile(durations)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "master": master, "default_parallelism": default_par,
        "commit": source_id(), "sf_dir": args.sf_dir if wl.pool else None,
        "loadavg_1m": loadavg_1m(), "steal_pct": 100.0 * dsteal / dtot if dtot else 0.0,
        "timed_s": timed, "ops": n, "pool": len(wl.pool),
        "op_tail_s": ({"value": tail[1], "percentile": tail[0], "ops": n}
                      if tail else None),
        "lake_bytes_per_record": lake_bpr, "peak_rss_mb": peak_rss, "retained_parts": retained,
        "failures": failures, "setup_parts": setup, "gen_s": gen_s,
        "process_cpu_s": proc_cpu,
    }
    result = {"e2e": e2e, "context": context, "ops": list(zip(labels, durations))}
    if tracer:
        result["layers"] = layer_metrics(tracer, n, setup, counts, proc_cpu,
                                         run_dir, wall0, wall1, durations)
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        tracer.dump(os.path.join(STATE, "results",
                                 f"{args.workload}-seed{args.seed}.spans.jsonl"))
    return result


PER_OP_TIMES = ("catalog.table", "queries.build", "queries.plan", "queries.execute",
                "lake.write_formatted", "lake.write_usage", "lake.read_usage",
                "lake.latest_run_before", "sources.ingest_records",
                "functions.enrich_gender_native", "operators.snapshot_diff",
                "streaming.run_available_now")


def layer_metrics(tracer, n_ops, setup, counts, proc_cpu, run_dir,
                  wall0, wall1, durations) -> dict:
    from perfbench import trace
    tot = trace.layer_totals(tracer.spans)

    def get(name, key):
        return tot.get(name, {}).get(key, 0)

    m = {k: setup[k] for k in ("session.get_spark_s", "queries.load_all_s",
                               "setup.fixtures_s", "setup.warmup_s")}
    for name in PER_OP_TIMES:
        m[f"{name}_s"] = get(name, "self_s") / n_ops
    m["catalog.table_calls"] = get("catalog.table", "calls") / n_ops
    m["catalog.table_jobs"] = get("catalog.table", "jobs") / n_ops
    m["queries.build_jobs"] = get("queries.build", "jobs") / n_ops
    m["queries.execute_jobs"] = get("queries.execute", "jobs") / n_ops
    m["queries.execute_tasks"] = get("queries.execute", "tasks") / n_ops
    m["lake.write_jobs"] = (get("lake.write_formatted", "jobs")
                            + get("lake.write_usage", "jobs")) / n_ops
    m["streaming.drains"] = get("streaming.run_available_now", "calls") / n_ops
    m.update(counts)
    events = os.path.join(run_dir, "events")
    logs = [os.path.join(events, f) for f in os.listdir(events)]
    ev = trace.event_log_totals(logs[0], wall0 * 1e3, wall1 * 1e3) if logs else {}
    for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = ev.get(k, 0) / n_ops
    # micro-batch jobs run under the stream's own job group, so they are
    # counted from the event log rather than per span
    m["streaming.drain_jobs"] = ev.get("stream_jobs", 0) / n_ops
    m["process.cpu_s"] = proc_cpu / n_ops
    op_wall = sum(durations)
    m["trace.span_coverage"] = trace.coverage(tracer.spans, "op")
    m["trace.overhead_frac"] = tracer.overhead_s / op_wall
    m["trace.op_p50_s"] = statistics.median(durations)
    return m


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        res = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    ctx = res["context"]
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = res["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = res["e2e"]
    metrics = {name: {"value": source[name], "unit": unit} for name, unit in names}
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": not ctx["failures"], "attempted": ctx["ops"],
                      "failed": len(ctx["failures"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
