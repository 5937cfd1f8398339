"""Benchmark driver: one workload, one Spark driver process.

    python3 perfbench/run.py --workload crawl-polite --seed 1 --seconds 3 --trace 0

Run from the repository root.  The package is imported from the
checkout (never from site-packages); Spark runs at local[<cores>].
Every run gets its own directory under perfbench/.runs/ (TMPDIR, Spark
local dirs, event log, corpora, crawl state), removed at exit.

Standard output: one ``{"env": ...}`` line recording the environment,
then, as the last line, the result
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, measured with no event log; with
``--trace 1`` an uncompressed event log is written and rolled up per
layer (rollup.py), and the metrics are the per-layer ones.  A failed
correctness check prints ``correct: false`` with no metrics and exits 1.
See README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spacetime_crawler4py_spark"
WORKLOADS = ("crawl-polite", "index-search")
# a run must end well inside the 180 s a caller allows it
DEADLINE_S = 170
# the layers layers.instrument_crawl opens inside run_batch
BATCH_SUBLAYERS = (
    "frontier.scheduler",
    "frontier.store.read",
    "frontier.store.write",
    "frontier.bloom.build",
    "operators.parse",
    "operators.ids",
    "crawl.links",
)
# their self times plus the driver gap should cover this share of the
# batch wall; below it, attribution has a hole (a warning, not a gate:
# a program change may add jobs the wrappers do not see)
MIN_ACCOUNTED_SHARE = 0.95


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _isolate(run_dir: str) -> dict:
    """Point every temp/scratch location of this run into run_dir."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _layer_metrics(run, events_dir: str, workload: str, names) -> dict:
    """Per-layer metrics: the workload's driver-side values plus the
    event-log rollup of the jobs its measured operations started."""
    import rollup
    import workloads

    [log] = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
    events = rollup.read_events(log)
    measured = {d: r for d, r in events.items() if d.partition("#")[2] in run.ops}
    layers = rollup.by_layer(measured)
    zero = rollup._new()
    get = lambda name: layers.get(name, zero)  # noqa: E731

    # a layer the workload never calls reads 0: index-search never
    # enters crawl/ or frontier/, crawl-polite never enters indexing/
    m = dict.fromkeys(names, 0)
    m.update(run.layer)
    m["trace.work_s"] = run.e2e["work_s"]
    m["trace.op_p50_ms"] = run.e2e["op_p50_ms"]
    m["spark.jobs"] = sum(r["jobs"] for r in measured.values())
    m["spark.untagged_jobs"] = events.get("", zero)["jobs"]

    if workload == "crawl-polite":
        for name, key in (
            ("frontier.scheduler", "jobs"),
            ("frontier.scheduler", "shuffle_bytes"),
            ("operators.parse", "cpu_s"),
            ("operators.parse", "python_s"),
            ("operators.parse", "python_bytes"),
            ("crawl.links", "cpu_s"),
            ("crawl.links", "shuffle_bytes"),
            ("crawl.links", "jobs"),
            ("operators.ids", "jobs"),
        ):
            m[f"{name}.{key}"] = get(name)[key]
        m["frontier.store.write_jobs"] = get("frontier.store.write")["jobs"]
        per_batch = {k: [] for k in ("jobs", "stages", "tasks")}
        gap_ms = wall_ms = covered_ms = 0.0
        for b in run.batches:
            op = f"b{b['batch_id']}"
            recs = {d.partition("#")[0]: r for d, r in measured.items() if d.partition("#")[2] == op}
            for k in per_batch:
                per_batch[k].append(sum(r[k] for r in recs.values()))
            lo, hi = b["start_ms"], b["end_ms"]
            busy = rollup.union_ms([iv for r in recs.values() for iv in r["intervals"]], lo, hi)
            gap_ms += (hi - lo) - busy
            wall_ms += hi - lo
            # self time of the named sub-layers only: jobs left on the
            # run_batch tag itself are not attributed to a layer
            covered_ms += sum(
                rollup.union_ms(r["intervals"], lo, hi)
                for layer, r in recs.items()
                if layer in BATCH_SUBLAYERS
            )
        for k, v in per_batch.items():
            m[f"crawl.loop.run_batch.{k}"] = statistics.median(v)
        m["crawl.driver_gap_s"] = gap_ms / 1e3
        share = (covered_ms + gap_ms) / wall_ms
        m["crawl.accounted_share"] = share
        if share < MIN_ACCOUNTED_SHARE:
            print(
                f"perfbench: warning: sub-layers and driver gap cover only {share:.3f} "
                f"of run_batch wall (< {MIN_ACCOUNTED_SHARE})",
                file=sys.stderr,
            )
    else:
        bp = get("indexing.postings.build_postings")
        m["indexing.postings.build_postings.cpu_s"] = bp["cpu_s"]
        m["indexing.postings.build_postings.python_bytes"] = bp["python_bytes"]
        m["indexing.postings.build_postings.python_s"] = bp["python_s"]
        m["indexing.postings.tfidf.shuffle_bytes"] = get("indexing.postings.tfidf")["shuffle_bytes"]
        m["indexing.search.jobs_per_query"] = get("indexing.search")["jobs"] / run.layer[
            "indexing.search.queries"
        ]
        for name in workloads.CATALOG:
            m[f"catalog.{name}.jobs"] = get(f"catalog.{name}")["jobs"]
    return m


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    conf = _isolate(run_dir)
    events_dir = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(events_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the package defaults the driver heap to 8g; the inputs here are small
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    spark = gateway = None
    env = {}
    try:
        import pyspark

        import workloads
        from layers import CpuClock, Tracer

        from spacetime_crawler4py_spark import session

        if not os.path.abspath(session.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"{PACKAGE} imported from outside the checkout: {session.__file__}")
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=conf,
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        gateway = pyspark.SparkContext._gateway
        jvm_pid = gateway.proc.pid
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "commit": _git_commit(),
        }
        tracer = Tracer(spark.sparkContext)
        cpu = CpuClock(jvm_pid)
        if args.workload == "crawl-polite":
            run = workloads.crawl_polite(spark, tracer, cpu, args.seed, run_dir, session_s)
        else:
            run = workloads.index_search(spark, tracer, cpu, args.seed, run_dir, session_s, args.seconds)
        tracer.unpatch()
        rss_kb = _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        run.layer["mem.peak_rss_mb"] = rss_kb / 1024
    except Exception as exc:  # the run's boundary: report, never a partial result
        import traceback

        traceback.print_exc()
        run = None
        failure = f"{type(exc).__name__}: {exc}"
    finally:
        signal.alarm(0)
        if spark is not None:
            spark.stop()
        if gateway is not None:
            # the JVM exits when its stdin closes; wait for it
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()

    try:
        print(json.dumps({"env": env}))
        if run is None or run.problems:
            for p in run.problems if run else [failure]:
                print(f"check failed: {p}", file=sys.stderr)
            attempted = run.attempted if run else 1
            print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}))
            return 1
        e2e_units, layer_units = _metric_units()
        if args.trace:
            units = layer_units
            values = _layer_metrics(run, events_dir, args.workload, units)
        else:
            values, units = run.e2e, e2e_units
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        print(json.dumps({"correct": True, "attempted": run.attempted, "failed": 0, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = os.path.dirname(run_dir)
        if not os.listdir(runs):
            os.rmdir(runs)


if __name__ == "__main__":
    sys.exit(main())
