"""Benchmark for dmshadoop_spark: single-client, closed-loop workloads.

    python3 perfbench/run.py --workload llm_pipeline|dms_ops \\
        --seed N --seconds S --trace 0|1

Run it from the root of the repository. It starts one Spark session at
``local[<cores this process may use>]`` over the ``sf0.1`` test tables, runs
the workload (``perfbench/lanes.py``, ``perfbench/dmsops.py``) and prints, as
its last line, ``{"correct", "attempted", "failed", "metrics"}``: the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The line before it stamps the
environment. A traced run also counts the Spark jobs of every span.

``read_p50_s``/``write_p50_s`` are per-call latencies: the median of each
call type, averaged with the types' shares of the traffic. On ``dms_ops`` a
read is a download, version, metadata or search call and a write is an
upload, update, delete or compaction. On ``llm_pipeline`` the call types are
the lanes, the read is a lane's plan phase (tables read, staging jobs run,
DataFrame returned) and the write is its write to the ``noop`` sink.
Per-layer metrics of lanes or store operations a workload does not run are
reported as 0.

All scratch state (the store, the queries' scratch directories, Spark's
local and temporary directories) lives under ``.perfbench_runs/<pid>`` and is
removed when the run ends. The environment stamp, the result and the spans
are kept in ``.perfbench_out/``. The stamp includes the share of CPU time
the hypervisor took from this machine during the run (``cpu_steal_share``):
a run whose timings stand out is best read against it.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("llm_pipeline", "dms_ops")
DRIVER_MEMORY = "4g"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _default_sf_dir() -> str:
    from dmshadoop_spark.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")


@contextlib.contextmanager
def _scratch():
    """A per-run scratch directory, removed when the run ends, along with
    those of earlier runs whose process is gone."""
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    for entry in os.listdir(runs):
        if entry.isdigit() and not _alive(int(entry)):
            shutil.rmtree(os.path.join(runs, entry), ignore_errors=True)
    path = os.path.join(runs, str(os.getpid()))
    os.makedirs(os.path.join(path, "tmp"))
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _isolate(scratch: str) -> dict[str, str]:
    """Point every temporary and scratch path of this process, the JVM and
    the Python workers into ``scratch``; return the Spark confs that do the
    JVM's part. Must run before the JVM starts."""
    tmp = os.path.join(scratch, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the queries' $TMP/dmshadoop_scratch/<pid>
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # Python workers unpickle functions of this package by module path, so
    # they must find it whatever their working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Reaches every JVM, the spark-submit launcher's too.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _cpu_times() -> list[int] | None:
    """The machine's aggregate CPU time counters, None where unavailable."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(start: list[int] | None) -> float | None:
    """Share of all CPU time since ``start`` that was stolen by the
    hypervisor (the 8th counter of /proc/stat)."""
    end = _cpu_times()
    if start is None or end is None or len(end) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else None


def _environment(spark, args, sf_dir: str, load_start: float,
                 cpu_start: list[int] | None) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf_dir": sf_dir,
        "spark_master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "load_avg_start": load_start,
        "load_avg_end": os.getloadavg()[0],
        "cpu_steal_share": _steal_share(cpu_start),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def _metrics(spec: dict, traced: bool, measured: dict) -> dict:
    """The declared metrics of this mode, in declared order, each with its
    unit. A per-layer metric the workload did not measure reads 0."""
    declared = spec["per_layer" if traced else "end_to_end"]
    unknown = set(measured) - {m["name"] for m in declared}
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    out = {}
    for m in declared:
        if m["name"] not in measured and not traced:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        out[m["name"]] = {"value": measured.get(m["name"], 0), "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="test tables (default: the sf0.1 set)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dmshadoop_spark", "__init__.py")):
        print(f"perfbench: no dmshadoop_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _spec()
    sf_dir = args.sf_dir or _default_sf_dir()
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no test tables in {sf_dir}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()

    with _scratch() as scratch:
        confs = _isolate(scratch)
        from dmshadoop_spark.session import get_spark
        from perfbench import dmsops, lanes
        from perfbench.tracing import Tracer

        cores = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # shuffle partitions
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{cores}]", extra_conf=confs)
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(spark if args.trace else None)
            if args.workload == "dms_ops":
                out = dmsops.run(spark, tracer, sf_dir, args.seed, args.seconds,
                                 os.path.join(scratch, "store"))
            else:
                out = lanes.run(spark, tracer, sf_dir, args.seed, args.seconds)
            env = _environment(spark, args, sf_dir, load_start, cpu_start)
        finally:
            _stop(spark)

    if args.trace:
        measured = dict(out["per_layer"], **{
            "session.start_s": session_s,
            "trace_overhead_s": tracer.overhead_s,
        })
    else:
        measured = dict(out["end_to_end"], setup_s=out["first_call"] - PROCESS_START)
    result = {
        "correct": out["failed"] == 0 and not out["problems"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": _metrics(spec, bool(args.trace), measured),
    }
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(outdir, name), "w") as f:
        json.dump({"env": env, "problems": out["problems"], "result": result,
                   "spans": tracer.spans}, f)
    for problem in out["problems"]:
        print(f"perfbench: check failed: {problem}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
