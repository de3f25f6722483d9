"""Product-pipeline benchmark of the web-text quality filter.

Run from the repository root:

    python3 perfbench/run.py --workload batch_default --seed 11 --seconds 10 --trace 0

The workload's inputs are generated from ``--seed`` (see ``workloads.py``).
The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off in CPU seconds
of the process tree (``hostinfo.TreeCpu``); with
``--trace 1`` the run is traced (one Spark job group per span, uncompressed
event log) and the metrics are the per-layer ones (``tracing.py``).  The line
before it carries the host facts and timings of the run, and the full record
is written to ``perfbench/.work/records/``.

Everything the run writes stays under ``perfbench/.work/`` in the checkout;
the per-run scratch directory is removed at the end.  The Spark driver JVM
runs as ``local[<nproc / 2>]`` and is stopped, with its Python workers, before
the result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RECORDS = os.path.join(WORK, "records")
DEADLINE_S = 170

END_TO_END = [
    ("setup_s", "s"),
    ("docs_per_cpu_s", "docs/cpu-s"),
    ("op_cpu_p50_s", "s"),
    ("keep_f1", "ratio"),
    ("peak_python_pss_mb", "MB"),
]


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    nproc: int
    cpu: object     # () -> CPU seconds of the process tree so far

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


class Deadline(BaseException):
    """Raised by the alarm; not an Exception, so no handler inside an
    operation swallows it."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_cores(nproc: int) -> int:
    """Task slots of the local session: half the cores.  The rest is
    headroom for the JVM's JIT and GC threads, the Python driver and the
    memory sampler, so the tree's CPU time does not grow with the time
    slicing among them.  On 4 cores a run_batch call takes about as long
    at local[2] as at local[4]: its per-job fixed cost is serial."""
    return max(1, nproc // 2)


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    log4j = os.path.join(ROOT, "conf", "log4j2.properties")
    # no hsperfdata file: HotSpot writes it to /tmp whatever java.io.tmpdir says
    # Fixed JIT compiler threads: hostinfo.TreeCpu can only tell their CPU
    # time apart while they are alive.  Compile thresholds at 1/20: with the
    # defaults, each warm run_batch call still cost 5-15% less CPU than the
    # one before, so the timed figures measured how far the JIT had got.
    java_opts = (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads "
                 "-XX:CompileThresholdScaling=0.05")
    if os.path.exists(log4j):
        java_opts = f"-Dlog4j.configurationFile=file:{log4j} {java_opts}"
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if traced:
        # zstandard is not installed, so the log must be uncompressed
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark, mem) -> list[int]:
    """Stop the session (if one started) and the gateway JVM, then wait for
    every process the run started to exit.  Returns the pids that had to be
    killed."""
    from hostinfo import wait_for_exit

    from pyspark import SparkContext

    mem.sample()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    return wait_for_exit(mem.seen)


def versions(spark) -> dict:
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0]}


def latest_untraced(workload: str) -> dict | None:
    path = os.path.join(RECORDS, f"{workload}-untraced-latest.json")
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def write_record(name: str, record: dict) -> str:
    os.makedirs(RECORDS, exist_ok=True)
    path = os.path.join(RECORDS, name)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path


def run(args) -> int:
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads   # imports the program and its reference labeler
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the package from the checkout; every temp file
    # of this process, the JVM and the workers lands inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    import hostinfo
    import tracing
    import workloads
    from cfht2caom2_spark.session import get_spark

    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    cores = spark_cores(nproc)

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    cpu0 = hostinfo.cpu_times()
    mem = hostinfo.ProcessTreeMemory()
    mem.start()
    cpu = hostinfo.TreeCpu()
    cpu.exclude.add(mem.native_id)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "nproc": nproc, "spark_cores": cores}
    spark = None
    try:
        c0, t0 = cpu.total(), time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                          extra_conf=spark_conf(work, traced))
        spark.sparkContext.setLogLevel("ERROR")
        session_s, session_cpu_s = workloads.elapsed(t0), cpu.total() - c0
        record["versions"] = versions(spark)
        ctx = Context(spark, work, args.seed, nproc, cpu)
        w = workloads.WORKLOADS[args.workload](ctx)
        record["inputs"] = w.prepare()
        if traced:
            tr = tracing.Tracer(spark)
            if hasattr(w, "tracer"):
                w.tracer = tr
        c0, t0 = cpu.total(), time.perf_counter()
        w.warm_up()
        warm_s, warm_cpu_s = workloads.elapsed(t0), cpu.total() - c0
        record["setup"] = {"session_s": session_s, "warm_up_s": warm_s,
                           "session_cpu_s": session_cpu_s,
                           "warm_up_cpu_s": warm_cpu_s}
        if traced:
            traced_op_s = tracing.TRACES[args.workload](w, tr)
            ops = tr.ops
        else:
            res = w.measure(args.seconds)
            ops = res["ops"]
    finally:
        signal.alarm(0)
        killed = stop_spark(spark, mem)
        mem.stop()
    record["steal_share"] = hostinfo.steal_share(cpu0, hostinfo.cpu_times())
    record["killed_pids"] = killed
    record["peak_pss_mb"] = mem.peak_mb
    record["peak_python_pss_mb"] = mem.peak_python_mb
    record["peak_pss_by_command_mb"] = mem.peak_by_command
    record["attempted"], record["failed"] = ops.attempted, ops.failed
    record["failures"] = ops.failures

    if traced:
        from eventlog import group_counters

        tracing.merge_counters(tr.spans, group_counters(
            os.path.join(work, "eventlog")))
        metrics, missing = tracing.per_layer_metrics(tr.spans)
        # the traced full operation against the untraced op_wall_p50_s: one
        # run_batch call, or the median tick after the warm-up
        base = latest_untraced(args.workload)
        b = (base or {}).get("metrics", {}).get("op_wall_p50_s")
        overhead = {"traced_op_s": traced_op_s}
        if b and traced_op_s:
            overhead.update(untraced_op_s=b, untraced_seed=base["seed"],
                            overhead_share=traced_op_s / b - 1)
        else:
            overhead["unavailable"] = ("no untraced run of this workload in "
                                       "this checkout yet")
        record.update(spans=tr.spans, per_layer=metrics,
                      missing_spans=missing, tracing_overhead=overhead)
        result_metrics = metrics
    else:
        values = dict(res["metrics"])
        values["setup_s"] = session_cpu_s + warm_cpu_s
        values["setup_wall_s"] = session_s + warm_s
        values["peak_python_pss_mb"] = mem.peak_python_mb
        record.update(op_times_s=res["op_times_s"], op_cpu_s=res["op_cpu_s"],
                      measured_s=res["measured_s"],
                      append_s=res.get("append_s"), metrics=values)
        absent = [k for k, _ in END_TO_END if values.get(k) is None]
        if absent:
            print(f"perfbench: no successful operation to measure {absent}",
                  file=sys.stderr)
            write_record(f"{args.workload}-{args.seed}-untraced.json", record)
            return 1
        result_metrics = {k: {"value": values[k], "unit": u}
                          for k, u in END_TO_END}

    tag = "traced" if traced else "untraced"
    path = write_record(f"{args.workload}-{args.seed}-{tag}.json", record)
    if not traced and ops.failed == 0:
        write_record(f"{args.workload}-untraced-latest.json", record)
    summary = {k: record.get(k) for k in (
        "workload", "seed", "nproc", "spark_cores", "versions",
        "steal_share", "inputs", "setup", "op_times_s", "tracing_overhead",
        "missing_spans", "failures")}
    summary["record"] = os.path.relpath(path, ROOT)
    print(json.dumps({"perfbench_run": summary}, default=str))
    print(json.dumps({"correct": ops.failed == 0 and ops.attempted > 0,
                      "attempted": ops.attempted, "failed": ops.failed,
                      "metrics": result_metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        return run(args)
    except Exception as exc:  # report, print no result line, exit non-zero
        import traceback

        traceback.print_exc()
        print(f"perfbench: run failed: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
