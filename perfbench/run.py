"""The repo's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload ner_scan --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It generates its inputs from --seed,
measures for --seconds, checks the outputs against tests/oracle, prints
every metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 wraps the engine's public calls in spans and
reports the per-layer metrics (BENCHMARK.json lists both). Spans of a
traced run are written to .perfbench_work/spans-<workload>-<seed>.json.

The Spark session is sized to the host: local[<usable cores>], shuffle
partitions of twice the cores and a driver heap of a quarter of physical
memory; every other setting is the package's own default
(outbreak_kg_spark.session.get_spark).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
REQUIRED = ["BENCHMARK.json", "outbreak_kg_spark/pipeline.py",
            "tests/oracle/reference_impl.py"]


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package from it."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the spark-submit launcher too): temp files in the work
    # dir, and no hsperfdata file, which HotSpot writes to /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the package's env overrides would make results depend on the shell
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    sys.path.insert(0, ROOT)


def _session(work: str, cores: int, heap_mb: int):
    from outbreak_kg_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        # the package's own sizing rule for a cluster (session.py): 2-3x
        # the cores; its local fallback of 32 is sized for a 32-core host
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store the traced run
            # reads; set in both modes so only the spans differ
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark, py_pids: list[int]) -> None:
    """Stop Spark, the gateway JVM and every Python worker it started,
    and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    alive = list(py_pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [pid for pid in alive if _running(pid)]
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False


class Context:
    def __init__(self, spark, tracer, seed, seconds, work, inputs):
        from perfbench.workloads import Failures

        self.spark, self.tracer, self.inputs = spark, tracer, inputs
        self.seed, self.seconds, self.work = seed, seconds, work
        self.failures = Failures()
        self.attempted = 0
        self.info: dict = {"phase_end_s": {}}
        self._t0 = time.monotonic()

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.info["phase_end_s"][phase] = round(
            time.monotonic() - self._t0, 2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {names}", file=sys.stderr)
        return 2
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    from perfbench import workloads
    from perfbench.tracing import RssSampler, Tracer, descendants

    cores = len(os.sched_getaffinity(0))
    mem = _mem_total_bytes()
    heap_mb = max(1024, mem // 4 // (1 << 20))
    t_start = time.monotonic()
    inputs = workloads.start_inputs(args.workload, args.seed, work)
    spark = _session(work, cores, heap_mb)
    sampler = RssSampler()
    sampler.start()
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    ctx = Context(spark, tracer, args.seed, args.seconds, work, inputs)
    ctx.mark("session")
    try:
        res = getattr(workloads, args.workload)(ctx)
    except Exception:
        traceback.print_exc()
        res = None
    for p in inputs.procs:
        p.wait()
    rss_mb = sampler.stop()
    tracer.unwrap_all()
    if tracer.enabled and tracer.spans:
        tracer.write(os.path.join(
            WORK, f"spans-{args.workload}-{args.seed}.json"), t_start)
    import pyspark

    ctx.info.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, nproc=cores, mem_total_gb=round(mem / 2**30, 2),
        driver_heap_mb=heap_mb, python=platform.python_version(),
        pyspark=pyspark.__version__,
        java=spark._jvm.System.getProperty("java.version"),
        run_wall_s=round(time.monotonic() - t_start, 2))
    _stop(spark, descendants(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    if res is None:
        return 1

    values = {"py_worker_peak_rss_mb": rss_mb, **res.pop("layers", {}),
              **res}
    metrics = {}
    for m in wanted:
        if m["name"] in values:
            v = values[m["name"]]
        elif args.trace:
            v = 0  # the layer does not run in this workload
        else:
            raise KeyError(f"workload {args.workload} lacks {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"metric {m['name']} = {v:.6g} {m['unit']}")
    for msg in ctx.failures.messages:
        print(f"perfbench: wrong: {msg}", file=sys.stderr)
    print("info " + json.dumps(ctx.info, sort_keys=True))
    correct = ctx.failures.count == 0
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failures.count, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
