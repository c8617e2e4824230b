"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload webdedup_full --seed 42 \
        --seconds 30 --trace 0

Inputs are generated once per invocation from ``--seed`` and written as
parquet under ``perfbench/.work/``. Every repetition is then a fresh Spark
application on ``local[nproc]`` in this process's JVM: it starts a
session, loads the inputs, makes the timed call and checks the outputs.
There is one repetition per ``REP_SECONDS`` of ``--seconds``, and at
least ``MIN_REPS``; the end-to-end metrics are their medians, so the
first repetition, which still warms the JIT and the caches, does not set
them.

``--trace 1`` runs the same untraced repetitions, then one traced
repetition, and prints the per-layer metrics of that traced repetition
instead: no end-to-end number comes from a traced run.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; the exit code is 1 when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path
from statistics import median

from proctree import (RssSampler, become_subreaper, stop_descendants,
                      tree_cpu_s)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# set by SIGTERM; py4j may turn the SystemExit it raises into an ordinary
# error, so a repetition that fails checks this before carrying on
TERMINATED = threading.Event()
MIN_REPS = 3
REP_SECONDS = 10

# (recall, precision) below which a repetition's output counts as wrong
FLOORS = {"webdedup_full": (0.95, 0.99),
          "personlink_ecm": (0.75, 0.99)}
E2E_UNITS = {"setup_s": "s", "run_s": "s", "records_per_s": "1/s",
             "cpu_s": "s", "peak_rss_mb": "MB", "recall": "ratio",
             "precision": "ratio", "success_rate": "ratio"}


def mem_total_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(work: Path) -> dict:
    """Fix everything the run depends on before the JVM starts, and
    return it for the output. Every file Spark or Python writes goes
    under ``work``."""
    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    mem_mb = mem_total_mb()
    # the library's get_spark defaults to a 48g driver; size it to the host
    driver_mb = max(1024, min(2048, mem_mb // 4))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers are started by the JVM: they import the package only
    # if it is on the PYTHONPATH the JVM inherits
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, spark-submit's launcher included: temporary files under
    # ``work``, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "nproc": nproc, "master": f"local[{nproc}]",
        "shuffle_partitions": 2 * nproc, "mem_total_mb": mem_mb,
        "driver_memory": f"{driver_mb}m",
        "pythonpath": os.environ["PYTHONPATH"],
        "python": sys.version.split()[0],
    }


def spark_session(env: dict, work: Path, app: str):
    from recordlinkage_spark.config import get_spark

    spark = get_spark(
        app, master=env["master"], shuffle_partitions=env["shuffle_partitions"],
        extra_conf={
            # a heap committed and touched up front, so the JVM's resident
            # size does not drift with G1's resizing; C1 only, so the JIT
            # settles within the first repetition (README.md)
            "spark.driver.extraJavaOptions": (
                f"-Xms{env['driver_memory']} -XX:+AlwaysPreTouch "
                "-XX:TieredStopAtLevel=1"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back from the
            # status stores; keep them all (same setting untraced)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def one_rep(wl, env: dict, work: Path, data: Path, rep_dir: Path,
            trace: bool) -> dict:
    """One fresh Spark application: set up, time the call, check it."""
    from spans import Tracer, storage_mb

    pid = os.getpid()
    t0 = time.perf_counter()
    spark = spark_session(env, work, f"perfbench-{wl.name}")
    try:
        tracer = Tracer(spark, trace)
        with tracer.span("bench.setup"):
            st = wl.setup(spark, data, rep_dir)
        setup_s = time.perf_counter() - t0
        storage0 = storage_mb(spark)
        cpu0 = tree_cpu_s(pid)
        with RssSampler(pid) as rss:
            t1 = time.perf_counter()
            with tracer.span("bench.run"):
                out = wl.run(st, tracer)
            run_s = time.perf_counter() - t1
            cpu_s = tree_cpu_s(pid) - cpu0
        rec = {"setup_s": setup_s, "run_s": run_s, "cpu_s": cpu_s,
               "peak_rss_mb": rss.peak_mb,
               "records_per_s": st["n_records"] / run_s,
               "n_records": st["n_records"]}
        if trace:
            rec["pinned_mb"] = storage_mb(spark) - storage0
        t2 = time.perf_counter()
        with tracer.span("bench.check"):
            rec.update(wl.check(st, out))
            if trace:
                wl.verify_traced(st, out, tracer)
        rec["check_s"] = time.perf_counter() - t2
        if trace:
            with tracer.span("bench.kernels"):
                kernels = wl.kernels(st)
            rec["driver"] = tracer.collect()
            rec["layers"] = {**wl.layers(st, out, tracer), **kernels}
            rec["spans"] = tracer.table()
        return rec
    finally:
        spark.stop()


def check_floor(wl_name: str, rec: dict) -> str | None:
    """Absolute output-quality floors; None when the repetition passes."""
    min_recall, min_precision = FLOORS[wl_name]
    if rec["recall"] < min_recall:
        return f"recall {rec['recall']:.5f} below {min_recall}"
    if rec["precision"] < min_precision:
        return f"precision {rec['precision']:.5f} below {min_precision}"
    return None


def generate(wl, args, env: dict, work: Path, data: Path) -> None:
    """Write the workload's inputs under ``data``; not measured."""
    t0 = time.perf_counter()
    spark = spark_session(env, work, "perfbench-generate")
    t1 = time.perf_counter()
    try:
        wl.generate(spark, args.seed, data, env["shuffle_partitions"])
    finally:
        spark.stop()
    print(json.dumps({"jvm_start_s": t1 - t0,
                      "generate_s": time.perf_counter() - t1}), flush=True)


def measure(args, env: dict, work: Path) -> dict:
    import workloads

    wl = workloads.make(args.workload)
    data = work / "data"
    data.mkdir(parents=True)
    generate(wl, args, env, work, data)

    reps: list[dict] = []
    failed: set[int] = set()

    def fail(i: int, why: str) -> None:
        failed.add(i)
        print(f"perfbench: check failed in rep {i}: {why}", file=sys.stderr)

    def attempt(i: int, trace: bool) -> dict | None:
        rep_dir = work / f"rep{i}"
        try:
            rec = one_rep(wl, env, work, data, rep_dir, trace)
        except Exception:
            if TERMINATED.is_set():
                raise SystemExit(143)
            fail(i, traceback.format_exc())
            return None
        finally:
            shutil.rmtree(rep_dir, ignore_errors=True)
        rec["rep"] = i
        bad = check_floor(args.workload, rec)
        if bad:
            fail(i, bad)
        # outputs are deterministic for a seed: every repetition, traced
        # or not, must agree exactly with the first good one
        ref = reps[0] if reps else None
        for k in ("recall", "precision", "digest") if ref else ():
            if rec[k] != ref[k]:
                fail(i, f"{k} {rec[k]!r} differs from rep {ref['rep']}'s "
                        f"{ref[k]!r}")
        print(json.dumps({"trace": trace, **{
            k: v for k, v in rec.items()
            if k not in ("layers", "spans", "driver")}}), flush=True)
        return rec

    attempted = 0
    while attempted < max(MIN_REPS, int(args.seconds // REP_SECONDS)):
        attempted += 1
        rec = attempt(attempted, trace=False)
        if rec:
            reps.append(rec)

    traced = None
    if args.trace:
        attempted += 1
        traced = attempt(attempted, trace=True)
    if not reps or (args.trace and traced is None):
        fail(attempted, "no successful repetition to report")

    if args.trace:
        layers = {}
        if traced and reps:
            layers = dict(traced["layers"])
            layers["caching.pinned_mb"] = traced["pinned_mb"]
            for k, v in traced["driver"].items():
                layers[f"driver.{k}"] = v
            layers["trace.overhead_s"] = (
                traced["run_s"] - median(r["run_s"] for r in reps))
            print(json.dumps({"spans": traced["spans"]}), flush=True)
            if traced["driver"]["untagged_jobs"]:
                fail(traced["rep"], "jobs ran outside every span")
        metrics = {n: {"value": layers.get(n, 0), "unit": u}
                   for n, u in per_layer_units().items()}
    else:
        values = {n: median(r[n] for r in reps) if reps else 0.0
                  for n in E2E_UNITS if n != "success_rate"}
        values["success_rate"] = (attempted - len(failed)) / attempted
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in E2E_UNITS.items()}
    return {"correct": not failed, "attempted": attempted,
            "failed": len(failed), "metrics": metrics}


def per_layer_units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def stop_processes() -> None:
    """End the JVM PySpark launched, then any other process this one
    started, and wait until each has ended: one left running could serve
    the next run."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass  # the JVM is already gone
            # the gateway JVM runs its shutdown hooks and exits when its
            # stdin closes
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass  # stop_descendants kills it
            SparkContext._gateway = SparkContext._jvm = None
    killed = stop_descendants(os.getpid(), grace_s=10)
    if killed:
        print(f"perfbench: killed processes left running: {killed}",
              file=sys.stderr)


def on_sigterm(*_) -> None:
    TERMINATED.set()
    sys.exit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(FLOORS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "recordlinkage_spark" / "__init__.py").is_file():
        print(f"perfbench: no recordlinkage_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    # on SIGTERM, unwind through the finally blocks: they stop Spark, the
    # JVM and the Python workers, and remove the work directory
    signal.signal(signal.SIGTERM, on_sigterm)
    become_subreaper()
    try:
        env = pin_environment(work)
        sys.path.insert(0, str(ROOT))
        import pyspark

        env["spark"] = pyspark.__version__
        env.update(workload=args.workload, seed=args.seed,
                   seconds=args.seconds, trace=args.trace)
        print(json.dumps({"env": env}), flush=True)
        result = measure(args, env, work)
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
