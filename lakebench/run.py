#!/usr/bin/env python3
"""Lakehouse benchmark: one command, two seeded closed-loop workloads.

    python3 lakebench/run.py --workload lake --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The run

1. generates (or reuses) the workload's inputs from ``--seed`` under
   ``.bench_cache/`` — generation time is printed, not counted as set-up;
2. sets the program up ``SETUPS`` times (``get_spark`` — on a cold JVM,
   then on a stopped session — plus the workload's own set-up) and
   reports the median;
3. runs whole rounds of the workload's op mix on one client thread until
   ``--seconds`` have passed and at least the workload's ``MIN_ROUNDS``;
   the end-to-end figures skip its ``WARMUP_ROUNDS``;
4. checks every op's result against DuckDB or a brute-force twin, untimed;
   an op that raises or fails its check is a failed op;
5. prints a report (host fingerprint, the workload's named metrics) and,
   as the last line, one JSON object: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` at least three rounds run and, after the first, every
other op is traced; the per-layer numbers come from the traced ops, the
tracing overhead from the same ops' traced and untraced times. Spans are
written to ``.bench_results/`` at the end. The process tree the run
starts (the JVM and the Python workers) is stopped and waited for before
it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "etl_covid19_brasil_spark"
SETUPS = 2


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lake", "llm_curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the engine whatever their working directory."""
    work = ROOT / ".bench_work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (work / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path.insert(0, str(ROOT))


def extra_conf() -> dict[str, str]:
    work = ROOT / ".bench_work"
    return {
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def set_up(wl, tr):
    """``SETUPS`` set-ups, the first on a cold JVM; all but the last
    session are stopped again. Returns the session, each set-up's
    (wall seconds, steal share) and each ``get_spark`` time."""
    from etl_covid19_brasil_spark import get_spark
    from spans import Interval

    totals, spark_s = [], []
    for i in range(SETUPS):
        clock = Interval()
        spark = get_spark(extra_conf=extra_conf())
        spark_s.append(time.perf_counter() - clock.t0)
        tr.bind(spark)
        wl.setup(spark)
        totals.append(clock.stop())
        if i < SETUPS - 1:
            spark.stop()
    return spark, totals, spark_s


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def run_round(wl, tr, rnd: int, trace: bool) -> None:
    """One round of the workload's mix. When tracing, round 0 runs
    untraced (it pays the cold JVM's first-run costs) and from round 1 on
    every other op is traced, alternating between rounds, so each op of
    the mix runs once traced and once untraced over rounds 1 and 2."""
    for i, (kind, call, check, items, name) in enumerate(wl.round(rnd)):
        tr.tracing = trace and rnd >= 1 and (i + rnd) % 2 == 0
        with tr.op(kind, name, items, rnd) as o:
            result = call()
        if o.ok:
            try:
                why = check(result)
            except Exception as exc:  # a check that cannot run fails the op
                why = f"check raised {type(exc).__name__}: {exc}"
            if why:
                tr.fail(o, why)
    tr.tracing = False


def shutdown() -> None:
    """Stop Spark, then the JVM, then wait for every descendant process."""
    from pyspark import SparkContext
    from spans import process_tree

    kids = [p for p in process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 20
        while time.time() < deadline and any(Path(f"/proc/{p}").exists() for p in kids):
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:  # already gone
                pass


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"lakebench: no {PKG} package in {ROOT}; run from a checkout of the engine",
              file=sys.stderr)
        return 2
    prepare_env()
    import importlib

    pkg = importlib.import_module(PKG)
    if Path(pkg.__file__).resolve().parent != ROOT / PKG:
        print(f"lakebench: {PKG} imported from {pkg.__file__}, not from {ROOT}", file=sys.stderr)
        return 2

    import duckdb
    import pyspark

    import metrics
    from spans import RssSampler, Tracer, tree_cpu_seconds
    from workloads import WORKLOADS

    tr = Tracer()
    wl = WORKLOADS[args.workload](ROOT, args.seed, tr)
    gen_s = wl.generate()
    print(f"inputs: seed={args.seed} generated_s={gen_s:.3f} (not in setup_s)")
    try:
        with RssSampler() as rss:
            spark, setups, spark_s = set_up(wl, tr)
            sc = spark.sparkContext
            print(f"host: nproc={nproc()} master={sc.master} "
                  f"shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
                  f"driver_memory={sc.getConf().get('spark.driver.memory')} "
                  f"pyspark={pyspark.__version__} duckdb={duckdb.__version__} "
                  f"python={platform.python_version()} clients=1")
            wl.prepare()
            gc0, cpu0 = jvm_gc_seconds(spark), tree_cpu_seconds()
            min_rounds = max(wl.MIN_ROUNDS, 3 if args.trace else 1)
            t0 = time.perf_counter()
            rnd = 0
            while True:
                run_round(wl, tr, rnd, bool(args.trace))
                rnd += 1
                if time.perf_counter() - t0 >= args.seconds and rnd >= min_rounds:
                    break
            loop_s = time.perf_counter() - t0
            gc_s = jvm_gc_seconds(spark) - gc0
            cpu_s = tree_cpu_seconds() - cpu0
            wl.finish()
    finally:
        shutdown()
        wl.cleanup()

    res = metrics.Result(wl, tr, setups, spark_s, rss.peak_kb / 1024.0, loop_s, gc_s, nproc())
    print(f"cpu: {cpu_s:.3f} s of CPU over the loop, {cpu_s / len(tr.ops):.4f} s per op")
    for line in res.report_lines(bool(args.trace)):
        print(line)
    if args.trace:
        out = ROOT / ".bench_results" / f"trace-{args.workload}-s{args.seed}.json"
        tr.dump(out)
        print(f"spans: {out.relative_to(ROOT)}")
    failures = [o for o in tr.ops if not o.ok]
    for o in failures[:5]:
        print(f"failed op {o.kind}/{o.name} round {o.round}: {o.error}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(tr.ops),
        "failed": len(failures),
        "metrics": res.per_layer() if args.trace else res.end_to_end(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
