#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_chain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  One process, one
closed-loop client, Spark ``local[2]``.  The run:

1. sets up three times (fresh Spark session, seeded inputs, DuckDB
   oracle, engine, one probe call), then runs one full round as a warm
   pass; ``setup_s`` is the median set-up round plus the warm pass;
2. repeats the workload's round until ``--seconds`` have been spent
   (at least one round; with ``--trace 1`` untraced and traced rounds
   alternate, at least untraced-traced-untraced);
3. prints, as its last stdout line, one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
   ``--trace 0``, per-layer metrics with ``--trace 1``), and writes the
   full record (host fingerprint, per-op samples, per-span layer table,
   spans) under ``.perfbench_out/``.

Scratch data lives under ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: Spark's task slots.  Half of a 4-core host: the driver's own threads
#: (Python, Py4J, GC) need cores too, and on a host shared with other
#: jobs a run whose task bursts fit in the cores left free varies less.
#: In five alternating pairs of acid_ingest runs, local[2] read 6.96-7.72 s
#: (IQR/median 0.08) and local[4] 6.44-8.34 s (0.18); medians 7.35 and 6.91 s.
CORES = 2
#: default input size: a hundredth of the TPC-H-proportioned base row
#: counts (orders 15k, lineitem 60k), so a run fits the time budget of
#: the benchmark's run schedule on a 4-core host
SCALE = 0.01
SETUP_ROUNDS = 3
#: JVM flags of every run.  Each Spark query loads freshly generated
#: classes, so with the default tiered JIT the compiler threads stay
#: busy (~0.7 of a core on a 4-core host) through the measured rounds
#: and those keep getting faster round after round.  With the C1 tier
#: only, the warm pass finishes the JIT's work: measured rounds stay
#: flat and the runs need less CPU on a shared host.  C1-only defaults to a
#: 48 MB code cache (a run's third round slowed by half while the code
#: cache sweeper ran), so the tiered default's 240 MB is restored.  The
#: full GC before each round must not shrink the heap, or the round
#: pays for growing it back.
JVM_OPTIONS = [
    "-XX:-UsePerfData",
    "-XX:TieredStopAtLevel=1",
    "-XX:ReservedCodeCacheSize=240m",
    "-XX:MaxHeapFreeRatio=100",
]


def fingerprint() -> dict:
    """Host facts every record carries; ``compare.py`` refuses to
    compare records whose ``cpus`` differ."""
    commit = "unknown"
    if (ROOT / ".git").exists():
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
        commit = out.stdout.strip() or commit
    import pyspark

    return {
        "cpus": len(os.sched_getaffinity(0)),
        "spark_cores": CORES,
        "loadavg_start": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "commit": commit,
        "platform": platform.platform(),
    }


class Harness:
    """Owns the Spark session and the scratch directory of one run."""

    def __init__(self, work: Path, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None
        self.event_dir = work / "eventlog"
        self._retired = []

    def restart_spark(self) -> None:
        from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
            get_spark,
        )

        if self.spark is not None:
            self.spark.stop()
            # keep the stopped session referenced: the source registry
            # caches views by id(session), and a recycled id would make
            # it skip registering views in the new session
            self._retired.append(self.spark)
        conf = {"spark.local.dir": str(self.work / "spark-local")}
        if self.trace:
            self.event_dir.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(self.event_dir),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            warehouse_dir=str(self.work / "warehouse"),
            extra_conf=conf,
        )

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args) -> dict:
    from tracer import Tracer, layer_targets
    from workloads import WORKLOADS

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every temporary file inside the checkout: Python's tempfile,
    # and the JVMs (spark-submit's launcher too), whose perf-data files
    # would otherwise go to /tmp
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([*JVM_OPTIONS, f"-Djava.io.tmpdir={work / 'tmp'}"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    record = {k: getattr(args, k) for k in ("workload", "seed", "seconds", "trace", "scale")}
    record["host"] = fingerprint()
    h = Harness(work, bool(args.trace))
    try:
        wl = WORKLOADS[args.workload](h, args.seed, args.scale)
        setup = []
        for k in range(SETUP_ROUNDS):
            t0 = T_START if k == 0 else time.perf_counter()  # round 0 includes process start
            wl.setup_round(k)
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        jvm = h.spark.sparkContext._jvm.System
        record["host"]["java"] = f"{jvm.getProperty('java.vendor')} {jvm.getProperty('java.version')}"
        record["setup_rounds_s"] = setup
        record["warm_pass_s"] = warm_s

        tracer = Tracer(h.spark.sparkContext) if args.trace else None
        rounds, traced = [], []
        deadline = time.perf_counter() + args.seconds
        # a traced run brackets its traced round with untraced ones, so
        # the tracing overhead is not confounded with round order
        min_rounds = 3 if args.trace else 1
        while len(rounds) < min_rounds or time.perf_counter() < deadline:
            on = bool(args.trace) and len(rounds) % 2 == 1
            # start every round with no garbage left by the previous one
            gc.collect()
            h.spark.sparkContext._jvm.System.gc()
            if on:
                tracer.run = f"r{len(rounds)}"
                tracer.install(layer_targets())
            try:
                rnd = wl.run_round(len(rounds), tracer if on else None)
            finally:
                if on:
                    tracer.uninstall()
            rounds.append(rnd)
            traced.append(on)
        ledger = getattr(wl, "ledger_path", None)
        record["ledger_events"] = sum(1 for _ in ledger.open()) if ledger else 0
    finally:
        h.stop()
    record["host"]["loadavg_end"] = list(os.getloadavg())

    import metrics

    ops = [o for r in rounds for o in r.ops]
    failures = [f"{o.name}: {o.error}" for o in ops if o.error]
    failures += [f"{n}: {e}" for r in rounds for n, e in r.checks if e]
    attempted = len(ops) + sum(len(r.checks) for r in rounds)
    record["rounds"] = [
        {"traced": t, "wall_s": r.wall_s, "rows": r.rows, "stats": r.stats,
         "ops": [[o.name, o.latency_s, o.rows, o.error] for o in r.ops]}
        for r, t in zip(rounds, traced)
    ]
    record["failures"] = failures
    if args.trace:
        walls = metrics.span_walls(tracer, h.event_dir)
        record["spans"] = metrics.span_table(tracer, walls)
        result = metrics.per_layer(record, rounds, traced, tracer, walls, warm_s)
        out_spans = ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-spans.jsonl"
        out_spans.parent.mkdir(parents=True, exist_ok=True)
        with out_spans.open("w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")
    else:
        untraced = [r for r, t in zip(rounds, traced) if not t]
        result = metrics.end_to_end(untraced, statistics.median(setup) + warm_s)
    shutil.rmtree(work, ignore_errors=True)
    record["metrics"] = result
    out = ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=str))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": result,
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="input size (tests use 0.001)")
    args = ap.parse_args(argv)
    if not (ROOT / "platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark").is_dir():
        print(f"perfbench: no package checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_PYTHON": sys.executable,
            # Python workers (Arrow kernels) import the package too
            "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        }
    )
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
