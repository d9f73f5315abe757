#!/usr/bin/env python3
"""Repository benchmark: closed-loop workloads over pyvectorsearch_spark.

    python3 perfbench/run.py --workload knn_batch --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout: the library is imported from
there, and all inputs, outputs and Spark scratch files live under
``.perfbench_work/`` in that root, which is removed on exit. Inputs come
from ``--seed`` alone.

One run: start a ``local[N]`` session (N = min(4, usable cores)); generate
and write the inputs ``SETUP_REPS`` times and keep the median; one untimed
warm-up round; then rounds until ``--seconds`` of round time has passed,
at least one. ``items_per_s`` is the median over rounds. Every output is
checked against an exact oracle outside the timed region.

The last stdout line is one JSON object. With ``--trace 0`` its metrics
are the end-to-end ones; with ``--trace 1`` every round is traced and the
metrics are the per-layer counters, plus the traced run's ``items_per_s``
(set against an untraced run's, the tracing overhead), the time the tracer
itself spent per round, and the round's fixed cost: the time of a round on
inputs shrunk a hundredfold, alone and as a share of the measured round.
Lines before it give the workload's own figures, each with its unit and
sample count."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
#: input scale and count of the rounds that measure a round's fixed cost
FIXED_SCALE, FIXED_ROUNDS = 0.01, 2
CORES = min(4, len(os.sched_getaffinity(0)))
#: driver heap for a host with 15 GiB of RAM shared with other work
DRIVER_MEMORY = "3g"

SPANS = (
    "index.grid.build",
    "index.grid.write",
    "index.grid.load",
    "index.grid.knn",
    "index.grid.range",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.jaccard_similarity_pairs",
    "operators.dedup.simhash_pairs_auto",
    "operators.dedup.embedding_dup_pairs_auto",
    "operators.graph.dup_clusters",
)
SPAN_EXTRAS = {
    "index.grid.knn": ("pair_rows", "scored_rows", "scored_per_result"),
    "index.grid.range": ("pair_rows", "scored_rows", "scored_per_result"),
    "index.grid.write": ("bytes",),
    "operators.dedup.minhash_lsh_pairs": ("candidate_pairs", "pairs_per_candidate"),
    "operators.dedup.jaccard_similarity_pairs": ("candidate_pairs", "pairs_per_candidate"),
    "operators.dedup.simhash_pairs_auto": ("python_s",),
    "operators.dedup.embedding_dup_pairs_auto": ("python_s", "bucketed"),
}


def per_layer_names() -> list[str]:
    from spans import COUNTERS

    names = []
    for span in SPANS:
        names += [f"{span}.{c}" for c in COUNTERS + SPAN_EXTRAS.get(span, ())]
    return names + TRACE_EXTRAS


TRACE_EXTRAS = ["trace.items_per_s", "trace.overhead_s", "round.fixed_s", "round.fixed_share"]


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last == "items_per_s":
        return "1/s"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_ms"):
        return "ms"
    if last in ("shuffle_bytes", "spill_bytes", "bytes"):
        return "B"
    if last in ("scored_per_result", "pairs_per_candidate", "bucketed", "fixed_share"):
        return "ratio"
    return "count"


def start_spark(work: str, broadcast_bytes: int):
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    from pyspark.sql import SparkSession

    # no JVM, the launcher's included, writes outside the work directory
    # (-XX:-UsePerfData: no /tmp/hsperfdata_<user> entry)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    java_opts = (
        f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby "
        f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData"
    )
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(broadcast_bytes))
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def fixed_round_s(tiny, tr) -> float:
    """A round's fixed cost: the fastest of ``FIXED_ROUNDS`` untraced rounds
    on a copy of the workload with inputs shrunk ``FIXED_SCALE`` times, so
    almost all of it is planning, job scheduling and per-call driver work.
    The first such round may compile classes the measured input did not
    need (knn_batch's bounding box is a literal), hence the minimum."""
    tiny.setup()
    times = []
    for _ in range(FIXED_ROUNDS):
        t0 = time.perf_counter()
        tiny.run_round(tr)
        times.append(time.perf_counter() - t0)
    return min(times)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import pyvectorsearch_spark
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pyvectorsearch_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the library imported is not the one in {ROOT}", file=sys.stderr)
        return 2
    from spans import RssSampler, Tracer
    from workloads import BROADCAST_BYTES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, BROADCAST_BYTES)
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with RssSampler(jvm_pid) as rss:
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            reps = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup()
                reps.append(time.perf_counter() - t0)
            wl.prepare_oracle()
            off = Tracer(spark, enabled=False)
            t0 = time.perf_counter()
            wl.warmup(off)
            warm_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(reps) + warm_s

            tracer = Tracer(spark, enabled=bool(args.trace))
            rounds: list[float] = []
            spent = 0.0
            # a round that raised is not timed; stop retrying past 4x budget
            while (spent < args.seconds or not rounds) and spent < 4 * args.seconds:
                t0 = time.perf_counter()
                ok = wl.run_round(tracer)
                dt = time.perf_counter() - t0
                spent += dt
                wl.check()
                if ok:
                    rounds.append(dt)
            if args.trace and rounds:
                fixed_s = fixed_round_s(WORKLOADS[args.workload](
                    spark, f"{work}/fixed", args.seed, FIXED_SCALE
                ), off)
        items_per_s = wl.items_per_round / statistics.median(rounds) if rounds else 0.0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    figures = {
        "setup_s": (setup_s, "s", SETUP_REPS),
        "setup_session_s": (session_s, "s", 1),
        "setup_inputs_s": (statistics.median(reps), "s", SETUP_REPS),
        "setup_warmup_s": (warm_s, "s", 1),
        "ops_failed_frac": (wl.failed / max(wl.attempted, 1), "ratio", wl.attempted),
        "peak_rss_mb": (rss.peak_bytes / 2**20, "MB", 1),
        **(wl.report() | wl.call_times() if rounds else {}),
    }
    if args.trace and rounds:
        figures["round_s"] = (statistics.median(rounds), "s", len(rounds))
        figures["round_fixed_s"] = (fixed_s, "s", FIXED_ROUNDS)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"rounds={len(rounds)} cores={CORES}")
    for name, (value, unit, n) in figures.items():
        print(f"  {name:34s} {value:14.4f} {unit:9s} n={n}")
    print(f"  dispatch {json.dumps(wl.dispatch())}")

    if args.trace:
        metrics = {}
        for name in per_layer_names()[: -len(TRACE_EXTRAS)]:
            span, counter = name.rsplit(".", 1)
            metrics[name] = tracer.per_call(span, counter)
        metrics["trace.items_per_s"] = items_per_s
        metrics["trace.overhead_s"] = tracer.overhead_s / len(rounds) if rounds else 0.0
        metrics["round.fixed_s"] = fixed_s if rounds else 0.0
        metrics["round.fixed_share"] = fixed_s / statistics.median(rounds) if rounds else 0.0
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = {"setup_s": setup_s, "items_per_s": items_per_s}
        units = {"setup_s": "s", "items_per_s": "1/s"}
    result = {
        "correct": wl.failed == 0 and bool(rounds),
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed if wl.attempted else 1,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
