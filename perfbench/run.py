#!/usr/bin/env python3
"""Linkage benchmark for splink_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process: start a host-sized local
Spark session, make the workload's inputs from ``--seed`` (cached as parquet
under ``.bench_cache/perfbench``), set up, then run the workload in a closed
loop with one client for ``--seconds`` seconds (see ``measure``), check
the outputs and print the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: session start, set-up (input load, model load, online base
  build) and warm-up;
- ``total_s``: median wall time of one operation (a whole batch pass, or
  one online request);
- ``pairwise_f1``: pairwise F1 of the output against the fixture's true
  ``cluster`` column;

and prints the per-phase times, latency percentiles, failed fraction, peak
RSS and output counts above the result line. ``--trace 1`` alternates
untraced and traced operations and reports the per-layer metrics of the
traced ones (see ``spans.py``), the output counts, the tracing overhead and
the peak RSS; the span records are written to
``.bench_cache/perfbench/trace-<workload>-s<seed>.json``.

The exit code is 1 when an output check fails (a count that differs from
the committed ``expected.json`` among them), and the run stops with an
error before any Spark work when ``splink_spark`` is not importable.
``--rows`` overrides a workload's input size (for the smoke test only).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache", "perfbench")
# per-seed output counts at the default sizes, which every run must repeat
EXPECTED = os.path.join(HERE, "expected.json")

# name -> (workload class name, input rows)
WORKLOADS = {
    "dedupe_60k": ("Dedupe", 60_000),
    "match_online_150k": ("MatchOnline", 150_000),
}
SPANS = (
    "concat_tf",
    "training.lambda",
    "training.u",
    "training.em",
    "predict",
    "cluster",
    "find_matches",
)
COUNTS = (
    "blocking.candidate_pairs",
    "predict.scored_pairs",
    "predict.useful_ratio",
    "training.em.iterations.0",
    "training.em.iterations.1",
    "cluster.edges",
    "cluster.clusters",
    "find_matches.jobs_per_request",
    "find_matches.pairs_per_request",
)


def driver_memory_mb() -> int:
    """A quarter of the host's memory."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1024, int(line.split()[1]) // 4 // 1024)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def start_session(tmp: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # keep every file Spark writes inside the checkout (SPARK_LOCAL_DIRS
        # is set by the caller and wins over spark.local.dir; without
        # UsePerfData the JVM writes nothing under /tmp)
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the driver JVM."""
    pids = ["self"]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(str(proc.pid))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def count_unit(name: str) -> str:
    return "ratio" if name.endswith("ratio") else "count"


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile with >= 10 samples above."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11
    return 100.0 * (k + 1) / n, sorted(values)[k]


def _read_json(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def load_expected(key: str) -> dict:
    """Reference counts for ``key`` (workload:rows:seed): the committed ones
    in ``expected.json``, and for what that file lacks (other seeds or sizes,
    online request indices it does not list), those the first correct run in
    this checkout stored in the cache."""
    cached = _read_json(os.path.join(CACHE, "expected.json")).get(key, {})
    return {**cached, **_read_json(EXPECTED).get(key, {})}


def store_expected(key: str, values: dict) -> None:
    path = os.path.join(CACHE, "expected.json")
    data = _read_json(path)
    data[key] = {**values, **data.get(key, {})}
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)


def measure(wl, tracer, seconds: float, trace: bool, log):
    """Closed loop of operations for ``seconds``: the next operation starts
    only if one as long as the last still ends in time (at least one, or an
    untraced and a traced one with ``trace``, where every second operation
    is traced). Returns (results, untraced walls, traced walls, failures)."""
    results, walls, traced_walls, failures = [], [], [], 0
    min_ops = 2 if trace else 1
    deadline = time.time() + seconds
    i, last = 0, 0.0
    while i < min_ops or time.time() + last <= deadline:
        tracer.enabled = trace and i % 2 == 1
        t0 = time.time()
        try:
            results.append(wl.operation(i))
            (traced_walls if tracer.enabled else walls).append(results[-1]["wall_s"])
        except Exception:
            failures += 1
            log(f"operation {i} failed:\n{traceback.format_exc()}")
            wl.spark.catalog.clearCache()
        last = time.time() - t0
        i += 1
    tracer.enabled = False
    return results, walls, traced_walls, failures


def end_to_end(args, wl, tracer, walls, setup_s, f1, rss, failed_frac) -> dict:
    """The contract metrics, plus a human-readable block with the per-phase
    figures, latency percentiles and output counts."""
    lines = [
        ("setup_s", setup_s, "s"),
        ("total_s", statistics.median(walls), "s"),
        ("pairwise_f1", f1, "ratio"),
    ]
    metrics = {name: {"value": value, "unit": u} for name, value, u in lines}
    lines.append(("peak_rss_mb", rss, "MB"))
    phase = {n: tracer.walls(n) for n in SPANS}
    if phase["training.lambda"]:
        train = zip(phase["training.lambda"], phase["training.u"], phase["training.em"])
        lines.append(("train_s", statistics.median(map(sum, train)), "s"))
    if phase["predict"]:
        link = zip(phase["predict"], phase["cluster"])
        lines.append(("link_s", statistics.median(map(sum, link)), "s"))
    if wl.unit == "request":
        lines.append(("match_p50_s", statistics.median(walls), "s"))
        t = tail(walls)
        if t:
            lines.append((f"match_tail_s (p{t[0]:.0f})", t[1], "s"))
    lines.append(("failed_frac", failed_frac, "ratio"))
    lines += [(f"{n}.wall_s", statistics.median(phase[n]), "s") for n in SPANS if phase[n]]
    lines += [(name, value, count_unit(name)) for name, value in wl.counts.items()]
    print(f"{args.workload} seed={args.seed}: {len(walls)} timed ({wl.unit}), "
          f"seconds {[round(w, 3) for w in walls]}")
    for name, value, u in lines:
        print(f"  {name:<32} {value:.6g} {u}")
    return metrics


def per_layer(args, wl, tracer, walls, traced_walls, rss, log) -> dict:
    """Median of each field over the traced spans of each name (0 for a span
    the workload does not run), the output counts, the tracing overhead and
    the peak RSS (which varies too much between runs to bound); the span
    records are written out."""
    from spans import FIELDS

    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if "jobs" in s:
            by_name.setdefault(s["name"], []).append(s)
    metrics = {}
    for name in SPANS:
        recs = by_name.get(name, [])
        for field, u in FIELDS.items():
            value = statistics.median(r[field] for r in recs) if recs else 0
            metrics[f"{name}.{field}"] = {"value": value, "unit": u}
    counts = dict.fromkeys(COUNTS, 0)
    counts.update(wl.counts)
    if "find_matches" in by_name:
        counts["find_matches.jobs_per_request"] = metrics["find_matches.jobs"]["value"]
    for name in COUNTS:
        metrics[name] = {"value": counts[name], "unit": count_unit(name)}
    overhead = statistics.median(traced_walls) - statistics.median(walls)
    metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    metrics["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    out = os.path.join(CACHE, f"trace-{args.workload}-s{args.seed}.json")
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": tracer.spans, "counts": counts,
                   "untraced_s": walls, "traced_s": traced_walls}, f, indent=1)
    log(f"spans written to {out}")
    return metrics



def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None)
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import splink_spark  # noqa: F401  (fails fast outside a checkout)
    import workloads
    from spans import Tracer

    tmp = os.path.join(CACHE, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit JVM
    import tempfile

    tempfile.tempdir = None

    cls_name, rows = WORKLOADS[args.workload]
    rows = args.rows or rows
    trace = bool(args.trace)

    spark = None
    try:
        t0 = time.time()
        spark = start_session(tmp)
        session_s = time.time() - t0
        tracer = Tracer(spark)
        wl = getattr(workloads, cls_name)(spark, tracer, args.seed, CACHE, rows)
        t = time.time()
        wl.prepare()
        log(f"inputs ready in {time.time() - t:.2f}s ({rows} rows, seed {args.seed})")

        t = time.time()
        wl.setup()
        set_s = time.time() - t
        t = time.time()
        wl.warm_up()
        warm_s = time.time() - t
        setup_s = session_s + set_s + warm_s
        log(f"session {session_s:.2f}s, set-up {set_s:.2f}s, warm-up {warm_s:.2f}s")

        results, walls, traced_walls, failed = measure(
            wl, tracer, args.seconds, trace, log
        )
        attempted = len(results) + failed
        key = f"{args.workload}:{rows}:{args.seed}"
        expected = load_expected(key)
        errors = wl.verify(results, expected) if results else ["no operation succeeded"]
        for e in errors:
            log(f"CHECK FAILED: {e}")
        if errors:
            failed = max(failed, 1)
        correct = not errors
        if correct:
            store_expected(key, wl.expected(results))
        f1 = wl.pairwise_f1(results) if results else None
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    if not walls or (trace and not traced_walls):
        log("no timed operation succeeded")
        correct, metrics = False, {}
    elif trace:
        metrics = per_layer(args, wl, tracer, walls, traced_walls, rss, log)
    else:
        metrics = end_to_end(args, wl, tracer, walls, setup_s, f1, rss, failed / attempted)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
