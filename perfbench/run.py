"""eggopress end-to-end benchmark.

    python3 perfbench/run.py --workload corpus_round_trip --seed 1 --seconds 15 --trace 0

Run from the root of an eggopress checkout. One process, one Spark
session on local[<cores>], one closed-loop client. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer ladder (see perfbench/NOTES.md). Exits non-zero when any
operation's output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout's work dir."""
    for sub in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["EGGOPRESS_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["EGGOPRESS_SCRATCH_DIR"] = os.path.join(work, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _end_to_end(wl, run, setup_s: float) -> dict:
    from eggopress.tablefmt import Table
    from perfbench import workloads

    ops = run.ops
    return {
        "setup_s": _metric(setup_s, "s"),
        "write_rows_per_s": _metric(workloads.per_s(ops, wl.write_kind), "rows/s"),
        "read_rows_per_s": _metric(workloads.per_s(ops, wl.read_kind), "rows/s"),
        "scan_s": _metric(sum(workloads.median(ops, k) for k in wl.scan_kinds), "s"),
        "cycle_s": _metric(statistics.median(run.cycles), "s"),
        "stored_vs_parquet": _metric(Table(wl.table).tree_bytes("data") / wl.ref_bytes, "ratio"),
    }


def _print_ops(wl, run) -> None:
    """Human-readable per-operation lines (stdout, before the result)."""
    print(f"cycles {wl.name}: n={len(run.cycles)} "
          f"seconds={' '.join(f'{c:.4f}' for c in run.cycles)}")
    for kind, xs in sorted(run.ops.items()):
        secs = [o["s"] for o in xs]
        print(f"op {wl.name}.{kind}: n={len(xs)} median={statistics.median(secs):.4f} s "
              f"failed={sum(not o['ok'] for o in xs)} "
              f"seconds={' '.join(f'{x:.4f}' for x in secs)}")
    for k, v in wl.op_metrics(run.ops).items():
        print(f"{k} = {v:.6g}")


def _traced(wl, sess, seconds: float, untraced, e2e: dict,
            warmup_s: float, peak_rss_mb: float) -> tuple:
    """The traced half: a session restart with the event log on, spans with
    a job group each, the codec rung on the chunks the last encode wrote,
    then the per-layer ladder."""
    from perfbench import codec_rung, harness, layers, workloads

    tracer = harness.Tracer(f"traced-{os.getpid()}", jobs=True)
    t0 = time.perf_counter()
    sess.restart(event_log=True)
    start_s, prewarm_s = sess.starts[-1]
    tracer.add("conf.session_builder", t0, t0 + start_s)
    tracer.add("conf.prewarm_python_workers", t0 + start_s, t0 + start_s + prewarm_s)
    tracer.spark = sess.spark
    wl.bind(sess.spark)
    traced = workloads.Run(tracer)
    wl.before_traced(traced)
    traced.loop(wl, seconds)
    traced_e2e = _end_to_end(wl, traced, start_s + prewarm_s)
    blobs = wl.rung_blobs()
    _, rung = traced.op("codec_rung", len(blobs), "codecs.rung",
                        lambda: codec_rung.measure(blobs),
                        lambda r: r[0]) or (False, {})
    tables = layers.table_stats(wl, sess.spark, tracer)
    sess.spark.stop()  # flushes the event log
    sess.spark = None
    metrics = layers.ladder(wl, sess, tracer, traced, untraced, rung, e2e,
                            traced_e2e, warmup_s, peak_rss_mb, tables)
    layers.print_tree(tracer)
    return traced, {k: _metric(v, u) for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "eggopress", "__init__.py")):
        print("perfbench: run from the root of an eggopress checkout "
              "(no eggopress/ package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, cores)
    wl = workloads.WORKLOADS[args.workload]()
    sess = harness.Session(work, cores)
    runs = []
    try:
        t0 = time.perf_counter()
        sess.start()
        setup_s = time.perf_counter() - t0  # JVM launch, session, prewarm

        t0 = time.perf_counter()
        wl.make_inputs(sess.spark, work, args.seed)
        inputs_s = time.perf_counter() - t0
        wl.bind(sess.spark)
        warm = workloads.Run(harness.Tracer("warmup"))
        runs.append(warm)
        t0 = time.perf_counter()
        wl.warm_up(warm)  # checked, timed, not reported
        warmup_s = time.perf_counter() - t0

        seconds = args.seconds / 2 if args.trace else args.seconds
        untraced = workloads.Run(harness.Tracer("untraced"))
        runs.append(untraced)
        untraced.loop(wl, seconds)
        if args.trace:
            wl.tail_samples(untraced)
        e2e = _end_to_end(wl, untraced, setup_s)
        peak_rss_mb = harness.peak_rss_mb()
        _print_ops(wl, untraced)
        print(f"cores={cores} workload={wl.name} seed={args.seed} "
              f"setup_s={setup_s:.3f} inputs_s={inputs_s:.3f} warmup_s={warmup_s:.3f} "
              f"peak_rss_mb={peak_rss_mb:.1f}")
        out = e2e
        if args.trace:
            traced, out = _traced(wl, sess, seconds, untraced, e2e,
                                  warmup_s, peak_rss_mb)
            runs.append(traced)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
