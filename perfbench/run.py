#!/usr/bin/env python3
"""Benchmark of the shipped extraction job, end to end and per layer.

Run from the repository root::

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 8 --trace 1

``--trace 0`` times the workload's entry point in a closed loop, one run
at a time, and prints the end-to-end metrics; ``--trace 1`` prints the
per-layer table instead.  Both modes check every committed output against
the oracle, outside the timed region.  The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the
lines above it print every metric with its unit, and the versions, Spark
conf, git sha, seed and core count of the run.  A detail file with every
run's figures (and, traced, every span) is written under
``.perfbench_work/results/``.  METHOD.md describes workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("crawl_mix", "pdf_archive", "resume_tail", "curation_chain")
#: set-ups per run; setup_s is their median
SETUP_REPS = 3
#: timed runs per measurement at the least, however long they take
MIN_RUNS = 4
#: local[n] cores at the most
MAX_CORES = 4


def _args(argv):
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="input documents, in place of the workload's size")
    return ap.parse_args(argv)


def _environment(work: Path) -> None:
    """Make the checkout importable by the Spark Python workers, and put
    the session's scratch space inside ``work``."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # -XX:-UsePerfData: the JVM's monitoring file would go to /tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData".strip()
    )


def _git_sha() -> str | None:
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


def _shutdown(ctx) -> list[int]:
    """Stop the session and its JVM, then wait until every process this
    run started has ended; returns any that would not."""
    from pyspark import SparkContext

    from perfbench import procstat

    pids = [p for p in procstat.tree_pids() if p != os.getpid()]
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    return procstat.wait_gone(pids)


def _measure(ctx, wl, seconds: float) -> tuple[dict, list]:
    """Closed loop: run the entry point, check its output and reset the
    state, until ``seconds`` have passed and at least MIN_RUNS were made."""
    from perfbench import procstat

    runs = []
    start = time.perf_counter()
    while len(runs) < MIN_RUNS or time.perf_counter() - start < seconds:
        rep = len(runs)
        err = None
        with procstat.TreeSampler() as sample:
            t0 = time.perf_counter()
            try:
                wl.job(ctx, rep)
            except Exception:  # a failed job counts all of its rows
                err = traceback.format_exc()
            job_s = time.perf_counter() - t0
        if err is None:
            chk = wl.check(ctx, rep)
        else:
            print(err, file=sys.stderr)
            chk = wl.failed_run(ctx)
        wl.reset(ctx, rep)
        runs.append(
            {
                "job_s": job_s,
                "cpu_s": sample.cpu_s,
                "peak_rss_mb": sample.peak_rss / 2**20,
                "out_bytes": chk.out_bytes,
                "attempted": chk.attempted,
                "failed": chk.failed,
            }
        )
    med = statistics.median
    job_s = med(r["job_s"] for r in runs)
    metrics = {
        "job_s": (job_s, "s"),
        "docs_per_s": (wl.rows(ctx) / job_s, "docs/s"),
        "cpu_s": (med(r["cpu_s"] for r in runs), "s"),
        "out_bytes_per_in_byte": (
            med(r["out_bytes"] for r in runs) / wl.in_bytes(ctx), "ratio"
        ),
    }
    return metrics, runs


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "markmuse_spark" / "__init__.py").is_file():
        print(f"perfbench: no markmuse_spark package under {ROOT}; "
              "run it from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _environment(work)

    import markmuse_spark

    if Path(markmuse_spark.__file__).resolve().parent != ROOT / "markmuse_spark":
        print(f"perfbench: markmuse_spark resolves to {markmuse_spark.__file__}, "
              f"not to the checkout at {ROOT}", file=sys.stderr)
        return 2
    import pyarrow
    import pyspark

    from perfbench import layers, workloads

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    ctx = workloads.Ctx(root=ROOT, work=work, seed=args.seed, cores=cores)
    wl = workloads.make(args.workload, args.docs)
    detail: dict = {}
    try:
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(ctx)
            setup.append(time.perf_counter() - t0)
        conf = dict(ctx.spark.sparkContext.getConf().getAll())
        if args.trace:
            metrics, runs, detail = layers.measure(ctx, wl, args.seconds)
            ok = detail["sha_match"] and detail["reconciled"]
        else:
            metrics, runs = _measure(ctx, wl, args.seconds)
            metrics = {"setup_s": (statistics.median(setup), "s"), **metrics}
            ok = True
    finally:
        left = _shutdown(ctx)
        shutil.rmtree(work, ignore_errors=True)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)
        return 1

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(len(r["failed"]) for r in runs)
    mismatched = sorted({u for r in runs for u in r["failed"]} | set(ctx.setup_failed))
    correct = ok and failed == 0 and not ctx.setup_failed
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "docs": wl.size,
        "runs": len(runs),
        "setups": SETUP_REPS,
        "nproc": os.cpu_count(),
        "cores": cores,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_sha": _git_sha(),
        "spark_conf": conf,
    }
    results = ROOT / ".perfbench_work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (results / name).write_text(json.dumps(
        {"env": env, "setup_s": setup, "runs": runs, "mismatched": mismatched, **detail},
        default=str,
    ))

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"docs={wl.size} runs={len(runs)} setups={SETUP_REPS} cores={cores}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:34s} {v:14.6g} {unit}")
    print(f"  {'failed_frac':34s} {failed / max(1, attempted):14.6g} ratio "
          f"({failed}/{attempted} rows)")
    if not args.trace:
        # the JVM sizes its heap differently from one process to the
        # next, so this is printed but carries no bound
        rss = statistics.median(r["peak_rss_mb"] for r in runs)
        print(f"  {'peak_rss_mb':34s} {rss:14.6g} MB (unbounded)")
    print(f"  {'first set-up (JVM start)':34s} {setup[0]:14.6g} s")
    if mismatched:
        print(f"  first mismatching urls: {mismatched[:10]}")
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
