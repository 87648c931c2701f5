"""The rlv benchmark: one closed-loop client (this driver thread) over
``local[nproc]``, two workloads, every timed op checked against an
oracle outside the timer.

    python3 perfbench/run.py --workload token_encode --seed 1 --seconds 8 \
        --trace 0

Run it from the repository root.  It writes only under
``.perfbench_work/`` (deleted on exit) and ``.perfbench_out/`` (span
dumps, and the exact counts of each seed and code digest) in the current
directory.

* ``token_encode``: the token-plane write path.  A synthetic table with all
  FIXTURES families is encoded with ``engine_files.encode_files_dataset``
  and checked with ``engine_files.verify_files_dataset``.
* ``query``: pushdown queries over encoded lineitem sf0.1.  Pruned ones
  touch 1-3 blocks (count, EXPLAIN, narrow scan, a join whose small side
  filters the dimension), where driver planning and Spark dispatch
  dominate; the rest read most blocks (full scans with wide projections
  to Arrow, unclustered aggregate, GROUP BY, top-k), where the in-process
  fetch, decode and restore of a scan's blocks are still a small share of
  its wall, the rest being Spark dispatch and moving the Arrow result to
  the driver (``tf.unattributed_share``).  One mix, not two workloads, so
  that every run of the benchmark fits its time budget.

A run sets up three times (``setup_s`` is the median) and runs untimed
warm-up cycles.  It then issues one whole cycle (one instance of every op
kind), and goes on op by op until ``--seconds`` have passed.
``op_gmean_s`` is the geometric mean over op kinds of each kind's
geometric-mean latency, so every kind weighs the same.  The last stdout
line is the result object; the line before it holds the detail (per-kind
medians, the tail percentile, the workload's own throughput figures).
``--trace 1`` gives the per-layer metrics instead (see ``probes.py``):
after the checked warm-up it runs the probes, not the timed window, and
``trace.overhead_pct`` is what recording their spans added to them.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import probes
import workloads as W
from spans import Tracer, alive, descendants, tree_peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def _driver_mem() -> str:
    """A quarter of host memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def _session(root: str, work: str, cpus: int):
    """``rlv.session.make_session`` with the checkout importable on Spark's
    Python workers and every scratch file kept under ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "pyspark-shell")
    from rlv.session import make_session

    return make_session(cpus, app="rlv-perfbench", driver_mem=_driver_mem())


def _stop(spark) -> None:
    """Stop Spark, end the JVM it launched and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits on EOF
        gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(map(alive, procs)) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rlv", "__init__.py")):
        print(f"no rlv package under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work)
    cpus = os.cpu_count() or 1
    tracer = Tracer(False)
    errors: list[str] = []
    spark = _session(root, work, cpus)
    try:
        wl = W.make_workload(args.workload)
        setup_s = []
        for _ in range(1 if args.trace else SETUP_REPS):
            shutil.rmtree(f"{work}/setup", ignore_errors=True)
            t0 = time.perf_counter()
            ctx = wl.setup(spark, f"{work}/setup", args.seed)
            setup_s.append(time.perf_counter() - t0)
        ops = wl.ops(spark, ctx)
        client = W.Client(tracer)
        for i in range(wl.warm_cycles):  # checked, not timed into any metric
            W.loop(client, lambda _, i=i: ops(-1 - i), 0.0)
        client.lat.clear()
        if not args.trace:
            lat = W.loop(client, ops, args.seconds)
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "op_gmean_s": (W.kind_gmean(lat), "s"),
                "bytes_per_value": (wl.bytes_per_value(ctx), "B/value"),
                "peak_rss_mb": (tree_peak_rss_mb(), "MB"),
            }
            detail = wl.detail(client, ctx)
        else:
            tracer.enabled = True
            metrics, tctx = probes.layers(spark, wl, ctx, tracer, args.seed,
                                          work, cpus, errors)
            metrics["engine_files.scaling_1_4"] = (probes.scaling_1_4(
                spark, tctx, tracer,
                lambda n: _session(root, work, n), cpus), "ratio")
            metrics["trace.overhead_pct"] = (tracer.overhead_pct(), "%")
            # the reference legs of each query kind
            ref = {f"{s['name']}.{s['kind']}": s["end"] - s["start"]
                   for s in tracer.spans if s["name"].startswith("baseline.")}
            detail = {"self_s": tracer.self_times(), "reference_s": ref}
            tracer.write(f"{out_dir}/trace-{args.workload}-s{args.seed}.json")
        name = (f"{args.workload}-s{args.seed}-t{args.trace}-"
                f"{probes.code_digest(root)[:16]}")
        probes.check_counts(out_dir, name, metrics, errors)
        client.failed += len(errors)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    errors = client.errors + errors
    detail.update({"workload": args.workload, "seed": args.seed,
                   "cpus": cpus, "loop": "closed", "clients": 1,
                   "error_rate": client.failed / client.attempted,
                   "errors": errors[:5]})
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
