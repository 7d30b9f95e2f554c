"""Merge-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload merge-broadcast --seed 0 \
        --seconds 1 --trace 0

Generates the seeded inputs (untimed), starts a ``local[4]`` session,
registers the inputs and runs one merge job in the fresh session: the
job every ``spark-submit`` of ``jobs/merge.py`` pays, plan analysis,
first codegen, Python-worker start-up and JIT warm-up included. A run
is one job, however small ``--seconds`` is; a job takes longer than
the 1 s the benchmark declares. The job's output is checked. The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``;
with ``--trace 1`` the per-layer metrics of a traced warm job and a
layer-by-layer replay, and on merge-broadcast of an incremental-state
build and one crawl delta, which then take the first job's place (see
perfbench/NOTES.md). Exits non-zero if the job fails or a check does
not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
# the JVM's initial heap; its limit stays the engine's (8 GB). A heap
# that starts small grows by GC-time heuristics, and peak memory then
# read 2.5-3.3 GB on one input; starting at a size the job fits in
# keeps peak memory on the job (NOTES.md, "End-to-end metrics")
INITIAL_HEAP = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="corpus size override, for fixed-cost fits (NOTES.md); "
                         "no pinned fingerprint applies")
    return ap.parse_args(argv)


def start_session(work: str, ui: bool):
    """A fresh SparkSession with the engine's defaults (``get_spark``:
    shuffle partitions, driver memory limit, AQE) and a fixed initial
    heap, whose scratch space lives under ``work``; ``ui`` starts the
    status web UI and its REST API (traced runs)."""
    from mergeaddressesandbuildings_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        master=MASTER, app_name="perfbench",
        **{"spark.local.dir": os.path.join(work, "local"),
           "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
           "spark.driver.extraJavaOptions": f"-Xms{INITIAL_HEAP} -Djava.io.tmpdir={tmp} "
                                            f"-Dderby.system.home={tmp}",
           "spark.ui.enabled": str(ui).lower(),
           "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until no process this run
    started is left."""
    from pyspark import SparkContext

    from perfbench import procstat

    started = [s["pid"] for s in procstat.tree(procstat.read_all(), os.getpid())[1:]]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    # the Python daemon and workers outlive the JVM briefly, reparented
    deadline = time.monotonic() + 30
    while alive := [p for p in started if procstat.is_running(p)]:
        if time.monotonic() > deadline:
            for pid in alive:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.2)


def generate_inputs(work: str, seed: int, n_pages: int, delta: bool) -> dict:
    """Write the seeded corpus (and, for a delta leg, the change set and
    the post-delta corpus) to parquet → their paths."""
    from perfbench import fixtures as fx, workloads as wl

    pages, existing = fx.corpus(seed, n_pages)
    paths = {name: os.path.join(work, "in", name)
             for name in ("pages", "existing", "delta", "pages_v2")}
    fx.write_pages(pages, paths["pages"])
    fx.write_existing(existing, paths["existing"])
    if delta:
        changes, pages_v2 = fx.delta(seed, pages, wl.DELTA_MODIFY, wl.DELTA_DELETE)
        fx.write_delta(changes, paths["delta"])
        fx.write_pages(pages_v2, paths["pages_v2"])
    paths["n_pages"] = len(pages)
    return paths


def run(args) -> dict:
    from perfbench import procstat, workloads as wl

    workload = wl.WORKLOADS[args.workload]
    work = os.path.join(ROOT, "perfbench", ".work", f"{workload.name}-{args.seed}-{os.getpid()}")
    wl.clear(work)
    # Python workers import the engine from the checkout; every scratch
    # file of the process tree stays under the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    n_pages = args.pages or workload.pages
    inputs = generate_inputs(work, args.seed, n_pages, bool(args.trace) and workload.delta)
    pinned = args.seed == 0 and n_pages == workload.pages
    reference = workload.seed0_fingerprint if pinned else None
    jobs: list[dict] = []
    metrics: dict = {}
    with procstat.TreeSampler() as sampler:
        t0 = time.monotonic()
        spark = start_session(work, ui=bool(args.trace))
        session_s = time.monotonic() - t0
        t0 = time.monotonic()
        tables = (spark.read.parquet(inputs["pages"]),
                  spark.read.parquet(inputs["existing"]))
        setup_s = session_s + time.monotonic() - t0

        try:
            if args.trace and workload.delta:
                # the delta leg, run first, warms the session for the
                # traced merge job in place of an untraced one
                fp = reference
            else:
                out_dir = os.path.join(work, "job")
                cpu0 = sampler.cpu_s()
                t = time.monotonic()
                out = wl.merge_job(spark, *tables, out_dir, workload.broadcast_max)
                wall_s = time.monotonic() - t
                cpu_s = sampler.cpu_s() - cpu0
                summary = wl.summarize(out.flat)
                errors = wl.check_merge(out, summary)
                if reference is not None and summary["fp"] != reference:
                    errors.append(f"fingerprint {summary['fp']} != pinned {reference}")
                jobs.append({"errors": errors})
                wl.clear(out_dir)
                fp = summary["fp"]
            if args.trace:
                from perfbench import trace
                layers, traced = trace.traced_merge(
                    spark, workload, tables, inputs, work, fp, args.seed)
                jobs.extend(traced)
                metrics = {"session.start_s": (session_s, "s"), **layers}
        except Exception:
            traceback.print_exc()
            jobs.append({"errors": ["job raised"]})
        finally:
            stop_session(spark)
    wl.clear(work)

    for j in jobs:
        for e in j["errors"]:
            print(f"check failed: {e}", file=sys.stderr)
    failed = sum(1 for j in jobs if j["errors"])
    if failed:
        metrics = {}
    elif not args.trace:
        metrics = {
            "cold_job_s": (wall_s, "s"),
            "pages_per_s": (inputs["n_pages"] / wall_s, "1/s"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (sampler.peak_mb, "MB"),
            "setup_s": (setup_s, "s"),
        }
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seed < 0 or args.seconds < 0:
        print("perfbench: --seed and --seconds must not be negative", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        from perfbench import workloads  # imports the engine and pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the merge engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
