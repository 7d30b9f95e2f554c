"""Traced run of a merge: per-layer metrics from outside the engine.

Part 1 times one whole job (``run_merge``, flat write, sink) under job
groups the benchmark sets; its child spans are the Spark jobs the
status REST API lists for the group, and ``run_merge``'s self time is
driver-side work with no Spark job running. Part 2 replays the merge
layer by layer through the public operator functions, in
``run_merge``'s order, materializing each layer's output inside its own
span and job group. Python-kernel figures come from the MapInPandas
SQL metrics, matched to a layer by job group and kernel function name.
On a workload with a delta leg, that leg runs first: it builds
incremental state from the same corpus, applies a crawl delta and
refreshes the outputs, each in its own span, and checks the result
against ``run_merge`` over the post-delta corpus. Spans stay in
memory and are written once, at the end.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark import StorageLevel

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.operators import (
    decisions as dec,
    dedupe,
    extract,
    spatial_join as sj,
    tiling,
)
from mergeaddressesandbuildings_spark.plans import incremental as inc
from mergeaddressesandbuildings_spark.plans.merge import run_merge
from mergeaddressesandbuildings_spark.sources import sink

from perfbench import workloads as wl
from perfbench.sparkrest import SparkRest
from perfbench.spans import Tracer

MB = 2.0**20
TRACE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".traces")
# Python kernels that refine address × building candidate pairs
REFINE_KERNELS = {"refine", "run"}
LAYERS = ("extract", "dedupe", "sj.index_build", "sj.pip", "sj.knn",
          "decisions", "tiling", "sink")
SPARK_FIGURES = ("run_s", "cpu_s", "shuffle_mb", "spill_mb")
# apply_delta's stage_s keys, in its order
DELTA_STAGES = ("extract_delta", "old_records", "closure_rings", "element_splices",
                "closure_slices", "winners", "winner_splices")
DELTA_METRICS = {
    "incremental.full_build_s": "s",
    **{f"incremental.{st}_s": "s" for st in DELTA_STAGES},
    "incremental.outputs_s": "s",
    "incremental.job_s": "s",
    "incremental.affected_fraction": "ratio",
    "state.mb_written_per_delta": "MB",
    "state.files_written_per_delta": "count",
    "state.write_amp": "ratio",
    "state.live_mb": "MB",
}


class _Groups:
    """Spans whose Spark jobs are the ones launched under a job group of
    the same name."""

    def __init__(self, spark, tracer: Tracer, job_id: str):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.job_id = job_id
        self.span_of: dict[str, int] = {}  # group → span index

    @contextmanager
    def span(self, name: str):
        group = f"{self.job_id}:{name}"
        outer = [self.sc.getLocalProperty(k)
                 for k in ("spark.jobGroup.id", "spark.job.description")]
        self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name, self.job_id, group=group) as idx:
                self.span_of[group] = idx
                yield idx
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", outer[0])
            self.sc.setLocalProperty("spark.job.description", outer[1])

    def attach(self, jobs: list[dict]) -> None:
        """Add each Spark job as a child span of the span owning its
        group, and sum the job's Spark figures into that span. A job
        without a group (launched from a thread of the engine's own,
        which does not inherit the caller's group) goes to the innermost
        span that was open when it started."""
        for j in jobs:
            i = self.span_of.get(j["group"]) if j["group"] else self._open_at(j["start"])
            if i is None or j["end"] is None:
                continue
            self.tracer.add(f"spark-job-{j['job_id']}", j["start"], j["end"], i,
                            self.job_id, **{k: j[k] for k in SPARK_FIGURES})
            attrs = self.tracer.spans[i].attrs
            attrs["spark_jobs"] = attrs.get("spark_jobs", 0) + 1
            for k in SPARK_FIGURES:
                attrs[k] = attrs.get(k, 0.0) + j[k]

    def _open_at(self, t: float) -> int | None:
        spans = self.tracer.spans
        open_ = [i for i in self.span_of.values() if spans[i].start <= t <= spans[i].end]
        return max(open_, key=lambda i: spans[i].start, default=None)

    def layer(self, name: str) -> dict:
        """Wall time and Spark figures of a span; zeros if it never ran."""
        i = self.span_of.get(f"{self.job_id}:{name}")
        if i is None:
            return dict.fromkeys(("s",) + SPARK_FIGURES, 0.0)
        s = self.tracer.spans[i]
        return {"s": s.duration, **{k: s.attrs.get(k, 0.0) for k in SPARK_FIGURES}}


def _barrier(spark, df, path):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _replay(spark, g: _Groups, workload, tables, out_dir) -> dict:
    """The merge again, one public operator call per span, in
    run_merge's order; each span ends once its output is materialized."""
    level, budget = config.CELL_LEVEL, config.TILE_MAX_ELEMS
    pages, existing = tables
    par = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < par:
        pages = pages.repartition(par * 2)
    if existing.rdd.getNumPartitions() < par:
        existing = existing.repartition(par * 2)
    mem = StorageLevel.MEMORY_AND_DISK
    n = {}
    with g.span("replay"):
        with g.span("extract"):
            records = extract.extract_records(pages, level=level).persist(mem)
            n["records"] = records.count()
        addresses, new_buildings = extract.split_records(records)
        with g.span("dedupe"):
            ex_nodes, ex_ways = extract.existing_to_tables(existing, level=level)
            ex_ways = ex_ways.persist(mem)
            kept_addr = _barrier(spark, dedupe.dedupe_addresses(addresses, ex_nodes),
                                 os.path.join(out_dir, "addresses"))
            buildings = _barrier(
                spark, dedupe.dedupe_buildings(new_buildings, ex_ways).unionByName(ex_ways),
                os.path.join(out_dir, "buildings"))
        n_bld = buildings.count()
        index = None
        if n_bld <= workload.broadcast_max:
            with g.span("sj.index_build"):
                index = sj.build_broadcast_index(buildings.select(
                    "building_id", "ring_lats", "ring_lons", "hole_lats", "hole_lons",
                    "min_lat", "min_lon", "max_lat", "max_lon", "area_m2").toPandas())
        with g.span("sj.pip"):
            pip = sj.pip_candidates(kept_addr, buildings, broadcast_index=index).persist(mem)
            pip.count()
            pip_winners = sj.pick_pip_winner(pip).persist(mem)
            n["pip_winners"] = pip_winners.count()
        with g.span("sj.knn"):
            unmatched = kept_addr.join(pip_winners.select("addr_id"), "addr_id", "left_anti")
            knn = sj.knn_candidates(unmatched, buildings, level=level,
                                    broadcast_index=index).persist(mem)
            knn.count()
            knn_winners = sj.pick_knn_winner(knn).persist(mem)
            n["knn_winners"] = knn_winners.count()
        with g.span("decisions"):
            assignments = _barrier(
                spark, dec.assign(kept_addr, pip_winners, knn_winners, buildings),
                os.path.join(out_dir, "assignments"))
        with g.span("tiling"):
            tm = tiling.tile_map(tiling.tile_points(assignments, buildings),
                                 budget=budget, level=level).persist(mem)
            tm.count()
            flat = wl.write_flat(spark, wl.with_tiles(assignments, tm),
                                 os.path.join(out_dir, "flat"))
        with g.span("sink"):
            stats = sink.write_tiles(flat, os.path.join(out_dir, "sink"),
                                     key_cols=wl.SINK_KEYS, n_batches=wl.SINK_BATCHES)
    # element counts, outside every span
    n["addr_out"] = kept_addr.count()
    n["addr_dropped"] = addresses.count() - n["addr_out"]
    n["bld_dropped"] = new_buildings.count() - (n_bld - ex_ways.count())
    n["tiles"] = flat.select("tile").distinct().count()
    for df in (records, ex_ways, pip, pip_winners, knn, knn_winners, tm):
        df.unpersist()
    return {"flat": flat, "sink": stats, "n": n}


def _python_by_layer(rest: SparkRest, group_of_job: dict[int, str]) -> dict:
    """MapInPandas metrics summed per (job group, kernel name). A cached
    plan shown again by a later execution reports zeros there and adds
    nothing."""
    out: dict[tuple[str, str], dict] = {}
    for node in rest.python_nodes():
        groups = sorted({group_of_job.get(j) for j in node["jobs"]} - {None})
        if not groups:
            continue
        acc = out.setdefault((groups[0], node["kernel"]),
                             {"python_s": 0.0, "sent_mb": 0.0, "rows_in": 0.0, "nodes": 0})
        acc["python_s"] += node["python_s"]
        acc["sent_mb"] += node["sent_mb"]
        acc["rows_in"] += node["rows_in"] or 0.0
        acc["nodes"] += 1
        if node["rows_in"] is None and node["python_s"] > 0:
            acc["rows_in_unknown"] = True
    return out


def _delta_leg(spark, g: _Groups, tables, inputs: dict, work: str) -> tuple[dict, list[str]]:
    """Incremental state from the corpus, one crawl delta into it, the
    refreshed outputs written flat → (metrics, failed checks). The
    outputs must equal ``run_merge`` over the post-delta corpus."""
    pages, existing = tables
    state, flat_dir = os.path.join(work, "state"), os.path.join(work, "delta_flat")
    changes = spark.read.parquet(inputs["delta"])
    with g.span("full_build"):
        inc.full_build(spark, pages, existing, state, level=wl.DELTA_LEVEL)
    _, live_bytes = wl.dir_stats(state)
    before = wl.file_versions(state)
    with g.span("delta_job") as job_idx:
        with g.span("apply_delta"):
            m = inc.apply_delta(spark, changes, state)
        after = wl.file_versions(state)
        with g.span("outputs"):
            assignments, _, _, tm = inc.current_outputs(spark, state)
            flat = wl.write_flat(spark, wl.with_tiles(assignments, tm), flat_dir)
    assignments.unpersist()
    written = [size for path, (size, mtime) in after.items()
               if before.get(path) != (size, mtime)]
    _, delta_bytes = wl.dir_stats(inputs["delta"])

    got = wl.summarize(flat)
    with g.span("check"):
        res = run_merge(spark, spark.read.parquet(inputs["pages_v2"]), existing,
                        level=wl.DELTA_LEVEL, barrier_dir=os.path.join(work, "delta_check"))
        ref = wl.summarize(wl.with_tiles(res.assignments, res.tile_map))
    errors = []
    if (got["fp"], got["n"]) != (ref["fp"], ref["n"]):
        errors.append(f"incremental outputs (fp {got['fp']}, {got['n']} rows) != run_merge "
                      f"over the post-delta corpus (fp {ref['fp']}, {ref['n']} rows)")
    if got["n"] != m["n_addresses_total"]:
        errors.append(f"delta outputs {got['n']} != spliced addresses {m['n_addresses_total']}")
    if not 0 < m["affected_fraction"] < 1:
        errors.append(f"affected fraction {m['affected_fraction']} not in (0, 1)")
    missing = [st for st in DELTA_STAGES if st not in m["stage_s"]]
    if missing:
        errors.append(f"apply_delta reported no time for {missing}")
    g.tracer.spans[g.span_of["delta:apply_delta"]].attrs["apply_delta"] = m

    metrics = {
        "incremental.full_build_s": g.layer("full_build")["s"],
        **{f"incremental.{st}_s": m["stage_s"].get(st, 0.0) for st in DELTA_STAGES},
        "incremental.outputs_s": g.layer("outputs")["s"],
        "incremental.job_s": g.tracer.spans[job_idx].duration,
        "incremental.affected_fraction": m["affected_fraction"],
        "state.mb_written_per_delta": sum(written) / MB,
        "state.files_written_per_delta": len(written),
        "state.write_amp": sum(written) / delta_bytes,
        "state.live_mb": live_bytes / MB,
    }
    for path in (state, flat_dir, os.path.join(work, "delta_check")):
        wl.clear(path)
    return {k: (v, DELTA_METRICS[k]) for k, v in metrics.items()}, errors


def traced_merge(spark, workload, tables, inputs: dict, work: str, reference: int | None,
                 seed: int) -> tuple[dict, list[dict]]:
    """(Delta leg +) whole traced job + replay → (per-layer metrics, the
    check results of each traced job). The whole job must reproduce the
    ``reference`` fingerprint, if one is given, and the replay the whole
    job's."""
    tracer = Tracer()
    rest = SparkRest(spark.sparkContext)
    whole_dir, replay_dir = os.path.join(work, "traced"), os.path.join(work, "replay")

    delta = _Groups(spark, tracer, "delta")
    if workload.delta:
        delta_metrics, delta_check = _delta_leg(spark, delta, tables, inputs, work)
    else:  # the layer does not run on this workload
        delta_metrics, delta_check = {k: (0.0, u) for k, u in DELTA_METRICS.items()}, None

    whole = _Groups(spark, tracer, "whole")
    with whole.span("job") as job_idx:
        out = wl.merge_job(spark, *tables, whole_dir, workload.broadcast_max, phase=whole.span)
    whole_summary = wl.summarize(out.flat)
    whole_check = wl.check_merge(out, whole_summary)
    _, barrier_bytes = wl.dir_stats(out.barrier_dir)
    if reference is not None and whole_summary["fp"] != reference:
        whole_check.append(f"traced job fingerprint {whole_summary['fp']} != {reference}")

    replay = _Groups(spark, tracer, "replay")
    rep = _replay(spark, replay, workload, tables, replay_dir)
    rep_summary = wl.summarize(rep["flat"])
    sink_files, sink_bytes = wl.dir_stats(os.path.join(replay_dir, "sink"))
    replay_check = []
    if rep_summary["fp"] != whole_summary["fp"]:
        replay_check.append(f"replay fingerprint {rep_summary['fp']} != "
                            f"traced job's {whole_summary['fp']}")
    if not rep_summary["n"] == rep["n"]["addr_out"] == rep["sink"]["rows_written"]:
        replay_check.append("replay rows not conserved")

    time.sleep(0.5)  # let the status listener catch up with the last job
    jobs = rest.job_spans()
    for g in (whole, replay, delta):
        g.attach(jobs)
    py = _python_by_layer(rest, {j["job_id"]: j["group"] for j in jobs})
    replay_idx = replay.span_of["replay:replay"]
    tracer.spans[replay_idx].attrs["python_kernels"] = {
        f"{grp}/{k}": v for (grp, k), v in py.items()}
    # kernel figures that cannot be attributed fail the traced run
    # rather than read as 0
    for (grp, k), v in py.items():
        if grp.startswith("replay:") and k == "?":
            replay_check.append(f"{v['nodes']} MapInPandas node(s) in {grp} "
                                "not matched to a kernel name")
        if grp.startswith("replay:") and v.get("rows_in_unknown"):
            replay_check.append(f"no input row count for kernel {k} in {grp}")

    def python(layer: str, kernels=None) -> dict:
        rows = [v for (grp, k), v in py.items()
                if grp == f"replay:{layer}" and (kernels is None or k in kernels)]
        return {k: sum(r[k] for r in rows) for k in ("python_s", "sent_mb", "rows_in")}

    L = {name: replay.layer(name) for name in LAYERS}
    n, summ = rep["n"], rep_summary
    ext_py = python("extract")
    sj_pip_py, sj_knn_py = python("sj.pip", REFINE_KERNELS), python("sj.knn", REFINE_KERNELS)
    for layer, fig in (("sj.pip", sj_pip_py), ("sj.knn", sj_knn_py)):
        if fig["python_s"] <= 0 or fig["rows_in"] <= 0:
            replay_check.append(f"no refine kernel figures in replay:{layer}")
    run_merge_idx = whole.span_of["whole:run_merge"]
    job_s = tracer.spans[job_idx].duration
    peaks = rest.driver_peaks()
    metrics = {
        "merge.driver_s": (tracer.self_time(run_merge_idx), "s"),
        "merge.spark_jobs": (tracer.spans[run_merge_idx].attrs.get("spark_jobs", 0), "count"),
        "merge.barrier_mb": (barrier_bytes / MB, "MB"),
        "extract.s": (L["extract"]["s"], "s"),
        "extract.python_s": (ext_py["python_s"], "s"),
        "extract.arrow_mb": (ext_py["sent_mb"], "MB"),
        "extract.records": (n["records"], "count"),
        "dedupe.s": (L["dedupe"]["s"], "s"),
        "dedupe.shuffle_mb": (L["dedupe"]["shuffle_mb"], "MB"),
        "dedupe.addr_dropped": (n["addr_dropped"], "count"),
        "dedupe.bld_dropped": (n["bld_dropped"], "count"),
        "sj.index_build_s": (L["sj.index_build"]["s"], "s"),
        "sj.pip_s": (L["sj.pip"]["s"], "s"),
        "sj.knn_s": (L["sj.knn"]["s"], "s"),
        "sj.refine_python_s": (sj_pip_py["python_s"] + sj_knn_py["python_s"], "s"),
        "sj.shuffle_mb": (L["sj.pip"]["shuffle_mb"] + L["sj.knn"]["shuffle_mb"], "MB"),
        "sj.spill_mb": (L["sj.pip"]["spill_mb"] + L["sj.knn"]["spill_mb"], "MB"),
        "sj.pip_candidates": (sj_pip_py["rows_in"], "count"),
        "sj.knn_candidates": (sj_knn_py["rows_in"], "count"),
        "sj.pip_yield": (n["pip_winners"] / max(sj_pip_py["rows_in"], 1), "ratio"),
        "sj.knn_yield": (n["knn_winners"] / max(sj_knn_py["rows_in"], 1), "ratio"),
        "decisions.s": (L["decisions"]["s"], "s"),
        "decisions.merged": (summ[config.DECISION_MERGED], "count"),
        "decisions.keep_node": (summ[config.DECISION_KEEP_NODE], "count"),
        "decisions.conflict": (summ[config.DECISION_CONFLICT], "count"),
        "decisions.standalone": (summ[config.DECISION_STANDALONE], "count"),
        "tiling.s": (L["tiling"]["s"], "s"),
        "tiling.tiles": (n["tiles"], "count"),
        "sink.s": (L["sink"]["s"], "s"),
        "sink.files": (sink_files, "count"),
        "sink.mb_written": (sink_bytes / MB, "MB"),
        **delta_metrics,
        "jvm.heap_used_peak_mb": (peaks["JVMHeapMemory"] / MB, "MB"),
        "jvm.unified_peak_mb": (peaks["OnHeapUnifiedMemory"] / MB, "MB"),
        "trace.job_s": (job_s, "s"),
        "trace.overhead_s": (tracer.spans[replay_idx].duration - job_s, "s"),
    }

    os.makedirs(TRACE_DIR, exist_ok=True)
    tracer.dump(os.path.join(TRACE_DIR, f"{workload.name}-seed{seed}.json"))
    wl.clear(whole_dir)
    wl.clear(replay_dir)
    checks = [{"errors": whole_check}, {"errors": replay_check}]
    if delta_check is not None:
        checks.append({"errors": delta_check})
    return metrics, checks
