"""Metric computation: end-to-end metrics from the untraced jobs, per-layer
metrics from the traced ones.  Names and units are read from
``BENCHMARK.json``.

Per-layer ``*_s`` metrics are span self time summed over the traced jobs
and divided by their number (seconds per job), so the layers of a workload
add up to its traced job time less the ``trace.hook`` spans.  Counts are per
traced job as well; ratios
are taken over the summed counts.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from pyspark.sql import functions as F

import spans

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, never below the (upper) median: with fewer than 21
    samples no such percentile exists and the upper median is given."""
    xs = sorted(values)
    n = len(xs)
    idx = max(n - 11, n // 2)
    return xs[idx], 100.0 * (idx + 1) / n


def end_to_end(jobs, job_kinds, setup_s: float, rss_mb: float, quality: dict) -> tuple[dict, dict]:
    """Returns (metrics, info).  ``job_s``, the tail and ``rows_per_s``
    are taken over the jobs of ``job_kinds``, the jobs that do the same
    shape of work (a vendor's first sync into empty state is not one of
    them; it is reported as ``cold_build_s``).  Failed jobs count in
    ``failed`` but give no sample.  The tail is in ``info``, not a metric:
    a run holds fewer than the 21 jobs a percentile with ten jobs beyond
    it needs."""
    counted = [j for j in jobs if j.kind in job_kinds and j.ok]
    warm = [j.wall for j in counted]
    cold = [j.wall for j in jobs if j.kind == "cold" and j.ok]
    tail_v, tail_p = tail(warm) if warm else (0.0, 0.0)
    m = {
        "setup_s": setup_s,
        "job_s": statistics.median(warm) if warm else 0.0,
        "rows_per_s": sum(j.rows for j in counted) / sum(warm) if warm else 0.0,
        "peak_rss_mb": rss_mb,
        "cold_build_s": statistics.median(cold) if cold else 0.0,
        **quality,
    }
    info = {
        "job_samples": len(warm),
        "cold_jobs": len(cold),
        "job_tail_s": tail_v,
        "tail_percentile": tail_p,
        "failed_ratio": sum(not j.ok for j in jobs) / len(jobs) if jobs else 1.0,
    }
    return m, info


def install_hooks(tracer, workload) -> None:
    """Counters a workload takes at layer boundaries in the traced run."""

    def input_rows(sp, args, kwargs, res):
        sp.counters["input_rows"] = args[0].count()

    def fixture_mb(sp, args, kwargs, res):
        sp.counters["cached_mb"] = spans.cached_mb(res["vendor_items"]) + spans.cached_mb(res["admin_products"])

    def gate(sp, args, kwargs, res):
        from tepsonic_database_sync_spark.plans.corpus import PREP_LANGS, PREP_MIN_QUALITY

        passed = res.filter((F.col("quality") >= PREP_MIN_QUALITY) & F.col("lang").isin(*PREP_LANGS))
        sp.counters["gate_pass"] = passed.count()
        sp.counters["distinct_fp"] = passed.select("fp_md5").distinct().count()

    truth = getattr(workload.inputs, "cluster_of", None)

    def true_pairs(sp, args, kwargs, res):
        sp.counters["true_pairs"] = sum(
            1
            for a, b in res.collect()
            if a in truth and truth[a] == truth.get(b)
        )

    occupancy: dict = {}

    def invert(sp, args, kwargs, res):
        occupancy.clear()
        occupancy.update({r["cell"]: r["n"] for r in res.groupBy("cell").agg(F.count("*").alias("n")).collect()})

    def probe_cells(sp, args, kwargs, res):
        rows = res.collect()
        queries = {r["vec_id"] for r in rows}
        sp.counters["candidates"] = sum(occupancy.get(r["cell"], 0) for r in rows)
        sp.counters["queries"] = len(queries)

    tracer.hooks.update(
        {
            "matching.match_cascade": input_rows,
            "matching.match_partial": input_rows,
            "options.aggregate_options": input_rows,
            "fixtures.build_fixtures": fixture_mb,
            "corpus.enrich_corpus": gate,
            "similarity.invert": invert,
            "similarity.probe_cells": probe_cells,
        }
    )
    if truth is not None:  # planted near-duplicate clusters
        tracer.hooks["dedup.lsh"] = true_pairs


def per_layer(
    tracer, jobs, setup_main: float, cores: int, stages: list[dict], spark_jobs: list[dict], quality: dict
) -> dict:
    traced = [j for j in jobs if j.traced]
    untraced = [j for j in jobs if not j.traced]
    n = max(1, len(traced))
    keys = {j.key for j in traced}
    selfs = tracer.self_times()
    sp_idx = [i for i, sp in enumerate(tracer.spans) if sp.job in keys]
    self_s: dict[str, float] = defaultdict(float)
    rows: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    ctr: dict[str, float] = defaultdict(float)
    for i in sp_idx:
        sp = tracer.spans[i]
        self_s[sp.name] += selfs[i]
        rows[sp.name] += sp.rows or 0
        calls[sp.name] += 1
        for k, v in sp.counters.items():
            ctr[f"{sp.name}:{k}"] += v

    def s(*names):
        return sum(self_s[x] for x in names) / n

    def ratio(a, b):
        return a / b if b else 0.0

    def job_mean(fn, subset):
        vals = [fn(j) for j in subset]
        return sum(vals) / len(vals) if vals else 0.0

    vendor = [j for j in jobs if "ops" in j.out]
    traced_vendor = [j for j in traced if "ops" in j.out]
    traced_state = [j for j in traced if "state" in j.out]
    # the benchmark's own counting (HOOK spans) is left out of the Spark
    # counters, the job walls and the tracing overhead
    hook_stages = {i for sp in tracer.spans if sp.name == spans.HOOK for i in sp.stage_ids}
    # Spark jobs submitted while a components span (or a child of it) ran
    comp = [tracer.spans[i] for i in sp_idx if tracer.spans[i].name == "dedup.components"]
    comp_jobs = sum(
        any(sp.start <= sj["submitted"] <= sp.end for sp in comp) and not tracer.in_hook(sj["submitted"])
        for sj in spark_jobs
    )
    in_traced = [
        st for st in stages
        if st["id"] not in hook_stages and any(j.t0 <= st["submitted"] <= j.t1 for j in traced)
    ]
    tot = {k: sum(st[k] for st in in_traced) for k in spans.STAGE_COUNTERS}
    wall = {j.key: j.wall - tracer.hook_s(j.key) for j in traced}
    traced_wall = sum(wall.values())

    # compare like with like: the job kind both halves ran, warm first
    kinds = {j.kind for j in untraced} & {j.kind for j in traced}
    kind = "warm" if "warm" in kinds else "cold" if kinds else None

    def med(js):
        walls = [wall.get(j.key, j.wall) for j in js if kind is None or j.kind == kind]
        return statistics.median(walls) if walls else 0.0

    untraced_s, traced_s = med(untraced), med(traced)
    gate_pass = ctr["corpus.enrich_corpus:gate_pass"]
    return {
        "session.start_s": setup_main,
        "io.scan_s": s("io.load_table", "io.fan_out", "io.fan_out_cpu"),
        "io.scan_partitions": ratio(ctr["io.load_table:partitions"], calls["io.load_table"]),
        "io.fanout_exchanges": (ctr["io.fan_out:exchange"] + ctr["io.fan_out_cpu:exchange"]) / n,
        "fixtures.build_s": s("fixtures.build_fixtures"),
        "fixtures.persisted_mb": ratio(ctr["fixtures.build_fixtures:cached_mb"], calls["fixtures.build_fixtures"]),
        "fixtures.cache_hit_ratio": ratio(sum(j.out["fixture_hit"] for j in vendor), len(vendor)),
        "matching.cascade_s": s("matching.match_cascade", "matching.match_exact", "matching.match_partial"),
        "matching.groups": ctr["matching.match_cascade:input_rows"] / n,
        "matching.exact_hits": rows["matching.match_exact"] / n,
        "matching.partial_hits": rows["matching.match_partial"] / n,
        "matching.partial_candidates": ctr["matching.match_partial:input_rows"] / n,
        "matching.candidate_yield": ratio(rows["matching.match_partial"], ctr["matching.match_partial:input_rows"]),
        "sync.match_cache_hit_ratio": ratio(sum(j.out["match_hit"] for j in vendor), len(vendor)),
        "sync.options_s": s("sync.sync_options"),
        "sync.summary_s": s("sync.sync_summary"),
        "options.aggregate_s": s("options.aggregate_options"),
        "options.merge_s": s("options.merge_options"),
        "options.rows_in": ctr["options.aggregate_options:input_rows"] / n,
        "options.rows_out": rows["options.aggregate_options"] / n,
        "upsert.flag_s": s("upsert.upsert_flagged"),
        "upsert.inserts": job_mean(lambda j: j.out["ops"].get("insert", 0), traced_vendor),
        "upsert.updates": job_mean(lambda j: j.out["ops"].get("update", 0), traced_vendor),
        "state.read_s": s("state.read"),
        "state.write_s": s("state.write"),
        "state.files_written": job_mean(lambda j: j.out["state"]["files_written"], traced_state),
        "state.bytes_written_per_live_byte": ratio(
            sum(j.out["state"]["bytes_written"] for j in traced_state),
            sum(j.out["state"]["live_bytes"] for j in traced_state),
        ),
        "state.space_ratio": job_mean(
            lambda j: ratio(j.out["state"]["root_bytes"], j.out["state"]["live_bytes"]), traced_state
        ),
        "corpus.prepare_s": s("corpus.prepare_corpus", "corpus.enrich_corpus"),
        "corpus.gate_pass_ratio": ratio(gate_pass, rows["corpus.enrich_corpus"]),
        "corpus.exact_dup_ratio": 1.0 - ratio(ctr["corpus.enrich_corpus:distinct_fp"], gate_pass) if gate_pass else 0.0,
        "dedup.contamination_s": s("dedup.contamination_flags"),
        "dedup.minhash_s": s("dedup.minhash"),
        "dedup.lsh_s": s("dedup.lsh"),
        "dedup.candidate_pairs": rows["dedup.lsh"] / n,
        "dedup.true_pairs": ctr["dedup.lsh:true_pairs"] / n,
        "dedup.candidate_yield": ratio(ctr["dedup.lsh:true_pairs"], rows["dedup.lsh"]),
        "dedup.components_s": s("dedup.components"),
        "dedup.components_jobs": comp_jobs / n,
        "dedup.keep_best_s": s("dedup.keep_best"),
        "dedup.incremental_s": s("dedup.incremental"),
        "similarity.train_s": s("similarity.train", "similarity.codebook"),
        "similarity.invert_s": s("similarity.invert"),
        "similarity.probe_s": s("similarity.probe", "similarity.probe_cells"),
        "similarity.candidates_per_query": ratio(
            ctr["similarity.probe_cells:candidates"], ctr["similarity.probe_cells:queries"]
        ),
        "similarity.recall_at_10": quality.get("recall_at_10", 0.0),
        "spark.tasks": tot["tasks"] / n,
        "spark.failed_tasks": tot["failed_tasks"] / n,
        "spark.executor_run_s": tot["run_s"] / n,
        "spark.executor_cpu_s": tot["cpu_s"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.shuffle_write_mb": tot["shuffle_write_mb"] / n,
        "spark.spill_mb": tot["spill_mb"] / n,
        "spark.busy_share": ratio(tot["run_s"], cores * traced_wall),
        "trace.untraced_job_s": untraced_s,
        "trace.traced_job_s": traced_s,
        "trace.overhead_ratio": ratio(traced_s, untraced_s) - 1.0 if untraced_s else 0.0,
    }
