"""Span recorder for the traced benchmark run.

The benchmark wraps each call into the public functions of the measured
layers (``LAYERS`` below) and records a span: name, start, end, parent span
and job id.  DataFrames are lazy, so a wrapped call's DataFrame result is
materialised inside its span (persisted and counted); the span then covers
the work of that layer.  That breaks stage fusion across
layers, which is why per-layer numbers come only from the traced run and
the end-to-end numbers only from the untraced one.

Spans stay in memory and are written out once, at the end of the run.  A
span's self time is its duration minus the union of its children's
intervals.  Spark counters come from the application status store (it is
populated with ``spark.ui.enabled=false``): each completed stage is charged
to the innermost span that was open when the stage was submitted.

The benchmark's own counting at a boundary (partition counts, the
workload hooks) runs in a ``trace.hook`` span, so its time leaves the
enclosing layer's self time and its stages are charged to that span, which
no layer metric reads.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

PKG = "tepsonic_database_sync_spark"

# (module, attribute, span name).  Class attributes are given as
# "Class.method".  The span name's prefix is the per-layer metric prefix.
LAYERS = [
    ("io", "load_table", "io.load_table"),
    ("io", "_fan_out", "io.fan_out"),
    ("io", "fan_out_cpu", "io.fan_out_cpu"),
    ("fixtures", "build_fixtures", "fixtures.build_fixtures"),
    ("operators.matching", "match_cascade", "matching.match_cascade"),
    ("operators.matching", "match_exact", "matching.match_exact"),
    ("operators.matching", "match_partial", "matching.match_partial"),
    ("plans.sync", "cached_matched", "sync.cached_matched"),
    ("plans.sync", "sync_options", "sync.sync_options"),
    ("plans.sync", "vendor_products", "sync.vendor_products"),
    ("plans.sync", "sync_summary", "sync.sync_summary"),
    ("operators.options", "aggregate_options", "options.aggregate_options"),
    ("operators.options", "merge_options", "options.merge_options"),
    ("operators.upsert", "upsert_flagged", "upsert.upsert_flagged"),
    ("sources.jdbc", "ParquetStateStore.read", "state.read"),
    ("sources.jdbc", "ParquetStateStore.overwrite", "state.write"),
    ("sources.jdbc", "BucketedParquetStateStore.read_touched", "state.read"),
    ("sources.jdbc", "BucketedParquetStateStore.merge", "state.write"),
    ("plans.corpus", "prepare_corpus", "corpus.prepare_corpus"),
    ("plans.corpus", "enrich_corpus", "corpus.enrich_corpus"),
    ("operators.dedup", "contamination_flags", "dedup.contamination_flags"),
    ("operators.dedup", "minhash_sig_array", "dedup.minhash"),
    ("operators.dedup", "lsh_candidate_pairs", "dedup.lsh"),
    ("operators.dedup", "connected_components_star", "dedup.components"),
    ("operators.dedup", "fuzzy_keep_best", "dedup.keep_best"),
    ("operators.dedup", "incremental_dedup", "dedup.incremental"),
    ("operators.similarity", "kmeans_train", "similarity.train"),
    ("operators.similarity", "codebook_from_kmeans", "similarity.codebook"),
    ("operators.similarity", "_nearest_cells", "similarity.nearest_cells"),
    ("operators.similarity", "ivf_topk_trained", "similarity.probe"),
]


HOOK = "trace.hook"  # span of the benchmark's own counting at a boundary

STAGE_COUNTERS = ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job: str | None = None
    rows: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Collects spans for the calls made while ``recording`` is set.

    ``install()`` patches the ``LAYERS`` functions.  Untraced
    (``enabled=False``), only the functions with a tap are patched and
    nothing is recorded: a tap receives the function's return value
    and hands it to the output check, so every run executes the program
    as callers see it apart from that one reference."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.recording = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._job_cached: list[DataFrame] = []
        self.job: str | None = None
        # span name -> fn(span, args, kwargs, result): extra counters a
        # workload takes at a boundary, in a HOOK span after the layer's
        self.hooks: dict = {}
        # span name -> fn(result): the output check's capture of a return
        # value, in traced and untraced runs alike
        self.taps: dict = {}

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield None
            return
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, job=self.job)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def _materialise(self, res):
        # persist + count rather than localCheckpoint: the caller gets the
        # same object back (the program may cache or unpersist it), and
        # no plan is rewritten onto an RDD leaf
        if isinstance(res, DataFrame):
            if not res.is_cached:
                res.persist()
                self._job_cached.append(res)
            return res.count()
        if isinstance(res, dict):  # build_fixtures: fill the persisted tables
            for key in ("vendor_items", "admin_products"):
                if key in res:
                    res[key].count()
        return None

    def _wrap(self, fn, name: str):
        tap = self.taps.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.recording:
                res = fn(*args, **kwargs)
                if tap is not None:
                    tap(res)
                return res
            span_name = name
            if name == "similarity.nearest_cells":  # n=1: the inversion
                n = args[2] if len(args) > 2 else kwargs.get("n")
                span_name = "similarity.invert" if n == 1 else "similarity.probe_cells"
            in_parts = None
            if name in ("io.fan_out", "io.fan_out_cpu"):
                df = args[1] if name == "io.fan_out" else args[0]
                with self.span(HOOK):
                    in_parts = df.rdd.getNumPartitions()
            with self.span(span_name) as sp:
                res = fn(*args, **kwargs)
                sp.rows = self._materialise(res)
            if tap is not None:
                tap(res)
            hook = self.hooks.get(span_name)
            with self.span(HOOK):
                # counts are taken from the cached result
                if isinstance(res, DataFrame):
                    sp.counters["partitions"] = res.rdd.getNumPartitions()
                    if in_parts is not None:
                        sp.counters["exchange"] = float(sp.counters["partitions"] != in_parts)
                if hook is not None:
                    hook(sp, args, kwargs, res)
            return res

        return traced

    def install(self) -> None:
        """Patch the entries in ``LAYERS`` (untraced: those with a tap) in
        their defining module and in each package module that imported them
        by name."""
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for mod_name, attr, span_name in LAYERS:
            if not self.enabled and span_name not in self.taps:
                continue
            mod = sys.modules[f"{PKG}.{mod_name}"]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._set(cls, meth, self._wrap(orig, span_name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in mods:
                if getattr(m, attr, None) is orig:
                    self._set(m, attr, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        self.recording = False
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def end_job(self) -> None:
        """Release the boundary caches of the finished job."""
        for df in self._job_cached:
            df.unpersist()
        self._job_cached.clear()

    # -- analysis ------------------------------------------------------------
    def self_times(self) -> list[float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append((sp.start, sp.end))
        out = []
        for i, sp in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(children.get(i, [])):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(max(0.0, (sp.end - sp.start) - covered))
        return out

    def innermost(self, t: float) -> int | None:
        """Index of the innermost span open at time ``t``."""
        best = None
        for i, sp in enumerate(self.spans):
            if sp.start <= t <= sp.end and (best is None or sp.start >= self.spans[best].start):
                best = i
        return best

    def in_hook(self, t: float) -> bool:
        """Whether ``t`` falls inside a ``HOOK`` span."""
        return any(sp.name == HOOK and sp.start <= t <= sp.end for sp in self.spans)

    def hook_s(self, job: str) -> float:
        """Seconds of ``HOOK`` spans in job ``job`` (they never nest)."""
        return sum(sp.end - sp.start for sp in self.spans if sp.name == HOOK and sp.job == job)

    def attach_stages(self, stages: list[dict]) -> None:
        """Charge each stage to the innermost span open at its submission."""
        for st in stages:
            i = self.innermost(st["submitted"])
            if i is not None:
                sp = self.spans[i]
                sp.stage_ids.append(st["id"])
                for k in STAGE_COUNTERS:
                    sp.counters[k] = sp.counters.get(k, 0.0) + st[k]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for sp, st in zip(self.spans, selfs):
                rec = dict(sp.__dict__)
                rec["self_s"] = st
                f.write(json.dumps(rec) + "\n")


def completed_stages(spark) -> list[dict]:
    """Completed stages from the status store with the counters the
    per-layer report uses (times in seconds, sizes in MB)."""
    jvm = spark._jvm
    statuses = jvm.java.util.ArrayList()
    statuses.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
    statuses.add(jvm.org.apache.spark.status.api.v1.StageStatus.FAILED)
    seq = spark._jsc.sc().statusStore().stageList(
        statuses, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    it = seq.iterator()
    while it.hasNext():
        s = it.next()
        sub = s.submissionTime()
        out.append(
            {
                "id": int(s.stageId()),
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "tasks": int(s.numTasks()),
                "failed_tasks": int(s.numFailedTasks()),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            }
        )
    return out


def completed_jobs(spark) -> list[dict]:
    """Spark jobs from the status store: id and submission time."""
    seq = spark._jsc.sc().statusStore().jobsList(spark._jvm.java.util.ArrayList())
    out = []
    it = seq.iterator()
    while it.hasNext():
        j = it.next()
        sub = j.submissionTime()
        out.append({"id": int(j.jobId()), "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0})
    return out


def cached_mb(df: DataFrame) -> float:
    """Size of a persisted DataFrame's cached representation, in MB
    (0 when it is not cached or not yet materialised)."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    hit = cm.lookupCachedData(df._jdf)
    if hit.isEmpty():
        return 0.0
    return hit.get().cachedRepresentation().cacheBuilder().sizeInBytesStats().value() / 1e6


def storage_capacity_mb(spark) -> float:
    ex = spark._jsc.sc().statusStore().executorList(True)
    return sum(ex.apply(i).maxMemory() for i in range(ex.size())) / 1e6
