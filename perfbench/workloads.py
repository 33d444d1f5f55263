"""The two benchmark workloads.

Each workload is a closed loop with one client: the next job starts when
the previous one has returned.  Work is organised in state lifecycles of
one cold job that starts from empty state followed by warm jobs that reuse
it:

- ``vendor_sync``: per vendor, a first sync into an empty
  ``ParquetStateStore``, then re-sync cycles that read, merge and rewrite
  the state.  Joins, aggregation and the state write do the work.
- ``corpus_dedup``: per dataset, a first shard into an empty
  ``BucketedParquetStateStore`` fingerprint index, then shards probed
  against the growing index.  Per-row hashing and pair-generating
  shuffles do most of the work.  Each shard then takes the dataset's
  embedding index: the first shard builds it (``kmeans_train`` +
  codebook), each later one sends a query batch through
  ``ivf_topk_trained`` — small many-stage Spark jobs whose time is
  scheduling and broadcast overhead.

Jobs keep the handles the output check needs; the check runs after the
timed window (``checks.py``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen

# engine functions are called through their modules, never imported by
# name, so the traced run's patches (spans.Tracer.install) reach them
from tepsonic_database_sync_spark import fixtures
from tepsonic_database_sync_spark.functions.lifecycle import free_local_checkpoint
import tepsonic_database_sync_spark.io as engine_io
from tepsonic_database_sync_spark.operators import dedup, options, similarity, upsert
from tepsonic_database_sync_spark.plans import corpus, sync
from tepsonic_database_sync_spark.sources.jdbc import (
    BucketedParquetStateStore,
    ParquetStateStore,
)

OPTION_KEYS = ["product_id", "grade", "color", "variant"]


@dataclass
class Job:
    kind: str  # "cold" (starts from empty state) or "warm"
    key: str
    rows: int
    wall: float = 0.0
    t0: float = 0.0  # epoch start/end, to match status-store stages
    t1: float = 0.0
    traced: bool = False
    error: str | None = None
    ok: bool = True
    out: dict = field(default_factory=dict)  # handles for the output check


def _files(path: str) -> dict[str, int]:
    """Path -> size of every file under ``path``."""
    return {
        os.path.join(root, f): os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    }


def _state_io(before: dict[str, int], root: str, live_dir: str) -> dict:
    """What a job wrote to a state store: new parquet files and their bytes,
    the bytes of the live version and of everything under the root."""
    after = _files(root)
    new = [p for p in after if p not in before and p.endswith(".parquet")]
    return {
        "files_written": len(new),
        "bytes_written": sum(after[p] for p in new),
        "live_bytes": sum(_files(live_dir).values()),
        "root_bytes": sum(after.values()),
    }


class Workload:
    name = ""
    spec = None  # generator knobs of the timed run
    warmup_spec = None  # small inputs that exercise every job kind once
    inputs_cls = None
    # job kinds whose wall times make job_s / job_tail_s
    job_kinds = ("warm",)

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.jobs: list[Job] = []

    def plan(self, inputs, tag):
        """Yield (input, fn) in execution order; ``fn(job)`` runs the job."""
        raise NotImplementedError

    def generate(self) -> None:
        """Set up the seeded input streams (files are written lazily)."""
        self.inputs = self.inputs_cls(os.path.join(self.work, "in"), self.seed, self.spec)
        self.warm_inputs = self.inputs_cls(
            os.path.join(self.work, "warm_in"), self.seed + 1_000_003, self.warmup_spec
        )

    def post(self, job: Job) -> None:
        """Untimed, after each job: turn the handles the check needs into
        plain data while the job's cached frames still exist."""

    def warmup(self) -> None:
        """Run every job kind once on small inputs, untimed, so JIT and
        code generation are done before the window opens."""
        for inp, fn in self.plan(self.warm_inputs, "warm"):
            job = Job(inp.kind, "warmup", inp.rows)
            fn(job)
            self.post(job)

    def run(self, seconds: float, trace_from: float | None = None) -> float:
        """Closed loop until the jobs have taken ``seconds``.  The window
        clock counts job wall time only: writing the next input and the
        untimed ``post`` step between jobs are excluded.  With ``trace_from``, the
        tracer records once that share of the window has passed, and the
        loop goes on until a cold and a warm job have both been traced.
        Returns the window's elapsed seconds."""
        clock = 0.0
        traced_kinds: set[str] = set()
        # advancing the plan writes the next job's input: untimed
        for inp, fn in self.plan(self.inputs, "run"):
            # a traced window also runs until it has traced both job kinds
            if clock >= seconds and (trace_from is None or traced_kinds >= {"cold", "warm"}):
                break
            traced = trace_from is not None and clock >= trace_from * seconds
            self.tracer.recording = traced
            job = Job(inp.kind, inp.key, inp.rows, traced=traced)
            if traced:
                traced_kinds.add(inp.kind)
            self.tracer.job = inp.key
            job.t0 = time.time()
            start = time.perf_counter()
            try:
                fn(job)
            except Exception as ex:  # a failed job is counted, the loop goes on
                job.error = f"{type(ex).__name__}: {ex}"[:500]
                job.ok = False
            job.wall = time.perf_counter() - start
            job.t1 = time.time()
            clock += job.wall
            if job.ok:
                try:
                    self.post(job)
                except Exception as ex:
                    job.error = f"post: {type(ex).__name__}: {ex}"[:500]
                    job.ok = False
            self.tracer.end_job()
            self.jobs.append(job)
        self.tracer.recording = False
        return clock


class VendorSync(Workload):
    name = "vendor_sync"
    spec = gen.VENDOR
    warmup_spec = gen.VENDOR_WARMUP
    inputs_cls = gen.VendorInputs

    def plan(self, inputs, tag):
        for inp in inputs.jobs():
            store = ParquetStateStore(self.spark, os.path.join(self.work, f"state_{tag}", f"vendor{inp.group:03d}"))
            yield inp, lambda job, d=inp.dir, store=store: self.cycle(job, d, store)

    def cycle(self, job: Job, d: str, store: ParquetStateStore) -> None:
        spark = self.spark
        app = spark.sparkContext.applicationId
        job.out["fixture_hit"] = (app, d) in fixtures._FIXTURE_CACHE
        job.out["match_hit"] = (app, d) in sync._MATCH_CACHE
        before = _files(store.root)
        fx = fixtures.build_fixtures(spark, d)
        vi, ap = fx["vendor_items"], fx["admin_products"]
        m = sync.cached_matched(spark, d, vi, ap)
        opts = sync.sync_options(vi, ap, matched=m)
        state = store.read()
        first = state is None
        if first:
            state = spark.createDataFrame([], opts.schema)
        flagged = upsert.upsert_flagged(state, opts, OPTION_KEYS)
        job.out["ops"] = {r["op"]: r["n"] for r in flagged.groupBy("op").agg(F.count("*").alias("n")).collect()}
        prev_keys = None if first else state.select("product_id", "grade")
        store.merge(opts, options.merge_options)
        summary = sync.sync_summary(vi, ap, state_keys=prev_keys, matched=m).collect()
        job.out["summary"] = summary[0].asDict()
        fixtures.invalidate_fixture_cache(spark)
        # the match table stays persisted until post() has read it
        job.out["matched"] = m
        job.out["dir"] = d
        job.out["state_root"] = store.root
        job.out["state_path"] = store.current_path()
        job.out["first"] = first
        job.out["state"] = _state_io(before, store.root, job.out["state_path"])

    def post(self, job: Job) -> None:
        m = job.out.pop("matched")
        job.out["matched"] = {r["gname"]: r["product_id"] for r in m.collect()}
        sync.invalidate_match_cache(self.spark)


class CorpusDedup(Workload):
    name = "corpus_dedup"
    spec = gen.CORPUS
    warmup_spec = gen.CORPUS_WARMUP
    inputs_cls = gen.CorpusInputs
    # every shard is one pass of the same pipeline (the first of a dataset
    # builds the vector index, the others probe it: about the same work);
    # the first is also reported on its own as cold_build_s
    job_kinds = ("cold", "warm")
    k = 10

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._clusters = None
        # keep the component labels of fuzzy_keep_best for the
        # recall/precision check; the frame is lazy on the last
        # contraction checkpoint
        self.tracer.taps["dedup.components"] = self._capture

    def _capture(self, clusters) -> None:
        self._clusters = clusters

    def plan(self, inputs, tag):
        holder: dict = {}  # the current dataset's codebook
        for inp in inputs.jobs():
            store = BucketedParquetStateStore(
                self.spark,
                os.path.join(self.work, f"index_{tag}", f"ds{inp.group:03d}"),
                keys=["fp_md5"],
                n_buckets=16,
            )
            yield inp, lambda job, d=inp.dir, store=store: self.shard(job, d, store, holder, inputs.queries)

    def shard(self, job: Job, d: str, store: BucketedParquetStateStore, holder: dict, n_queries: int) -> None:
        spark = self.spark
        before = _files(store.root)
        docs = engine_io.load_table(spark, d, "documents")
        prepared = corpus.prepare_corpus(docs).localCheckpoint(eager=True)
        kept = docs.join(prepared.select("doc_id"), "doc_id").select("doc_id", "text", "n_chars")
        keepers = dedup.fuzzy_keep_best(kept)
        best = kept.join(keepers.select(F.col("keeper_doc_id").alias("doc_id")), "doc_id")
        admitted = dedup.incremental_dedup(best, store)
        job.out["admitted"] = [(r["doc_id"], r["fp_md5"]) for r in admitted.collect()]
        job.out["prepared"] = prepared
        job.out["keepers"] = keepers
        job.out["clusters"] = self._clusters
        job.out["dir"] = d
        job.out["store"] = store.root
        job.out["state"] = _state_io(before, store.root, os.path.join(store.root, "data"))
        emb = engine_io.load_table(spark, d, "embeddings")
        if job.kind == "cold":  # the dataset's index is rebuilt
            trained = similarity.kmeans_train(emb)
            old = holder.get("codebook")
            holder["codebook"] = similarity.codebook_from_kmeans(trained).localCheckpoint(eager=True)
            if old is not None:  # the previous dataset's index is retired
                free_local_checkpoint(old)
            job.out["trained"] = trained
        else:
            res = similarity.ivf_topk_trained(
                emb, n_queries=n_queries, k=self.k, codebook=holder["codebook"]
            ).collect()
            job.out["result"] = [(r["q_id"], r["rank"], r["neighbor_id"], r["sim_e6"]) for r in res]

    def post(self, job: Job) -> None:
        prepared = job.out["prepared"]
        job.out["prepared"] = [r.asDict() for r in prepared.collect()]
        job.out["clusters"] = {r["node"]: r["comp"] for r in job.out["clusters"].collect()}
        job.out["keepers"] = [r.asDict() for r in job.out["keepers"].collect()]
        free_local_checkpoint(prepared)
        if "trained" in job.out:
            rows = job.out.pop("trained").collect()
            job.out["members"] = {r["cent_id"]: r["n_members"] for r in rows}
            job.out["dims"] = len({r["dim"] for r in rows})


WORKLOADS = {w.name: w for w in (VendorSync, CorpusDedup)}
