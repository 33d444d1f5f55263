"""Similarity search over embedding columns — ANN extension set
(BASELINE.json north star; no reference counterpart).

Design for engine-exact, scale-ready similarity:

- **Integer quantization**: embeddings (array<float>) are scaled to
  integer vectors (×1000, round-half-away). All dot products and norms
  are then *exact integer arithmetic* — order-independent, overflow-safe
  (|c| ≤ ~10^3, d = 64 ⇒ dots ≤ ~10^8), and identical in any engine.
  Cosine similarity divides two exactly-representable integers through
  correctly-rounded double ops (sqrt, div) — bit-identical across
  engines, reported as ``sim_e6`` (rounded to 1e-6).
- **Brute-force top-k** (the baseline): broadcast the query set, scan the
  corpus once, window top-k. O(N·Q) — at 100 TB this is the exact-recall
  reference path; the scan is embarrassingly parallel with zero shuffle
  except the final per-query top-k (tiny).
- **LSH (random hyperplane) buckets** (the scale path): 8 deterministic
  integer hyperplanes (md5-derived components, reproducible in SQL)
  → 256 buckets → candidate set shrinks ~256× with equi-join candidate
  generation. Same output shape as brute force.

Python UDFs: none. For very wide vectors (≥1k dims) a Pandas-UDF matmul
block path would win on constant factors; at 64 dims the codegen'd array
expressions are faster than the Arrow round-trip.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT_SCALE = 1000
N_PLANES = 8


def int_vec(emb: Column, scale: int = QUANT_SCALE) -> Column:
    """Quantize a float vector to exact integers (×scale, half-away)."""
    return F.transform(
        emb, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (order-independent)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sim_e6(dot: Column, na2: Column, nb2: Column) -> Column:
    """Cosine similarity in micro-units: round(dot/sqrt(na2*nb2)*1e6).
    All inputs are exact integers < 2^53 ⇒ every double op is correctly
    rounded ⇒ engine-portable bits."""
    return F.round(
        dot.cast("double") / F.sqrt((na2 * nb2).cast("double")) * 1e6, 0
    ).cast("long")


def _quantized(emb: DataFrame) -> DataFrame:
    iv = int_vec(F.col("embedding"))
    return emb.select("vec_id", "label", iv.alias("iv")).withColumn(
        "n2", int_dot(F.col("iv"), F.col("iv"))
    )


def brute_force_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 10
) -> DataFrame:
    """Exact cosine top-k: query set = vec_id < n_queries, ranked by
    (sim desc, neighbor id) — fully deterministic.

    DELIBERATE BroadcastNestedLoopJoin: the `vec_id != q_id` condition is
    non-equi, so this compiles to a BNL with the (small) query side
    broadcast — the corpus is scanned exactly once and every (query,
    vector) pair is scored, which is what exact KNN means (O(N·Q) is
    inherent). This is the documented exact-recall BASELINE; `lsh_topk`
    and `ivf_topk` are the 100 TB paths (candidate generation via
    equi-join on bucket/cell keys). The BNL is plan-ASSERTED in
    tests/test_plan_quality.py so the no-BNL invariant everywhere else
    stays sharp — don't "fix" it."""
    v = _quantized(emb)
    q = v.select(
        F.col("vec_id").alias("q_id"),
        F.col("iv").alias("q_iv"),
        F.col("n2").alias("q_n2"),
    ).filter(F.col("q_id") < n_queries)
    pairs = v.join(F.broadcast(q), v.vec_id != q.q_id)
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        sim_e6(
            int_dot(F.col("iv"), F.col("q_iv")), F.col("n2"), F.col("q_n2")
        ).alias("sim_e6"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim_e6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id", "sim_e6")
    )


def hyperplanes(n_planes: int = N_PLANES, dim: int = 64) -> list[list[int]]:
    """Deterministic integer hyperplanes: component (p, d) =
    md5-60bit("plane{p}_{d}") % 2001 - 1000. Reproducible verbatim in SQL
    (same md5 formula as functions.hashing.h60)."""
    return [
        [
            int(hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()[:15], 16) % 2001
            - 1000
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_bucket(iv: Column, planes: list[list[int]]) -> Column:
    """Sign-bit bucket code from integer hyperplane dots (exact)."""
    code = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        pc = F.array(*[F.lit(c).cast("long") for c in plane])
        code = code + F.when(int_dot(iv, pc) > 0, F.lit(1 << p)).otherwise(0)
    return code


def lsh_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 10, dim: int = 64
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's hyperplane
    bucket (equi-join on the code — the 100 TB path: candidate generation
    is a shuffle on a well-spread small key, not a cross join)."""
    planes = hyperplanes(dim=dim)
    v = _quantized(emb).withColumn("bucket", lsh_bucket(F.col("iv"), planes))
    q = v.select(
        F.col("vec_id").alias("q_id"),
        F.col("iv").alias("q_iv"),
        F.col("n2").alias("q_n2"),
        F.col("bucket"),
    ).filter(F.col("q_id") < n_queries)
    pairs = v.join(F.broadcast(q), "bucket").filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        sim_e6(
            int_dot(F.col("iv"), F.col("q_iv")), F.col("n2"), F.col("q_n2")
        ).alias("sim_e6"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim_e6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id", "sim_e6")
    )


N_CELLS = 16
N_PROBE = 4


def _nearest_cells(vecs: DataFrame, cents: DataFrame, n: int, sim_fn=None) -> DataFrame:
    """Per vector, its ``n`` nearest centroids by cosine (ties → min cell
    id). ``cents`` is broadcast — the coarse codebook is tiny by design.
    ``sim_fn`` defaults to ``sim_e6``; pass ``sim_e6_sep`` for milli-unit
    (trained) codebooks whose norm products would pass 2^63."""
    sim = sim_fn if sim_fn is not None else sim_e6
    scored = vecs.join(F.broadcast(cents)).select(
        "vec_id",
        F.col("cent_id"),
        sim(
            int_dot(F.col("iv"), F.col("c_iv")), F.col("n2"), F.col("c_n2")
        ).alias("c_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("cent_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select("vec_id", F.col("cent_id").alias("cell"))
    )


def _seed_codebook(v: DataFrame, n_cells: int) -> DataFrame:
    """The untrained coarse quantizer: the ``n_cells`` lowest vec_ids as
    centroids, in the (cent_id, c_iv, c_n2) codebook shape."""
    return v.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"),
        F.col("iv").alias("c_iv"),
        F.col("n2").alias("c_n2"),
    )


def _query_probes(
    v: DataFrame, cents: DataFrame, n_queries: int, n_probe: int, sim_fn=None
) -> DataFrame:
    """(q_id, cell): the ``n_probe`` nearest cells of each query vector
    (the ``n_queries`` lowest vec_ids)."""
    return _nearest_cells(
        v.filter(F.col("vec_id") < n_queries), cents, n_probe, sim_fn
    ).select(F.col("vec_id").alias("q_id"), "cell")


def _probe_and_rank(
    v: DataFrame,
    cents: DataFrame,
    n_queries: int,
    k: int,
    n_probe: int,
    sim_fn=None,
) -> DataFrame:
    """The IVF query plan over a codebook: invert the corpus under its
    nearest cell, probe each query's ``n_probe`` nearest cells (one
    broadcast join of the tiny query×cell frame), score the candidates
    with ``sim_e6`` and keep the top ``k`` per query. ``sim_fn`` scores
    vector-to-centroid similarity (see ``_nearest_cells``)."""
    inverted = v.join(_nearest_cells(v, cents, 1, sim_fn), "vec_id")
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("iv").alias("q_iv"),
        F.col("n2").alias("q_n2"),
    )
    qcells = q.join(_query_probes(v, cents, n_queries, n_probe, sim_fn), "q_id")
    pairs = inverted.join(F.broadcast(qcells), "cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        sim_e6(
            int_dot(F.col("iv"), F.col("q_iv")), F.col("n2"), F.col("q_n2")
        ).alias("sim_e6"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim_e6").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id", "sim_e6")
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF-style approximate top-k — the cell-probing scale path.

    Classic inverted-file ANN, kept engine-exact: the coarse quantizer is a
    deterministic seed selection (the ``n_cells`` lowest vec_ids) instead of
    trained k-means centroids — training is an offline concern; the *query
    plan* is identical either way. Every vector is assigned to its nearest
    centroid (one broadcast join over the tiny codebook — the standard IVF
    assign cost); a query probes its ``n_probe`` nearest cells and scores
    only vectors inverted under those cells.

    At 100 TB: the corpus shuffles once on ``cell`` (n_cells-way, uniform
    for spread-out data), candidate scoring touches ~n_probe/n_cells of the
    corpus per query, and the final top-k is a per-query window over a
    candidate set that no longer scales with the corpus. Same output shape
    as ``brute_force_topk``.
    """
    v = _quantized(emb)
    return _probe_and_rank(v, _seed_codebook(v, n_cells), n_queries, k, n_probe)


# The id shift of the demo corpus's near-dup copy. ONE constant shared
# by the pair generator, the glue-edge builder, and the registry's
# connectivity consumer (ADVICE r17: the literal was duplicated in three
# places — a generator change would have silently diverged the consumer).
NEARDUP_COPY_SHIFT = 10_000_000
# The family's cosine near-dup threshold (micro-units), shared by the
# generators and the glue-edge gate below.
NEARDUP_THRESHOLD_E6 = 990_000


def embedding_neardup_pairs(
    emb: DataFrame, threshold_e6: int = NEARDUP_THRESHOLD_E6
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by the coarse
    ``label`` column (IVF-style: compare only within a cell). The demo
    corpus unions an id-shifted copy so true near-dups exist."""
    v = _quantized(emb)
    copy = v.select(
        (F.col("vec_id") + NEARDUP_COPY_SHIFT).alias("vec_id"),
        "label",
        "iv",
        "n2",
    )
    corpus = v.unionByName(copy)
    a = corpus.select(
        F.col("vec_id").alias("a_id"),
        F.col("label"),
        F.col("iv").alias("a_iv"),
        F.col("n2").alias("a_n2"),
    )
    b = corpus.select(
        F.col("vec_id").alias("b_id"),
        F.col("label"),
        F.col("iv").alias("b_iv"),
        F.col("n2").alias("b_n2"),
    )
    pairs = a.join(b, "label").filter(F.col("a_id") < F.col("b_id"))
    scored = pairs.select(
        "label",
        "a_id",
        "b_id",
        sim_e6(
            int_dot(F.col("a_iv"), F.col("b_iv")), F.col("a_n2"), F.col("b_n2")
        ).alias("sim_e6"),
    )
    return scored.filter(F.col("sim_e6") >= threshold_e6)


def embedding_neardup_base_pairs(
    emb: DataFrame, threshold_e6: int = NEARDUP_THRESHOLD_E6
) -> DataFrame:
    """``embedding_neardup_pairs``'s scoring pass restricted to the
    ORIGINAL corpus (no id-shifted copy): label-blocked a < b pairs with
    integer cosine ≥ threshold. Returns (a_id, b_id) distinct, a < b
    strict.

    This exists for CONNECTIVITY consumers (r17, guide §2.2 "shuffle
    fewer bytes"): on the demo union corpus (originals ∪ id-shifted
    copies with identical vectors), every cross/copy pair's similarity
    equals a base pair's — the full generator therefore scores each
    base similarity ~4× (orig–orig, orig–copy both orders, copy–copy),
    and each array dot product is the dominant per-pair cost. A
    consumer that only needs the union graph's CONNECTED COMPONENTS can
    instead take these base pairs plus the always-true (i, i + shift)
    glue edges: every omitted edge (i, j+shift) / (i+shift, j+shift)
    with sim(i,j) ≥ t connects nodes already connected via i—j plus the
    glue, so the components — and any min-member cluster labeling — are
    identical. ``embedding_neardup_pairs`` itself (the declared pair
    OUTPUT) is unchanged.
    """
    v = _quantized(emb)
    a = v.select(
        F.col("vec_id").alias("a_id"),
        F.col("label"),
        F.col("iv").alias("a_iv"),
        F.col("n2").alias("a_n2"),
    )
    b = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("label"),
        F.col("iv").alias("b_iv"),
        F.col("n2").alias("b_n2"),
    )
    pairs = a.join(b, "label").filter(F.col("a_id") < F.col("b_id"))
    return (
        pairs.select(
            "a_id",
            "b_id",
            sim_e6(
                int_dot(F.col("a_iv"), F.col("b_iv")),
                F.col("a_n2"),
                F.col("b_n2"),
            ).alias("sim_e6"),
        )
        .filter(F.col("sim_e6") >= threshold_e6)
        .select("a_id", "b_id")
    )


def embedding_neardup_glue_edges(
    emb: DataFrame, threshold_e6: int = NEARDUP_THRESHOLD_E6
) -> DataFrame:
    """The (i, i + NEARDUP_COPY_SHIFT) glue edges that, together with
    ``embedding_neardup_base_pairs``, reproduce the full union-corpus
    pair graph's connectivity (proof above). Gated on the EXACT
    predicate the full generator applies to the copy pair —
    ``sim_e6(n2, n2, n2) >= threshold`` — so a zero-norm or null
    embedding (where the generator's NaN/null similarity drops the
    pair) omits its glue edge identically, instead of silently merging
    i with its copy (ADVICE r17: the unconditional form was latently
    divergent on degenerate vectors). For every n2 > 0 the predicate is
    exactly 1e6 ≥ threshold, i.e. always true — same edges as before on
    any corpus without degenerate vectors. Returns (a_id, b_id)
    distinct, a < b strict, disjoint from the base pairs (their b_id
    < shift)."""
    return (
        _quantized(emb)
        .select(
            F.col("vec_id").alias("a_id"),
            (F.col("vec_id") + NEARDUP_COPY_SHIFT).alias("b_id"),
            sim_e6(F.col("n2"), F.col("n2"), F.col("n2")).alias("sim_e6"),
        )
        .filter(F.col("sim_e6") >= threshold_e6)
        .select("a_id", "b_id")
    )


def sim_e6_sep(dot: Column, na2: Column, nb2: Column) -> Column:
    """Cosine in micro-units with SEPARATE norm divisions:
    round(dot/sqrt(na2)/sqrt(nb2)·1e6). Same value as ``sim_e6`` but
    never forms na2*nb2 — required when one side is a milli-unit
    centroid whose squared norm pushes the product past 2^63. Every op
    is IEEE-correctly-rounded on exactly-representable integers, and
    both engines evaluate the identical expression tree, so the bits
    match."""
    return F.round(
        dot.cast("double")
        / F.sqrt(na2.cast("double"))
        / F.sqrt(nb2.cast("double"))
        * 1e6,
        0,
    ).cast("long")


def kmeans_train(emb: DataFrame, n_cells: int = N_CELLS, iters: int = 3) -> DataFrame:
    """Exact-integer spherical k-means — the IVF coarse-quantizer TRAINER
    (``ivf_topk``'s docstring defers training here). Lloyd's algorithm
    with every step engine-exact:

    - init: the ``n_cells`` lowest vec_ids (deterministic seed),
      centroids in milli-units (iv × 1000);
    - assign: nearest centroid by cosine (ties → min cent_id) — cosine
      is scale-invariant, so milli-unit centroids need no rescaling;
    - update: per-component fixed-point mean ``(1000·sum) DIV count`` —
      exact integer arithmetic, truncation-division semantics identical
      in Spark (DIV) and DuckDB (//). Cells that lose all members drop
      (both engines: groupBy emits no row).

    A fixed ``iters`` rounds (k-means convergence detection is a
    fixpoint count like connected_components; fixed rounds keep the
    oracle expressible as an unrolled CTE chain). Per round: one
    broadcast of the k×d codebook (driver-tiny at any corpus size), one
    corpus scan for assignment, one groupBy on (cent_id, dim) — k·d
    groups. The corpus never shuffles on anything wider than the
    exploded component rows; at 100 TB the dominant cost is the d×
    component explosion, traded for staying in exact integers (a
    Pandas-UDF matmul variant would cut constants for d ≥ 1k).

    Returns long-format centroids: (cent_id, dim, c_mil, n_members).
    """
    from tepsonic_database_sync_spark.functions.lifecycle import (
        free_local_checkpoint,
    )

    v = _quantized(emb)
    cents = v.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"),
        F.transform(F.col("iv"), lambda x: x * 1000).alias("c_mil"),
        F.lit(1).cast("long").alias("n_members"),
    )
    for _ in range(iters):
        prev_cents = cents
        c = cents.withColumn("c_n2", int_dot(F.col("c_mil"), F.col("c_mil")))
        scored = v.join(F.broadcast(c)).select(
            "vec_id",
            "iv",
            "cent_id",
            sim_e6_sep(
                int_dot(F.col("iv"), F.col("c_mil")), F.col("n2"), F.col("c_n2")
            ).alias("sim"),
        )
        # argmax centroid as ONE map-side-combined aggregation (r17 —
        # the semdedup assignment idiom): max over struct(sim,
        # -cent_id) == row_number ORDER BY sim DESC, cent_id; the k
        # scored rows per vector collapse map-side, so the exchange
        # moves one row per vector instead of k (the pre-r17 window
        # form shuffled and sorted the full N·k scored frame)
        assign = (
            scored.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("sim"),
                        (-F.col("cent_id")).alias("neg_c"),
                        F.col("cent_id"),
                        F.col("iv"),
                    )
                ).alias("m")
            )
            .select(
                "vec_id",
                F.col("m.iv").alias("iv"),
                F.col("m.cent_id").alias("cent_id"),
            )
        )
        comps = assign.select("cent_id", F.posexplode("iv").alias("dim", "val"))
        newc = (
            comps.groupBy("cent_id", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .select("cent_id", "dim", F.expr("(1000 * s) DIV n").alias("cv"), "n")
        )
        # rebuild the centroid arrays; k×d rows — checkpoint keeps the
        # per-iteration plan shallow and leaves no cache residue
        cents = (
            newc.groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"],
                ).alias("c_mil"),
                F.first("n").cast("long").alias("n_members"),
            )
            .localCheckpoint(eager=True)
        )
        # the previous round's centroid checkpoint is superseded once
        # the new one materializes (r17, functions/lifecycle.py; round
        # 0's seed frame is a plain plan — no-op there)
        free_local_checkpoint(prev_cents)
    return cents.select(
        "cent_id", "n_members", F.posexplode("c_mil").alias("dim", "c_mil")
    ).select(
        F.col("cent_id").cast("long").alias("cent_id"),
        F.col("dim").cast("long").alias("dim"),
        F.col("c_mil").cast("long").alias("c_mil"),
        "n_members",
    )


def codebook_from_kmeans(trained: DataFrame) -> DataFrame:
    """Long-format trained centroids (cent_id, dim, c_mil, n_members) →
    the codebook shape the probing path consumes: (cent_id, c_iv, c_n2)
    with milli-unit component arrays."""
    arr = trained.groupBy("cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c_mil"))),
            lambda s: s["c_mil"],
        ).alias("c_iv")
    )
    return arr.withColumn("c_n2", int_dot(F.col("c_iv"), F.col("c_iv")))


def ivf_topk_trained(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    iters: int = 3,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k probing a TRAINED coarse quantizer — ``kmeans_train``
    feeding ``ivf_topk``'s query plan: train (or accept) a codebook,
    invert the corpus under it, probe ``n_probe`` nearest cells per
    query. Same output shape as ``brute_force_topk``/``ivf_topk``.
    Trained centroids track the data distribution, so inverted cells
    are more BALANCED than the seed-vector quantizer's (measured on the
    test corpus: max/mean occupancy 1.25 vs 1.38) — at scale that is
    tail-latency and skew headroom; recall at equal probe budget is
    comparable (both paths are asserted ≥ 0.7 in tests).

    Cell similarity uses ``sim_e6_sep`` (milli-unit centroid norms push
    ``na2*nb2`` past 2^63); candidate scoring against real corpus
    vectors keeps the standard ``sim_e6``.
    """
    v = _quantized(emb)
    if codebook is None:
        codebook = codebook_from_kmeans(kmeans_train(emb, n_cells, iters))
    codebook = codebook.localCheckpoint(eager=True)  # train once, probe twice
    return _probe_and_rank(v, codebook, n_queries, k, n_probe, sim_fn=sim_e6_sep)


PQ_DIM = 64  # the embeddings table's vector dimension
PQ_M = 8  # subspaces (dsub = 8)
PQ_K = 16  # codewords per subspace


def _int_l2_milli(siv: Column, c: Column) -> Column:
    """Exact integer squared L2 between a milli-quantized subvector
    (scaled ×1000 on the fly) and a milli-unit codeword. Components stay
    ≪ 2^63: (4e6)² × dsub ≈ 6e13."""
    return F.aggregate(
        F.zip_with(
            siv, c, lambda x, cc: (x * 1000 - cc) * (x * 1000 - cc)
        ),
        F.lit(0).cast("long"),
        lambda acc, y: acc + y,
    )


PQ_SHORTLIST = 50  # ADC candidates per query before the exact re-rank


def pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = PQ_DIM,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011) — the
    COMPRESSED-domain tier of the ANN ladder (brute force = exact
    recall, LSH/IVF = candidate pruning, PQ = distance computation
    without the vectors): split each vector into ``m_sub`` subspaces,
    train a ``k_codes``-word codebook per subspace (ONE exact-integer
    Lloyd round from the deterministic low-id seeds — same fixed-point
    arithmetic as ``kmeans_train``), encode the corpus as m_sub byte
    codes, and answer queries by Asymmetric Distance Computation: a
    per-query (m_sub × k_codes) table of exact integer squared-L2
    distances to the codewords, summed via code lookups.

    Everything is engine-exact integer math, so the DuckDB oracle
    replays training, encoding, and ADC bit-for-bit. Subspace is a DATA
    dimension (one long-format (vec_id, m, subvector) frame), so one
    Lloyd chain trains ALL subspaces at once — no per-subspace plan
    unrolling.

    Scale shape: the codebook is m_sub·k_codes·(dim/m_sub) integers —
    driver-tiny, broadcast everywhere; encoding is one broadcast join +
    per-(vec, m) argmin; the corpus's ADC representation is m_sub SMALL
    ints per vector (16 bytes here vs 64+ for the raw vector — the
    memory-bandwidth win that makes billion-scale ANN fit in RAM). ADC
    scans all codes per query here; the production composition gates it
    behind IVF inverted lists (``ivf_topk``'s cells) so each query
    touches n_probe cells' codes only.

    The final stage is the standard production composition: the ADC
    scan keeps a ``shortlist`` of candidates per query (compressed-
    domain, cheap), then EXACT integer squared-L2 re-ranks the
    shortlist to top-k — ADC alone on near-uniform vectors recalls
    ~0.36@10 here, the re-ranked form ~0.8+ (measured; asserted in
    tests). Set ``shortlist=k`` for the pure-ADC ranking.

    Returns (q_id, rank, neighbor_id, l2_d2) — k rows per query, ranked
    by ascending exact squared L2 over the shortlist, ties on id.
    """
    v = _quantized(emb)
    sub, cents, codes = _pq_model(v, m_sub, k_codes, dim)
    return _pq_adc_topk(
        v, sub, cents, codes, n_queries=n_queries, k=k, shortlist=shortlist
    )


def _pq_model(v: DataFrame, m_sub: int, k_codes: int, dim: int):
    """Train the per-subspace codebooks (seed init + one exact Lloyd
    round) and encode the corpus. Returns (sub, cents, codes):
    the long-format (vec_id, m, subvector) frame, the checkpointed
    codebook, and the (vec_id, m, code) encoding."""
    dsub = dim // m_sub
    sub = v.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("long").alias("m"),
                        F.slice(F.col("iv"), m * dsub + 1, dsub).alias("siv"),
                    )
                    for m in range(m_sub)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.siv")

    cents = sub.filter(F.col("vec_id") < k_codes).select(
        "m",
        F.col("vec_id").alias("cent_id"),
        F.transform(F.col("siv"), lambda x: x * 1000).alias("c"),
    )
    # one Lloyd round: argmin-L2 assignment, fixed-point component means
    scored = sub.join(F.broadcast(cents), "m").withColumn(
        "d2", _int_l2_milli(F.col("siv"), F.col("c"))
    )
    # argmin sub-centroid as a map-side-combined min(struct) — identical
    # to row_number ORDER BY d2, cent_id == 1 (r17: one row per
    # (vec, m) crosses the exchange instead of k_codes)
    assign = (
        scored.groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(F.col("d2"), F.col("cent_id"), F.col("siv"))
            ).alias("a")
        )
        .select(
            "vec_id",
            "m",
            F.col("a.siv").alias("siv"),
            F.col("a.cent_id").alias("cent_id"),
        )
    )
    comps = assign.select("m", "cent_id", F.posexplode("siv").alias("dim", "val"))
    cents = (
        comps.groupBy("m", "cent_id", "dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .select("m", "cent_id", "dim", F.expr("(1000 * s) DIV n").alias("cv"))
        .groupBy("m", "cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda st: st["cv"],
            ).alias("c")
        )
        .localCheckpoint(eager=True)  # train once: encode + query tables reuse
    )

    enc_scored = sub.join(F.broadcast(cents), "m").withColumn(
        "d2", _int_l2_milli(F.col("siv"), F.col("c"))
    )
    # same argmin-as-aggregate conversion as the training assignment
    codes = (
        enc_scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d2"), F.col("cent_id"))).alias("a"))
        .select("vec_id", "m", F.col("a.cent_id").alias("code"))
    )
    return sub, cents, codes


def _pq_adc_topk(
    v: DataFrame,
    sub: DataFrame,
    cents: DataFrame,
    codes: DataFrame,
    n_queries: int,
    k: int,
    shortlist: int,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ADC scan + exact shortlist re-rank over a PQ model. ``candidates``
    optionally restricts the scan to allowed (q_id, vec_id) pairs — the
    IVF∘PQ composition passes the probed inverted lists here; None scans
    every code (pure PQ)."""
    qtab = (
        sub.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cents), "m")
        .select(
            F.col("vec_id").alias("q_id"),
            "m",
            "cent_id",
            _int_l2_milli(F.col("siv"), F.col("c")).alias("qd2"),
        )
    )
    if candidates is None:
        scan = codes.join(
            F.broadcast(qtab),
            (codes.m == qtab.m) & (codes.code == qtab.cent_id),
        ).filter(F.col("vec_id") != F.col("q_id"))
    else:
        cand = codes.join(candidates, "vec_id")
        t = qtab.withColumnRenamed("q_id", "__tq")
        scan = cand.join(
            F.broadcast(t),
            (cand.m == t.m)
            & (cand.code == t.cent_id)
            & (cand.q_id == t.__tq),
        ).filter(F.col("vec_id") != F.col("q_id"))
    adc = scan.groupBy("q_id", "vec_id").agg(
        F.sum("qd2").cast("long").alias("adc_d2")
    )
    w3 = Window.partitionBy("q_id").orderBy("adc_d2", "vec_id")
    short = (
        adc.withColumn("__arn", F.row_number().over(w3))
        .filter(F.col("__arn") <= shortlist)
        .select("q_id", "vec_id")
    )
    # exact re-rank of the shortlist: raw iv-unit integer squared L2
    qv = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("iv").alias("q_iv")
    )
    exact = (
        short.join(v.select("vec_id", "iv"), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("q_iv"), F.col("iv"), lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, y: acc + y,
            ).alias("l2_d2"),
        )
    )
    w4 = Window.partitionBy("q_id").orderBy("l2_d2", "vec_id")
    return (
        exact.withColumn("rank", F.row_number().over(w4).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            "rank",
            F.col("vec_id").cast("long").alias("neighbor_id"),
            "l2_d2",
        )
    )


def ivf_pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = PQ_DIM,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """The production ANN composition (the FAISS ``IVF..,PQ..`` index):
    IVF inverted lists pick WHICH vectors each query considers (n_probe
    probed cells — candidates stop scaling with the corpus), PQ decides
    HOW their distances are computed (8 codes/vector + per-query ADC
    tables — no raw vectors touched until the exact shortlist re-rank).
    Both halves are the already-oracled building blocks (`ivf_topk`'s
    seed-quantizer cells, `pq_topk`'s codebooks), so the composition's
    oracle is their CTE chains joined on the candidate set.

    At 100 TB: corpus shuffles once on cell; per query the ADC scan
    reads ~n_probe/n_cells of the CODES (bytes per vector), and only
    ``shortlist`` raw vectors per query are ever materialized. Same
    output shape as ``pq_topk``.
    """
    v = _quantized(emb)
    ivf_cents = _seed_codebook(v, n_cells)
    cells = _nearest_cells(v, ivf_cents, 1)
    probes = _query_probes(v, ivf_cents, n_queries, n_probe)
    candidates = cells.join(F.broadcast(probes), "cell").select(
        "q_id", "vec_id"
    )
    sub, cents, codes = _pq_model(v, m_sub, k_codes, dim)
    return _pq_adc_topk(
        v,
        sub,
        cents,
        codes,
        n_queries=n_queries,
        k=k,
        shortlist=shortlist,
        candidates=candidates,
    )


EMBOUT_TOPK = 5


def embed_outliers(emb: DataFrame, k: int = EMBOUT_TOPK) -> DataFrame:
    """Per-label embedding outliers — the label-QA sweep a training
    pipeline runs before trusting its annotations: quantize vectors to
    exact integers (the engine's ANN convention), compute each label's
    integer centroid, and surface the k vectors FARTHEST from their own
    centroid (squared L2, exact) — mislabeled or off-distribution
    examples concentrate there.

    Mechanics: vector sums are a posexplode + groupBy(label, pos) —
    a codegen'd generator and one map-side-combined aggregate, never a
    driver-side vector loop; centroids are truncating per-coordinate
    means; distances recombine through one (label, pos) equi-join and a
    per-vector rollup; the final top-k is a window over the per-label
    frame. All integer, oracle-replayable.

    Returns (label, vec_id, d2, out_rank), out_rank 1..k per label by
    (d2 desc, vec_id asc).
    """
    from pyspark.sql import Window

    v = _quantized(emb)
    coords = v.select(
        "label", "vec_id", F.posexplode("iv").alias("pos", "x")
    )
    cent = coords.groupBy("label", "pos").agg(
        F.expr("sum(x) div count(*)").cast("long").alias("c")
    )
    d2 = (
        coords.join(cent, ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            .cast("long")
            .alias("d2")
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("d2").desc(), F.col("vec_id").asc()
    )
    return (
        d2.withColumn("out_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("out_rank") <= k)
    )


SEMDEDUP_EPS_E6 = 990000


def semdedup(
    emb: DataFrame,
    n_cells: int = N_CELLS,
    iters: int = 2,
    eps_e6: int = SEMDEDUP_EPS_E6,
) -> DataFrame:
    """SemDeDup — semantic deduplication via cluster-blocked embedding
    cosine (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): k-means-cluster
    the embeddings, compare pairs ONLY within a cluster, and inside
    each near-duplicate relation keep the example with the LOWEST
    cosine similarity to its cluster centroid (the paper's keep rule —
    the retained point is the most "extreme" member, preserving
    coverage of the cluster boundary).

    Engine-exact composition of this module's pieces:

    - coarse partition: ``kmeans_train`` (integer Lloyd, ``iters``
      rounds — the coarse blocking needs no convergence) →
      ``codebook_from_kmeans`` → broadcast assignment by
      ``sim_e6_sep`` cosine, ties to the lower cent_id;
    - within-cluster pairs: equi-join on cent_id (the paper's whole
      point — cost is Σ|cluster|², never corpus²), pair cosine via the
      product-form ``sim_e6``;
    - removal rule, fully deterministic: x is a duplicate iff some
      same-cluster y with pair-sim ≥ ``eps_e6`` has (cent_sim(y),
      y_id) < (cent_sim(x), x_id) lexicographically — i.e. each
      near-dup group survives through its farthest-from-centroid
      member, exact ties through the lowest vec_id.

    100 TB shape: the codebook is driver-tiny and broadcast (k·d
    longs); the only corpus shuffle is the cent_id-keyed self-join.
    Cluster skew is the known failure mode — the paper caps cluster
    population; here AQE's skew split handles moderate imbalance, and
    oversized cells split into sub-cells via the shipped two-level
    escalation. For the paper's k∝N regime at large k, use
    ``semdedup_two_level`` (r12): same removal semantics blocked on a
    coarse→fine combined cell, assignment cost N·(n_coarse + n_fine)
    instead of this form's N·k — measured 4.0× faster at effective
    k = 1024 (SCALE.md r12).

    Returns (vec_id, cent_id, cent_sim_e6, is_dup∈{0,1}) for every
    input vector.
    """
    v = _quantized(emb)
    book = codebook_from_kmeans(
        kmeans_train(emb, n_cells=n_cells, iters=iters)
    ).select(
        "cent_id",
        F.col("c_iv").alias("c_mil"),
        F.col("c_n2").alias("c_n2"),
    )
    scored = v.join(F.broadcast(book)).select(
        "vec_id",
        "iv",
        "n2",
        "cent_id",
        sim_e6_sep(
            int_dot(F.col("iv"), F.col("c_mil")), F.col("n2"), F.col("c_n2")
        ).alias("cent_sim_e6"),
    )
    # argmax centroid per vector as ONE map-side-combined aggregation
    # (max over struct(sim, -cent_id) == row_number ORDER BY sim DESC,
    # cent_id — the k candidate rows per vector collapse map-side, so
    # the shuffle moves one row per vector, not k), then a LAZY local
    # checkpoint: the removal step consumes `assign` three times (pair
    # side a, pair side b, final re-attach) and without the cut Spark
    # would re-scan and re-assign the corpus three times.
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cent_sim_e6"),
                    (-F.col("cent_id")).alias("neg_cent"),
                    F.col("cent_id"),
                    F.col("iv"),
                    F.col("n2"),
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.cent_id").alias("cent_id"),
            F.col("m.iv").alias("iv"),
            F.col("m.n2").alias("n2"),
            F.col("m.cent_sim_e6").alias("cent_sim_e6"),
        )
        .localCheckpoint(eager=False)
    )
    a = assign.select(
        F.col("vec_id").alias("a_id"),
        "cent_id",
        F.col("iv").alias("a_iv"),
        F.col("n2").alias("a_n2"),
        F.col("cent_sim_e6").alias("a_cs"),
    )
    b = assign.select(
        F.col("vec_id").alias("b_id"),
        "cent_id",
        F.col("iv").alias("b_iv"),
        F.col("n2").alias("b_n2"),
        F.col("cent_sim_e6").alias("b_cs"),
    )
    removed = (
        a.join(b, "cent_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(
            (F.col("b_cs") < F.col("a_cs"))
            | ((F.col("b_cs") == F.col("a_cs")) & (F.col("b_id") < F.col("a_id")))
        )
        .filter(
            sim_e6(
                int_dot(F.col("a_iv"), F.col("b_iv")),
                F.col("a_n2"),
                F.col("b_n2"),
            )
            >= eps_e6
        )
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1).cast("long"))
    )
    return assign.join(removed, "vec_id", "left").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cent_id").cast("long").alias("cent_id"),
        F.col("cent_sim_e6").cast("long").alias("cent_sim_e6"),
        F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("is_dup"),
    )


def semdedup_two_level(
    emb: DataFrame,
    n_coarse: int = 4,
    n_fine: int = 4,
    iters: int = 2,
    eps_e6: int = SEMDEDUP_EPS_E6,
) -> DataFrame:
    """``semdedup`` behind a TWO-LEVEL coarse→fine quantizer — the
    k ≳ 10⁴ escalation the single-level docstring documents (r12,
    VERDICT r11 item 7): SemDeDup's paper regime wants cluster count
    proportional to the corpus (constant cell population ⇒ Σ|cluster|²
    linear), but single-level assignment compares every vector against
    ALL k centroids — N·k work and a k·d broadcast that both grow with
    the corpus. The IVF answer (the ``ivf_topk`` mechanic applied to
    training instead of probing): factor k = n_coarse · n_fine,

    - level 1: ``kmeans_train`` on ``n_coarse`` cells, argmax cosine
      assignment (ties → lower cent_id) — N·n_coarse compares;
    - level 2: per-coarse-cell spherical k-means, ALL cells trained in
      the same ``iters`` grouped-Lloyd rounds (one job per round, not
      one per cell): seeds = each cell's ``n_fine`` lowest vec_ids
      (fine_id = seed vec_id, the ``kmeans_train`` convention),
      assignment is a coarse_id equi-join with fan-out ≤ n_fine, the
      update one map-side-combined groupBy on (coarse, fine, dim) —
      N·n_fine compares per round;
    - dedup: the single-level removal rule verbatim, blocked on the
      COMBINED (coarse_id, fine_id) cell.

    Assignment work is N·(n_coarse + n_fine) instead of N·k — at
    k = 2¹⁴ with a balanced split that is 256× less. Broadcast
    discipline (the r12 audit class): only the coarse book is
    hint-broadcast (n_coarse·d longs — genuinely driver-tiny, and the
    keyless cosine attach must not compile to a CartesianProduct);
    the FULL fine codebook is k·d and grows with the corpus under the
    k∝N rule, so its attaches are coarse_id-keyed equi-joins left
    UNHINTED — AQE broadcasts while k·d is small and shuffles the
    checkpointed one-row-per-vector frame when it is not, exactly the
    containment_pairs precedent. With n_coarse = 1 this degenerates
    EXACTLY to ``semdedup(n_cells = n_fine)`` on contiguous-id
    corpora (one coarse cell, seeds = the globally lowest vec_ids,
    grouped Lloyd = global Lloyd) — the equivalence law the tests pin.

    Recall trade vs one flat k-means, explicit: a near-dup pair split
    across COARSE cells is never compared (single-level splits pairs
    across its k cells the same way — the two partitions differ, not
    the failure mode; the paper accepts both as the blocking trade).

    Returns (vec_id, coarse_id, fine_id, cent_sim_e6, is_dup) —
    cent_sim_e6 is cosine to the FINE centroid (the keep rule's axis).
    """
    v = _quantized(emb)
    coarse_book = codebook_from_kmeans(
        kmeans_train(emb, n_cells=n_coarse, iters=iters)
    )
    cscored = v.join(F.broadcast(coarse_book)).select(
        "vec_id",
        "iv",
        "n2",
        F.col("cent_id").alias("coarse_id"),
        sim_e6_sep(
            int_dot(F.col("iv"), F.col("c_iv")), F.col("n2"), F.col("c_n2")
        ).alias("csim"),
    )
    # coarse argmax — map-side combine, one row per vector survives;
    # LAZY checkpoint: this frame feeds every fine-Lloyd round, the
    # final assignment, and both pair sides
    ca = (
        cscored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("coarse_id")).alias("neg_c"),
                    F.col("coarse_id"),
                    F.col("iv"),
                    F.col("n2"),
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.coarse_id").alias("coarse_id"),
            F.col("m.iv").alias("iv"),
            F.col("m.n2").alias("n2"),
        )
        .localCheckpoint(eager=False)
    )
    wseed = Window.partitionBy("coarse_id").orderBy("vec_id")
    fc = (
        ca.withColumn("__rn", F.row_number().over(wseed))
        .filter(F.col("__rn") <= n_fine)
        .select(
            "coarse_id",
            F.col("vec_id").alias("fine_id"),
            F.transform(F.col("iv"), lambda x: x * 1000).alias("f_mil"),
        )
    )
    prev_fc = fc
    for _ in range(iters):
        c = fc.withColumn("f_n2", int_dot(F.col("f_mil"), F.col("f_mil")))
        scored = ca.join(c, "coarse_id").select(
            "vec_id",
            "coarse_id",
            "iv",
            "fine_id",
            sim_e6_sep(
                int_dot(F.col("iv"), F.col("f_mil")), F.col("n2"), F.col("f_n2")
            ).alias("sim"),
        )
        assign = (
            scored.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("sim"),
                        (-F.col("fine_id")).alias("neg_f"),
                        F.col("fine_id"),
                        F.col("coarse_id"),
                        F.col("iv"),
                    )
                ).alias("m")
            )
            .select(
                F.col("m.coarse_id").alias("coarse_id"),
                F.col("m.fine_id").alias("fine_id"),
                F.col("m.iv").alias("iv"),
            )
        )
        comps = assign.select(
            "coarse_id", "fine_id", F.posexplode("iv").alias("dim", "val")
        )
        fc = (
            comps.groupBy("coarse_id", "fine_id", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .select(
                "coarse_id",
                "fine_id",
                "dim",
                F.expr("(1000 * s) DIV n").alias("cv"),
            )
            .groupBy("coarse_id", "fine_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"],
                ).alias("f_mil")
            )
            .localCheckpoint(eager=True)
        )
        # free the superseded previous fine-codebook checkpoint (r17;
        # the seed frame entering round 0 is a plain plan — no-op)
        from tepsonic_database_sync_spark.functions.lifecycle import (
            free_local_checkpoint,
        )

        free_local_checkpoint(prev_fc)
        prev_fc = fc
    fcn = fc.withColumn("f_n2", int_dot(F.col("f_mil"), F.col("f_mil")))
    fscored = ca.join(fcn, "coarse_id").select(
        "vec_id",
        "coarse_id",
        "iv",
        "n2",
        "fine_id",
        sim_e6_sep(
            int_dot(F.col("iv"), F.col("f_mil")), F.col("n2"), F.col("f_n2")
        ).alias("sim"),
    )
    fassign = (
        fscored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim"),
                    (-F.col("fine_id")).alias("neg_f"),
                    F.col("fine_id"),
                    F.col("coarse_id"),
                    F.col("iv"),
                    F.col("n2"),
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.coarse_id").alias("coarse_id"),
            F.col("m.fine_id").alias("fine_id"),
            F.col("m.iv").alias("iv"),
            F.col("m.n2").alias("n2"),
            F.col("m.sim").alias("cent_sim_e6"),
        )
        .localCheckpoint(eager=False)
    )
    a = fassign.select(
        F.col("vec_id").alias("a_id"),
        "coarse_id",
        "fine_id",
        F.col("iv").alias("a_iv"),
        F.col("n2").alias("a_n2"),
        F.col("cent_sim_e6").alias("a_cs"),
    )
    b = fassign.select(
        F.col("vec_id").alias("b_id"),
        "coarse_id",
        "fine_id",
        F.col("iv").alias("b_iv"),
        F.col("n2").alias("b_n2"),
        F.col("cent_sim_e6").alias("b_cs"),
    )
    removed = (
        a.join(b, ["coarse_id", "fine_id"])
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(
            (F.col("b_cs") < F.col("a_cs"))
            | ((F.col("b_cs") == F.col("a_cs")) & (F.col("b_id") < F.col("a_id")))
        )
        .filter(
            sim_e6(
                int_dot(F.col("a_iv"), F.col("b_iv")),
                F.col("a_n2"),
                F.col("b_n2"),
            )
            >= eps_e6
        )
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1).cast("long"))
    )
    return fassign.join(removed, "vec_id", "left").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("coarse_id").cast("long").alias("coarse_id"),
        F.col("fine_id").cast("long").alias("fine_id"),
        F.col("cent_sim_e6").cast("long").alias("cent_sim_e6"),
        F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("is_dup"),
    )


MMR_QUERIES = 8
MMR_CANDIDATES = 20
MMR_K = 5
MMR_LAMBDA_MILLI = 700


def _mmr_candidates(emb: DataFrame, n_queries: int, n_cand: int) -> DataFrame:
    """``mmr_rerank``'s candidate tier, UNcheckpointed (split out so the
    plan-quality tests can pin its physical shape — the caller
    checkpoints): exact-cosine top-``n_cand`` per query via the one
    sanctioned broadcast-nested-loop corpus scan. Returns
    (q_id, c_id, iv, n2, rel_e6)."""
    v = _quantized(emb)
    q = v.select(
        F.col("vec_id").alias("q_id"),
        F.col("iv").alias("q_iv"),
        F.col("n2").alias("q_n2"),
    ).filter(F.col("q_id") < n_queries)
    scored = v.join(F.broadcast(q), v.vec_id != q.q_id).select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        "iv",
        "n2",
        sim_e6(
            int_dot(F.col("iv"), F.col("q_iv")), F.col("n2"), F.col("q_n2")
        ).alias("rel_e6"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rel_e6").desc(), F.col("c_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_cand)
        .select("q_id", "c_id", "iv", "n2", "rel_e6")
    )


def _mmr_pairsims(cand: DataFrame) -> DataFrame:
    """Pairwise candidate-candidate cosines WITHIN a query — a q_id-keyed
    equi-join (≤ n_cand² rows per query, never corpus²). Returns
    (q_id, a_id, b_id, sim_e6), both directions."""
    a = cand.select(
        "q_id", F.col("c_id").alias("a_id"), F.col("iv").alias("a_iv"),
        F.col("n2").alias("a_n2"),
    )
    b = cand.select(
        "q_id", F.col("c_id").alias("b_id"), F.col("iv").alias("b_iv"),
        F.col("n2").alias("b_n2"),
    )
    return (
        a.join(b, "q_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "q_id",
            "a_id",
            "b_id",
            sim_e6(
                int_dot(F.col("a_iv"), F.col("b_iv")),
                F.col("a_n2"),
                F.col("b_n2"),
            ).alias("sim_e6"),
        )
    )


def mmr_rerank(
    emb: DataFrame,
    n_queries: int = MMR_QUERIES,
    n_cand: int = MMR_CANDIDATES,
    k: int = MMR_K,
    lambda_milli: int = MMR_LAMBDA_MILLI,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — the diversity-aware selection stage a RAG retrieval
    stack runs AFTER candidate generation (the missing piece next to
    ``rrf_fusion``'s list fusion and the ANN ladder's recall tiers):
    from each query's top-``n_cand`` exact-cosine candidates, greedily
    select ``k``, each pick maximizing

        mmr = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)

    in exact integer milli/micro units: ``mmr_score = lambda_milli ·
    rel_e6 − (1000−lambda_milli) · max_sim_e6`` (|score| ≤ 10⁹ — far
    inside int64), with ``max_sim_e6 = 0`` for the empty selection (so
    pick 1 is pure relevance) and ties broken to the lowest
    neighbor_id. Every similarity is the module's engine-exact
    ``sim_e6`` over quantized integer vectors, so the greedy trajectory
    is bit-reproducible in any engine.

    Shape, and why it scales: candidate generation is the exact-KNN
    tier (the ONE sanctioned BroadcastNestedLoopJoin —
    ``brute_force_topk``'s docstring; swap in ``lsh_topk``/``ivf_topk``
    candidates for the approximate tiers, the greedy is agnostic).
    Everything after is bounded by the per-query candidate budget:
    pairwise sims are a q_id-keyed equi-join producing ≤ n_cand² rows
    per query (computed ONCE, eagerly checkpointed — the greedy rounds
    re-read a tiny materialized frame, not the corpus scan), and each
    of the ``k`` rounds is one q_id-keyed join + one map-side-combined
    max(struct) argmax per query. Cost O(|Q|·(n_cand² + k·n_cand)) —
    independent of corpus size given candidates; at 100 TB the corpus
    term lives entirely in the candidate tier.

    Returns (q_id, step 1..k, neighbor_id, rel_e6, mmr_score); a query
    with fewer than k candidates emits what it has.
    """
    cand = _mmr_candidates(emb, n_queries, n_cand).localCheckpoint(eager=True)
    psim = _mmr_pairsims(cand).localCheckpoint(eager=True)
    rel = cand.select("q_id", "c_id", "rel_e6")
    mu = 1000 - lambda_milli
    remaining = rel
    selected = None
    picks = []
    for step in range(1, k + 1):
        if selected is None:
            g = remaining.withColumn(
                "mmr_score", (lambda_milli * F.col("rel_e6")).cast("long")
            )
        else:
            ms = (
                psim.join(
                    selected.select("q_id", F.col("c_id").alias("b_id")),
                    ["q_id", "b_id"],
                )
                .groupBy("q_id", F.col("a_id").alias("c_id"))
                .agg(F.max("sim_e6").alias("__ms"))
            )
            g = remaining.join(ms, ["q_id", "c_id"], "left").select(
                "q_id",
                "c_id",
                "rel_e6",
                (
                    lambda_milli * F.col("rel_e6")
                    - mu * F.coalesce(F.col("__ms"), F.lit(0))
                )
                .cast("long")
                .alias("mmr_score"),
            )
        pick = (
            g.groupBy("q_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("mmr_score"),
                        (-F.col("c_id")).alias("__neg"),
                        F.col("c_id"),
                        F.col("rel_e6"),
                    )
                ).alias("m")
            )
            .select(
                "q_id",
                F.lit(step).cast("long").alias("step"),
                F.col("m.c_id").alias("c_id"),
                F.col("m.rel_e6").alias("rel_e6"),
                F.col("m.mmr_score").alias("mmr_score"),
            )
            .localCheckpoint(eager=True)
        )
        picks.append(pick)
        sel_step = pick.select("q_id", "c_id")
        selected = sel_step if selected is None else selected.unionByName(sel_step)
        remaining = remaining.join(sel_step, ["q_id", "c_id"], "left_anti")
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("q_id").cast("long").alias("q_id"),
        "step",
        F.col("c_id").cast("long").alias("neighbor_id"),
        F.col("rel_e6").cast("long").alias("rel_e6"),
        "mmr_score",
    )
