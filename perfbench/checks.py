"""Output checks, run after the timed window.

- ``vendor_sync``: options, matches and the summary are compared with the
  registry's DuckDB oracles (``sync_pipeline`` and the ``matched`` CTE)
  on the same cycle directory; the state after each cycle is compared with
  the oracle options merged cycle by cycle (``merge_options`` semantics);
  upsert op counts and the summary are recomputed in DuckDB against the
  expected previous state.  Match recall/precision are scored against the
  generator's planted product of each vendor name.
- ``corpus_dedup``: the prepared corpus is compared with the registry's
  ``prepare_corpus`` oracle; keepers are recomputed from the component
  labels; admitted rows are recomputed from the index contents; dedup
  recall/precision are scored against the planted near-duplicate clusters.
  The trained codebook must cover the index vectors; every returned
  neighbour's similarity is recomputed exactly in numpy, and IVF
  recall/precision at 10 are scored against the exact cosine top-10.

A job whose output does not match is marked failed; nothing is skipped.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import duckdb
import numpy as np
import pandas as pd

from tepsonic_database_sync_spark import oracle, registry

OPTION_KEYS = ["product_id", "grade", "color", "variant"]


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive frame equality: same columns, same rows in any order."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols or len(got) != len(want):
        return False
    g = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    w = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    return g.astype(str).equals(w.astype(str))


def _fail(job, msg: str) -> None:
    job.ok = False
    job.error = job.error or f"check: {msg}"


def _views(con, d: str, tables) -> None:
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")


_MERGE_SQL = """
SELECT product_id, grade, color, variant,
       CAST(sum(stock) AS BIGINT) AS stock,
       CAST(min(price) AS BIGINT) AS price,
       CAST(min(price) AS BIGINT) AS discount,
       array_to_string(list_sort(flatten(list(str_split(uids, '|')))), '|') AS uids
FROM (SELECT * FROM prev_state UNION ALL SELECT * FROM new_opts)
GROUP BY product_id, grade, color, variant
"""

_SUMMARY_SQL = oracle.prefix("matched") + """,
gi AS (
  SELECT trim(coalesce(manufacturer, '') || ' ' || coalesce(model, '')) AS gname,
         coalesce(nullif(grade, ''), 'Unknown') AS grade_c, status
  FROM vendor_items
),
g AS (
  SELECT gname, grade_c, count(*) AS n_items,
         count(*) FILTER (WHERE status = 'Available') AS n_avail
  FROM gi GROUP BY 1, 2
),
k AS (
  SELECT g.*, m.product_id IS NOT NULL AS is_valid,
         m.product_id IS NOT NULL AND g.n_avail > 0 AS written,
         EXISTS (SELECT 1 FROM prev_keys p
                 WHERE p.product_id = m.product_id AND p.grade = g.grade_c) AS is_update
  FROM g LEFT JOIN matched m USING (gname)
)
SELECT CAST(sum(n_items) AS BIGINT) AS "totalFetched",
       CAST(count(*) FILTER (WHERE is_valid) AS BIGINT) AS "validProducts",
       CAST(count(*) FILTER (WHERE NOT is_valid) AS BIGINT) AS "skippedProducts",
       CAST(count(*) FILTER (WHERE written AND NOT is_update) AS BIGINT) AS "newVendorProducts",
       CAST(count(*) FILTER (WHERE written AND is_update) AS BIGINT) AS "updatedVendorProducts",
       CAST(coalesce(sum(n_avail) FILTER (WHERE written), 0) AS BIGINT) AS "totalStockProcessed",
       CAST(count(*) FILTER (WHERE written) AS BIGINT) AS "totalOperations"
FROM k
"""


def check_vendor(w) -> dict:
    sql = registry.oracle_sql()
    con = duckdb.connect()
    expected_state: dict[str, pd.DataFrame] = {}
    tp = in_catalog = n_matched = 0
    for job in w.jobs:
        if not job.ok:
            continue
        d = job.out["dir"]
        vendor = job.out["state_root"]
        _views(con, d, ("lineitem", "part"))
        opts = con.execute(sql["sync_pipeline"]).df()
        prev = expected_state.get(vendor)
        if job.out["first"] != (prev is None):
            _fail(job, "state lifecycle out of order")
            continue
        if prev is None:
            prev = opts.iloc[0:0]
        con.register("prev_state", prev)
        con.register("new_opts", opts)
        state = opts if job.out["first"] else con.execute(_MERGE_SQL).df()
        expected_state[vendor] = state
        got_state = con.execute(
            f"SELECT * FROM read_parquet('{job.out['state_path']}/*.parquet')"
        ).df()
        if not _same(got_state, state):
            _fail(job, "state differs from the merged oracle options")
        # upsert op counts against the previous expected state
        pk = prev[OPTION_KEYS].drop_duplicates()
        nk = opts[OPTION_KEYS].drop_duplicates()
        both = len(pk.merge(nk, on=OPTION_KEYS))
        want_ops = {"insert": len(nk) - both, "update": both, "keep": len(pk) - both}
        got_ops = {k: job.out["ops"].get(k, 0) for k in want_ops}
        if got_ops != want_ops:
            _fail(job, f"upsert ops {got_ops} != {want_ops}")
        con.register("prev_keys", prev[["product_id", "grade"]].drop_duplicates())
        want_sum = con.execute(_SUMMARY_SQL).df().iloc[0].to_dict()
        got_sum = {k: job.out["summary"][k] for k in want_sum}
        if {k: int(v) for k, v in want_sum.items()} != {k: int(v) for k, v in got_sum.items()}:
            _fail(job, f"summary {got_sum} != {want_sum}")
        matched = job.out["matched"]
        want_m = con.execute(oracle.prefix("matched") + "\nSELECT * FROM matched").df()
        if dict(zip(want_m.gname, want_m.product_id)) != matched:
            _fail(job, "match table differs from the oracle cascade")
        gnames = con.execute(oracle.prefix("gnames") + "\nSELECT gname FROM gnames").df().gname
        for gname in gnames:
            key = w.inputs.planted.get(gname)
            got = matched.get(gname)
            n_matched += got is not None
            if key is not None and key % 5 != 0:  # the catalog has the product
                in_catalog += 1
                tp += got == f"admin-{key}"
    return {
        "quality_recall": tp / in_catalog if in_catalog else 0.0,
        "quality_precision": tp / n_matched if n_matched else 0.0,
    }


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def check_corpus(w) -> dict:
    sql = registry.oracle_sql()["prepare_corpus"]
    con = duckdb.connect()
    index_fps: dict[str, set[str]] = defaultdict(set)
    true_pairs = co_pairs = hit_pairs = 0
    ann = Counter()  # IVF neighbours found in / returned / expected of the exact top-10
    for job in w.jobs:
        if not job.ok:
            continue
        _views(con, job.out["dir"], ("documents",))
        want = con.execute(sql).df()
        prepared = pd.DataFrame(job.out["prepared"], columns=list(want.columns))
        if not _same(prepared, want):
            _fail(job, "prepare_corpus differs from its oracle")
            continue
        quality = dict(zip(prepared.doc_id, prepared.quality))
        fp = dict(zip(prepared.doc_id, prepared.fp_md5))
        comp = {n: c for n, c in job.out["clusters"].items() if n in quality}
        if set(comp) != set(quality):
            _fail(job, "component labels do not cover the fuzzy-stage input")
            continue
        members = defaultdict(list)
        for n, c in comp.items():
            members[c].append(n)
        want_keep = set()
        for c, ns in members.items():
            k = min(ns, key=lambda n: (-quality[n], n))
            want_keep.add((c, k, int(quality[k]), len(ns)))
        got_keep = {
            (r["cluster_id"], r["keeper_doc_id"], int(r["quality"]), r["n_members"])
            for r in job.out["keepers"]
        }
        if got_keep != want_keep:
            _fail(job, "fuzzy keepers differ from the recomputed argmax")
        seen = index_fps[job.out["store"]]
        batch: dict[str, int] = {}
        for _c, k, _q, _n in want_keep:
            batch[fp[k]] = min(k, batch.get(fp[k], k))
        want_adm = {(d, f) for f, d in batch.items() if f not in seen}
        if set(job.out["admitted"]) != want_adm:
            _fail(job, "incremental_dedup admitted set differs")
        seen.update(f for _, f in want_adm)
        planted = {n: w.inputs.cluster_of[n] for n in comp if n in w.inputs.cluster_of}
        true_pairs += sum(_pairs(v) for v in Counter(planted.values()).values())
        co_pairs += sum(_pairs(len(v)) for v in members.values())
        hit_pairs += sum(
            _pairs(v) for v in Counter((planted[n], comp[n]) for n in planted).values()
        )
        _check_index(w, job, ann)
    return {
        "quality_recall": hit_pairs / true_pairs if true_pairs else 0.0,
        "quality_precision": hit_pairs / co_pairs if co_pairs else 0.0,
        "recall_at_10": ann["hits"] / ann["expected"] if ann["expected"] else 0.0,
        "precision_at_10": ann["hits"] / ann["returned"] if ann["returned"] else 0.0,
    }


def _half_up(x: np.ndarray) -> np.ndarray:
    """Spark ``round(x, 0)`` (HALF_UP, away from zero) on doubles."""
    a = np.abs(x)
    f = np.floor(a)
    return (np.sign(x) * (f + (a - f >= 0.5))).astype(np.int64)


def exact_sims(vecs: np.ndarray, n_queries: int) -> np.ndarray:
    """``sim_e6`` of every query against every vector, bit-identical to the
    engine: integer-quantised vectors, exact integer dots, IEEE sqrt/div."""
    iv = _half_up(vecs.astype(np.float64) * 1000.0)
    n2 = (iv * iv).sum(axis=1)
    dots = iv[:n_queries] @ iv.T
    den = np.sqrt((n2[:n_queries, None] * n2[None, :]).astype(np.float64))
    return _half_up(dots.astype(np.float64) / den * 1e6)


def _check_index(w, job, ann: Counter) -> None:
    """The vector step of a shard: the codebook a first shard trained
    covers the index vectors; a later shard's IVF rows are a ranked,
    exactly-scored top-k, scored against the exact top-k into ``ann``."""
    k = w.k
    if job.kind == "cold":
        if job.out["dims"] != w.spec.vectors.dim or sum(job.out["members"].values()) != w.spec.vectors.corpus:
            _fail(job, "trained codebook does not cover the index vectors")
        return
    vecs = w.inputs.batch_vectors[job.out["dir"]]
    q = w.inputs.queries
    sims = exact_sims(vecs, q)
    rows = defaultdict(list)
    for q_id, rank, nb, sim in job.out["result"]:
        rows[q_id].append((rank, nb, sim))
    bad = set(rows) != set(range(q))
    for q_id in range(q):
        s = sims[q_id].copy()
        s[q_id] = -(10**12)  # a query is not its own neighbour (sims are within ±1e6)
        order = np.lexsort((np.arange(len(s)), -s))[:k]
        got = sorted(rows.get(q_id, []))
        ranks_ok = [r for r, _, _ in got] == list(range(1, len(got) + 1))
        sims_ok = all(nb != q_id and s[nb] == sim for _, nb, sim in got)
        keys = [(-sim, nb) for _, nb, sim in got]
        if len(got) != k or not ranks_ok or not sims_ok or keys != sorted(keys):
            bad = True
        found = {nb for _, nb, _ in got}
        ann["hits"] += len(found & set(order.tolist()))
        ann["returned"] += len(found)
        ann["expected"] += k
    if bad:
        _fail(job, "IVF rows are not a ranked, exactly-scored top-k")


CHECKS = {"vendor_sync": check_vendor, "corpus_dedup": check_corpus}
