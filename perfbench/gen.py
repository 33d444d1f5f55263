"""Seeded input generator for the two benchmark workloads.

Every input is written as parquet in the schemas ``io.load_table`` reads
(``lineitem``/``part``, ``documents`` + ``embeddings``), so the program sees
only these files.  The same seed gives byte-identical files: all randomness
comes from one ``numpy.random.Generator`` per input set, tables are built
from plain arrow arrays (no pandas metadata) and written with fixed writer
options.

Generator knobs are fixed per workload (``VENDOR``, ``CORPUS``)
rather than drawn from the seed: the seed changes the content, never the
size or the mix, so runs on different seeds measure the same amount of work.

The sizes are set by the run budget (a few jobs of a few seconds each in an
18 s window) and the vector noise by the recall it gives.  Every mix share
(churn per cycle, skew, duplicate, junk and contamination rates, cluster
counts) is an assumption, not a measurement: nothing here records real
vendor feeds, crawls or query traffic.  Each share is chosen so that the
code path named in its comment has work on every job; change them when a
measured mix is available.

Inputs are streamed: ``jobs()`` writes one job's input when the closed loop
asks for it (between jobs, outside the timed window) and never runs out, so
a faster program is never starved of inputs.  Each input set also keeps the
ground truth that ``checks.py`` scores against.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic parquet write: one row group, fixed compression."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


@dataclass
class Input:
    kind: str  # "cold": starts a state lifecycle from empty state; "warm"
    key: str
    rows: int  # input rows the job completes (vendor items, documents)
    dir: str
    group: int  # lifecycle: vendor or dataset number


# --------------------------------------------------------------------------
# vendor_sync: lineitem + part per sync cycle
# --------------------------------------------------------------------------

_ADJ = (
    "red blue green black white silver gold rose space midnight coral "
    "ocean forest desert arctic lunar solar rapid quiet smart ultra "
    "nano micro mega hyper prime royal urban alpine"
).split()
_NOUN = (
    "phone tablet watch laptop router camera speaker drone console "
    "monitor reader player scanner printer charger headset keyboard "
    "mouse stylus hub dock tracker beacon sensor"
).split()
_SUFFIX = ("pro", "max", "mini", "plus", "lite")


@dataclass(frozen=True)
class VendorSpec:
    # assumed mix (see the module docstring); the comment says what it exercises
    products: int = 2400  # distinct catalog names: match cascade groups, far above testdata's 64
    zipf_a: float = 1.15  # skew of items per product: uneven option aggregation groups
    items: int = 5000  # vendor inventory at cycle 0 (run budget)
    cycles_per_vendor: int = 6  # cycle 0 starts from empty state; a run times 3-4 re-sync cycles
    vendors: int | None = None  # None: as many as the loop asks for
    sold_frac: float = 0.04  # per cycle, Available items that sell: stock changes in the merge
    price_frac: float = 0.10  # per cycle, items whose price changes: min-price merge
    new_frac: float = 0.05  # per cycle, new items: upsert inserts beside updates
    new_products: int = 20  # per cycle, catalog additions: a catalog that changes between cycles


VENDOR = VendorSpec()
VENDOR_WARMUP = VendorSpec(products=100, items=300, cycles_per_vendor=1, vendors=1)


def _catalog_names(rng: np.random.Generator, n: int) -> list[str]:
    """Distinct product names.  Short base names and their suffixed
    variants both exist ("red phone" and "red phone pro"), so a vendor
    name can be a strict substring of another catalog name and the
    substring fallback of the match cascade has real work to do."""
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        base = f"{_ADJ[rng.integers(len(_ADJ))]} {_NOUN[rng.integers(len(_NOUN))]}"
        r = rng.random()
        if r < 0.45:
            name = base
        elif r < 0.8:
            name = f"{base} {_SUFFIX[rng.integers(len(_SUFFIX))]}"
        else:
            name = f"{base} {rng.integers(2, 99)}"
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


_TYPES = ("ECONOMY", "STANDARD", "SMALL", "LARGE", "MEDIUM", "PROMO")


def _part_table(keys: np.ndarray, names: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 41, n)], pa.string()
            ),
            "p_type": pa.array(
                [_TYPES[t] for t in rng.integers(0, len(_TYPES), n)], pa.string()
            ),
            "p_size": pa.array(rng.integers(1, 50, n), pa.int32()),
            "p_retailprice": pa.array(
                np.round(rng.uniform(900, 2000, n), 2), pa.float64()
            ),
        }
    )


def _lineitem_table(inv: dict[str, np.ndarray]) -> pa.Table:
    n = len(inv["orderkey"])
    return pa.table(
        {
            "l_orderkey": pa.array(inv["orderkey"], pa.int64()),
            "l_partkey": pa.array(inv["partkey"], pa.int64()),
            "l_suppkey": pa.array(inv["orderkey"] % 100, pa.int64()),
            "l_linenumber": pa.array(inv["linenumber"], pa.int32()),
            "l_quantity": pa.array(inv["quantity"], pa.float64()),
            "l_extendedprice": pa.array(inv["price"], pa.float64()),
            "l_discount": pa.array(np.zeros(n), pa.float64()),
            "l_tax": pa.array(np.zeros(n), pa.float64()),
            "l_returnflag": pa.array(inv["returnflag"], pa.string()),
            "l_linestatus": pa.array(inv["linestatus"], pa.string()),
            "l_shipdate": pa.array(
                np.full(n, 1_700_000_000_000_000, dtype="int64"), pa.timestamp("us")
            ),
        }
    )


def _new_items(rng, n, first_order, part_keys, weights):
    return {
        # seven line numbers per order id; line 7 models a NULL variation
        "orderkey": first_order + np.arange(n, dtype=np.int64) // 7,
        "linenumber": (np.arange(n) % 7 + 1).astype(np.int32),
        "partkey": rng.choice(part_keys, size=n, p=weights),
        "quantity": rng.integers(1, 50, n).astype(np.float64),
        "price": np.round(rng.uniform(50, 5000, n), 2),
        "returnflag": np.where(rng.random(n) < 0.5, "A", "N").astype(object),
        "linestatus": np.where(rng.random(n) < 0.5, "O", "F").astype(object),
    }


class VendorInputs:
    """Per cycle a directory with ``lineitem.parquet`` + ``part.parquet``:
    the vendor's whole current inventory (a sync fetches everything) and
    the catalog."""

    def __init__(self, root: str, seed: int, spec: VendorSpec = VENDOR):
        self.root, self.seed, self.spec = root, seed, spec
        rng = np.random.default_rng([seed, 1])
        names = _catalog_names(rng, spec.products + spec.cycles_per_vendor * spec.new_products)
        # partkeys are a seeded permutation, so which products fall in the
        # fixture's missing (%5), upper-cased (%7) and suffixed (%11)
        # classes changes with the seed while each class keeps its share
        self.keys = rng.permutation(len(names)).astype(np.int64)
        self.part = _part_table(self.keys, names, rng)
        brands = self.part.column("p_brand").to_pylist()
        # ground truth of the match cascade: vendor name -> planted partkey
        self.planted = {f"{b} {n}": int(k) for b, n, k in zip(brands, names, self.keys)}
        self.bytes = 0

    def _weights(self, rng, n_cat):
        w = 1.0 / (rng.permutation(n_cat) + 1.0) ** self.spec.zipf_a
        return w / w.sum()

    def jobs(self):
        spec, keys = self.spec, self.keys
        v = 0
        while spec.vendors is None or v < spec.vendors:
            vr = np.random.default_rng([self.seed, 2, v])
            n_cat = spec.products
            inv = _new_items(vr, spec.items, 1_000_000 * (v + 1), keys[:n_cat], self._weights(vr, n_cat))
            next_order = int(inv["orderkey"][-1]) + 1
            for c in range(spec.cycles_per_vendor):
                if c > 0:
                    n_inv = len(inv["orderkey"])
                    avail = np.flatnonzero(inv["returnflag"] != "R")
                    sold = vr.choice(avail, size=int(len(avail) * spec.sold_frac), replace=False)
                    inv["returnflag"][sold] = "R"
                    moved = vr.choice(n_inv, size=int(n_inv * spec.price_frac), replace=False)
                    inv["price"][moved] = np.round(inv["price"][moved] * vr.uniform(0.8, 1.2, len(moved)), 2)
                    n_cat = spec.products + c * spec.new_products
                    new = _new_items(vr, int(n_inv * spec.new_frac), next_order, keys[:n_cat], self._weights(vr, n_cat))
                    next_order = int(new["orderkey"][-1]) + 1
                    inv = {k: np.concatenate([inv[k], new[k]]) for k in inv}
                d = os.path.join(self.root, f"v{v:03d}c{c}")
                write_parquet(_lineitem_table(inv), os.path.join(d, "lineitem.parquet"))
                write_parquet(self.part.slice(0, n_cat), os.path.join(d, "part.parquet"))
                self.bytes += dir_bytes(d)
                yield Input("cold" if c == 0 else "warm", f"v{v:03d}c{c}", len(inv["orderkey"]), d, v)
            v += 1


# --------------------------------------------------------------------------
# corpus_dedup: document shards
# --------------------------------------------------------------------------

_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit"],
    "fr": ["le", "la", "les", "et", "des", "un", "est"],
}
_LANGS = ("en", "es", "de", "fr", "zh")
_STOP_ARR = {k: np.array(v, dtype=object) for k, v in _STOP.items()}
_CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 400)]
_SYL = "ka ri to mo ne sa lu vi pe do ga zu fe hi jo ba ce li nu ro ta mi".split()


@dataclass(frozen=True)
class VectorSpec:
    # assumed mix (see the module docstring); the comment says what it exercises
    corpus: int = 1000  # vectors in a dataset's index, built by its first shard (run budget)
    dim: int = 64
    clusters: int = 24  # more centres than the 16 IVF cells, so cells mix clusters
    noise: float = 1.5  # IVF recall at 10 ≈ 0.93 with the default 4 of 16 cells probed
    queries: int = 48  # per later shard: several queries share one probe job


def _emb_table(vecs: np.ndarray, ids: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


@dataclass(frozen=True)
class CorpusSpec:
    # assumed mix (see the module docstring); the comment says what it exercises
    docs: int = 800  # per shard (run budget)
    shards: int | None = None  # None: as many as the loop asks for
    shards_per_dataset: int = 3  # each dataset has its own fingerprint index
    doc_words: tuple[int, int] = (40, 90)
    junk_frac: float = 0.06  # fails the quality/language gate: the gate drops rows
    exact_dup_frac: float = 0.08  # case/whitespace copies within the shard: exact fingerprint dedup
    cross_dup_frac: float = 0.04  # copies of the previous shard's docs: the index probe drops rows
    near_dup_frac: float = 0.18  # members of planted near-dup clusters: LSH pairs, components
    cluster_size: tuple[int, int] = (2, 4)  # components of more than one edge
    swaps: int = 1  # words replaced per near-dup member: Jaccard ~0.9, above the LSH threshold
    contaminated_frac: float = 0.02  # train docs quoting an eval-slice doc: contamination flags
    vocab: int = 8000
    vectors: VectorSpec = VectorSpec()  # the dataset's embedding index and per-shard queries


CORPUS = CorpusSpec()
# both job kinds once: an index build and a probe
CORPUS_WARMUP = CorpusSpec(docs=100, shards=2, shards_per_dataset=2, vectors=VectorSpec(corpus=200, queries=8))


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYL[i] for i in rng.integers(0, len(_SYL), k)))
    return sorted(words)


def bench_bucket(doc_id: int) -> int:
    """Python twin of ``split_bucket(doc_id, 'bench')`` — the hash slice
    ``prepare_corpus`` holds out as the eval set."""
    return int(hashlib.md5(f"bench:{doc_id}".encode()).hexdigest()[:15], 16) % 100


def _doc_words(rng, lang, vocab, cjk, lo, hi) -> list[str]:
    n = int(rng.integers(lo, hi + 1))
    if lang == "zh":
        return cjk[rng.integers(0, len(cjk), n)].tolist()
    words = vocab[rng.integers(0, len(vocab), n)]
    stops = _STOP_ARR[lang]
    pos = rng.choice(n, size=max(2, n // 8), replace=False)
    words[pos] = stops[rng.integers(0, len(stops), len(pos))]
    return words.tolist()


class CorpusInputs:
    """Per shard a directory with ``documents.parquet`` and
    ``embeddings.parquet``.  A dataset's first shard carries the vectors
    its index is built from (vec_id 0..N-1); each later shard carries its
    query batch (vec_id 0..Q-1) followed by the same index vectors
    (vec_id Q..Q+N-1) — the program probes the first Q ids."""

    def __init__(self, root: str, seed: int, spec: CorpusSpec = CORPUS):
        self.root, self.seed, self.spec = root, seed, spec
        rng = np.random.default_rng([seed, 3])
        self.vocab = np.array(_vocab(rng, spec.vocab), dtype=object)
        self.cjk = np.array([a + b for a in _CJK[:60] for b in _CJK[60:120]], dtype=object)
        # doc_id -> planted near-dup cluster id (docs outside clusters absent)
        self.cluster_of: dict[int, int] = {}
        self.queries = spec.vectors.queries
        # shard directory -> the vectors of its query batch + index
        self.batch_vectors: dict[str, np.ndarray] = {}
        self.bytes = 0

    def _embeddings(self, d: str, group: int, first: bool) -> None:
        vs = self.spec.vectors
        if first:  # the dataset's index vectors, drawn around its centres
            self._vr = np.random.default_rng([self.seed, 5, group])
            centers = self._vr.normal(size=(vs.clusters, vs.dim))
            self._centers = centers / np.linalg.norm(centers, axis=1, keepdims=True)
            self._index, self._index_lab = self._draw(vs.corpus)
            vecs, lab = self._index, self._index_lab
        else:
            q, qlab = self._draw(vs.queries)
            vecs, lab = np.concatenate([q, self._index]), np.concatenate([qlab, self._index_lab])
            self.batch_vectors[d] = vecs
        write_parquet(
            _emb_table(vecs, np.arange(len(vecs), dtype=np.int64), lab),
            os.path.join(d, "embeddings.parquet"),
        )

    def _draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        vs = self.spec.vectors
        lab = self._vr.integers(0, vs.clusters, n)
        x = self._centers[lab] + self._vr.normal(scale=vs.noise / np.sqrt(vs.dim), size=(n, vs.dim))
        return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32), lab

    def jobs(self):
        spec, vocab, cjk = self.spec, self.vocab, self.cjk
        prev_texts: list[str] = []
        cluster_id = 0
        lo, hi = spec.doc_words
        s = 0
        while spec.shards is None or s < spec.shards:
            sr = np.random.default_rng([self.seed, 4, s])
            base_id = (s + 1) * 1_000_000
            texts: list[str] = []
            langs: list[str] = []
            originals: list[int] = []  # indices of unique, non-cluster docs

            def add(text: str, lang: str) -> int:
                texts.append(text)
                langs.append(lang)
                return len(texts) - 1

            first = s % spec.shards_per_dataset == 0
            n_junk = int(spec.docs * spec.junk_frac)
            n_exact = int(spec.docs * spec.exact_dup_frac)
            # copies of an earlier shard of the same dataset: the index
            # probe of incremental_dedup drops these
            n_cross = 0 if first else int(spec.docs * spec.cross_dup_frac)
            n_near = int(spec.docs * spec.near_dup_frac)
            n_cont = int(spec.docs * spec.contaminated_frac)
            n_unique = spec.docs - n_junk - n_exact - n_near - n_cont - n_cross
            for _ in range(n_unique):
                lang = _LANGS[int(sr.integers(len(_LANGS)))]
                originals.append(add(" ".join(_doc_words(sr, lang, vocab, cjk, lo, hi)), lang))
            placed = 0
            while placed < n_near:
                size = max(2, min(int(sr.integers(spec.cluster_size[0], spec.cluster_size[1] + 1)), n_near - placed))
                lang = _LANGS[int(sr.integers(4))]  # space-separated languages
                base = _doc_words(sr, lang, vocab, cjk, lo, hi)
                for _ in range(size):
                    words = list(base)
                    for pos in sr.choice(len(words), size=spec.swaps, replace=False):
                        words[pos] = vocab[int(sr.integers(len(vocab)))]
                    i = add(" ".join(words), lang)
                    self.cluster_of[base_id + i] = cluster_id
                    placed += 1
                cluster_id += 1
            # eval-slice quotes: a train doc that embeds a run of an eval doc
            evals = [i for i in originals if bench_bucket(base_id + i) < 5]
            for _ in range(n_cont):
                src = texts[evals[int(sr.integers(len(evals)))]].split(" ")
                start = int(sr.integers(0, max(1, len(src) - 8)))
                words = _doc_words(sr, "en", vocab, cjk, lo, hi)
                words[5:5] = src[start : start + 8]
                add(" ".join(words), "en")
            for _ in range(n_exact):
                i = originals[int(sr.integers(len(originals)))]
                t = texts[i]
                t = t.upper() if sr.random() < 0.5 else t.replace(" ", "  ", 3)
                add(t, langs[i])
            for _ in range(n_cross):
                add(prev_texts[int(sr.integers(len(prev_texts)))], "en")
            for _ in range(n_junk):
                w = vocab[int(sr.integers(len(vocab)))]
                add(" ".join([w + "!!!"] * int(sr.integers(12, 40))), "und")
            ids = np.arange(len(texts), dtype=np.int64) + base_id
            table = pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(langs, pa.string()),
                    "source": pa.array([f"src{int(x)}" for x in sr.integers(0, 16, len(texts))], pa.string()),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            )
            prev_texts = [texts[i] for i in originals]
            d = os.path.join(self.root, f"shard{s:03d}")
            group = s // spec.shards_per_dataset
            write_parquet(table, os.path.join(d, "documents.parquet"))
            self._embeddings(d, group, first)
            self.bytes += dir_bytes(d)
            yield Input("cold" if first else "warm", f"ds{group:03d}s{s % spec.shards_per_dataset}", len(texts), d, group)
            s += 1
