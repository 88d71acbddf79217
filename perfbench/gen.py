"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: no Spark, no reads outside the
output directory. The same seed gives byte-identical files. Corpora are
written the way the engine's fixtures are: one Parquet file per table
(``<dir>/documents.parquet``), a single row group, with the fixture's
``documents`` schema (doc_id, text, lang, source, n_chars).

The text model mirrors the sf0.1 ``documents`` fixture: 30 uniformly
drawn words, 10-100 words per doc, 5% near-duplicates made by copying
an earlier doc and appending `` dup``, a 41/15/15/15/14 language mix and
20 round-robin sources.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
FIXTURE_DUP_SHARE = 0.05

# sizes of every workload, recorded in SPEC.json and printed by the run
SERVE_DOCS = 5_000
SERVE_BATCH = 8
INDEX_DOCS = 2_500
INDEX_SUFFIX_P = 1.0  # share of index tokens that carry a Zipf suffix
CURATE_BASE_DOCS = 625
CURATE_REPLICAS = 4
CURATE_PLANTED_SHARE = 0.20
VEC_COUNT = 5_000
VEC_DIM = 64
VEC_CENTERS = 256
VEC_SPREAD = 0.6
QUERY_BATCH = 16
EMBEDDER_TOKEN_CACHE = 65_536  # lru_cache size of embedder._token_slot_sign

# letters+digits rotated per replica (perf_scale_dedup.py's scheme):
# replicas share no token, so they are invisible to each other's
# near-duplicate search
_ROT = "abcdefghijklmnopqrstuvwxyz0123456789"


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per generator, so sizes can change in one
    # workload without shifting another's draws
    tag = sum(ord(c) * 131**i for i, c in enumerate(stream)) % (2**32)
    return np.random.default_rng([seed, tag])


def _base_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(WORDS), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    return out


def _plant_fixture_dups(rng: np.random.Generator, texts: list[str]) -> None:
    n = len(texts)
    for i in np.sort(rng.choice(np.arange(1, n), size=int(n * FIXTURE_DUP_SHARE), replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"


def _frame(rng: np.random.Generator, texts: list[str], ids=None) -> pd.DataFrame:
    n = len(texts)
    ids = np.arange(n, dtype=np.int64) if ids is None else np.asarray(ids, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_table(df: pd.DataFrame, out_dir: str, name: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


# ---------------------------------------------------------------- serve


def serve_corpus(seed: int, n_docs: int = SERVE_DOCS) -> pd.DataFrame:
    rng = _rng(seed, "serve-corpus")
    texts = _base_texts(rng, n_docs)
    _plant_fixture_dups(rng, texts)
    return _frame(rng, texts)


# request categories, each aimed at one stage of the v2 lattice; every
# batch holds one of each, then fills up from FILL (one-field requests
# are the reference's partial NER dicts)
CATEGORIES = ("both", "or_relax", "single_field", "synonym", "oov")
FILL = ("both", "or_relax", "region_only", "job_only")


def _phrase(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), size=n_words))


def _doc_phrase(rng: np.random.Generator, texts: list[str], n_words: int) -> str:
    """n consecutive words of a random doc: a phrase that hits at least
    that doc, and few others once n >= 3."""
    words = texts[int(rng.integers(0, len(texts)))].split(" ")
    start = int(rng.integers(0, len(words) - n_words + 1))
    return " ".join(words[start : start + n_words])


def _oov(rng: np.random.Generator) -> str:
    return "".join("qxzjvw"[i] for i in rng.integers(0, 6, size=5))


def category_holds(texts, category: str, region, job) -> bool:
    """Whether (region, job) drives the lattice into its target stage on
    this corpus (`texts`, a list of str): both -> stage 1 fills;
    or_relax -> stage 1 short, the OR set fills stage 2; single_field ->
    the OR set is short, so stage 3 runs and stage 5 tops up; synonym ->
    only stage 4 hits; oov -> only stage 5; region_only / job_only ->
    stage 1 fills on one field."""
    if category == "synonym":
        return region is None and job == "neardup"
    if category in ("region_only", "job_only"):
        term = region or job
        return sum(term in t for t in texts) >= 5
    hr = [region in t for t in texts]
    hj = [job in t for t in texts]
    n_and = sum(a and b for a, b in zip(hr, hj))
    n_or = sum(a or b for a, b in zip(hr, hj))
    if category == "both":
        return n_and >= 5
    if category == "or_relax":
        return n_and < 5 and n_or >= 5
    if category == "single_field":
        return 1 <= n_or < 5
    return n_or == 0


def serve_requests(seed: int, texts: pd.Series, n_batches: int, batch: int = SERVE_BATCH):
    """Seeded request batches of (region, job) NER dicts. Every batch
    holds one request per lattice category, then fills up with drawn
    categories; each draw is redrawn until it holds on the corpus (the
    multi-word phrases come from the corpus, so a few draws suffice)."""
    rng = _rng(seed, "serve-requests")
    texts = list(texts)
    batches = []
    for _ in range(n_batches):
        cats = list(CATEGORIES) + [
            FILL[i] for i in rng.integers(0, len(FILL), size=batch - len(CATEGORIES))
        ]
        reqs = []
        for cat in cats[:batch]:
            for _attempt in range(1000):
                if cat == "both":
                    region, job = _phrase(rng, 1), _phrase(rng, 1)
                elif cat == "or_relax":
                    region, job = _doc_phrase(rng, texts, 3), _doc_phrase(rng, texts, 3)
                elif cat == "single_field":
                    region, job = _doc_phrase(rng, texts, 4), _doc_phrase(rng, texts, 4)
                elif cat == "region_only":
                    region, job = _phrase(rng, 1), None
                elif cat == "job_only":
                    region, job = None, _phrase(rng, 1)
                elif cat == "synonym":
                    region, job = None, "neardup"
                else:
                    region, job = _oov(rng), _oov(rng)
                if category_holds(texts, cat, region, job):
                    break
            else:
                raise RuntimeError(f"no {cat} request found for this corpus")
            reqs.append({"category": cat, "region": region, "job": job})
        batches.append(reqs)
    return batches


# ---------------------------------------------------------------- index


def index_corpus(seed: int, n_docs: int = INDEX_DOCS) -> pd.DataFrame:
    """sf0.1-shaped docs whose tokens mostly carry a Zipf-drawn numeric
    suffix (``join`` -> ``join4711``), so the distinct-token count is far
    above the embedder's 65,536-entry token cache."""
    rng = _rng(seed, "index-corpus")
    texts = _base_texts(rng, n_docs)
    _plant_fixture_dups(rng, texts)
    out = []
    for t in texts:
        toks = t.split(" ")
        suff = rng.zipf(1.05, size=len(toks)) % 10_000_000
        keep = rng.random(len(toks)) < INDEX_SUFFIX_P
        out.append(" ".join(w + str(s) if k else w for w, s, k in zip(toks, suff, keep)))
    return _frame(rng, out)


def distinct_tokens(texts) -> int:
    return len({tok for t in texts for tok in t.split()})


# ---------------------------------------------------------------- curate


def curate_corpus(
    seed: int,
    n_base: int = CURATE_BASE_DOCS,
    replicas: int = CURATE_REPLICAS,
    planted_share: float = CURATE_PLANTED_SHARE,
) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Token-rotated replicas of an sf0.1-shaped base corpus plus a share
    of planted near-duplicates (a copy of a random doc with one interior
    token replaced and `` dup`` appended). Returns the docs and the
    planted (source_id, copy_id) pairs."""
    rng = _rng(seed, "curate-corpus")
    base = _base_texts(rng, n_base)
    _plant_fixture_dups(rng, base)
    texts, ids = [], []
    for r in range(replicas):
        table = str.maketrans(_ROT, _ROT[r:] + _ROT[:r])
        texts += [t.translate(table) for t in base]
        ids += [r * 10_000_000 + i for i in range(n_base)]
    n_plant = int(len(texts) * planted_share / (1 - planted_share))
    planted = []
    next_id = replicas * 10_000_000
    for src in rng.integers(0, len(texts), size=n_plant):
        toks = texts[src].split(" ")
        if len(toks) >= 20:
            j = int(rng.integers(7, len(toks) - 7))
            toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(toks) + " dup")
        planted.append((ids[src], next_id))
        ids.append(next_id)
        next_id += 1
    return _frame(rng, texts, ids), planted


# ------------------------------------------------------------- bulk_knn


def _mixture(seed: int, centers: int, dim: int):
    """The seed's mixture means, and the stream that goes on to draw
    the corpus vectors."""
    rng = _rng(seed, "vectors")
    return rng, rng.normal(0.0, 1.0, size=(centers, dim))


def _draw(rng: np.random.Generator, means: np.ndarray, n: int) -> np.ndarray:
    which = rng.integers(0, len(means), size=n)
    return (means[which] + rng.normal(0.0, VEC_SPREAD, size=(n, means.shape[1]))).astype(np.float32)


def vectors(seed: int, n: int = VEC_COUNT, dim: int = VEC_DIM, centers: int = VEC_CENTERS):
    """Gaussian-mixture float32 vectors: `centers` unit-scale means,
    per-component spread VEC_SPREAD, so mixture components straddle IVF
    cells and IVF recall sits just below 1. Returns (ids, matrix)."""
    rng, means = _mixture(seed, centers, dim)
    return np.arange(n, dtype=np.int64), _draw(rng, means, n)


def query_vectors(seed: int, n_batches: int, batch: int = QUERY_BATCH, dim: int = VEC_DIM,
                  centers: int = VEC_CENTERS):
    """Query batches drawn from the same mixture as `vectors`."""
    _, means = _mixture(seed, centers, dim)
    qrng = _rng(seed, "queries")
    return [_draw(qrng, means, batch) for _ in range(n_batches)]


def vector_frame(ids, x) -> pd.DataFrame:
    return pd.DataFrame({"vec_id": ids, "embedding": list(x)})
