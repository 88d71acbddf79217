"""The two workloads: inputs, set-up, one timed operation, and the
output check each operation gets outside the timed region.

* ``serve`` -- the online path: plans.queries_pipeline.v2_lattice over
  request batches, against a vector store built during set-up.
* ``offline`` -- the batch path, warm; operations take turns between the
  chunk index and a fresh vector store (plans.queries_mlops,
  sources.vecstore), and bulk vector search (operators.knn, operators.ann
  over a lloyd_build index written during set-up). Near-dup curation
  (operators.neardup, operators.dedup) runs once per traced run, as a
  checked probe.

Every call into the engine uses its public functions and is forced with
a driver ``collect()`` or a parquet write. Checks use the registry's own
DuckDB oracles on the generated inputs, or numpy brute force for the
vector search.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.trace import Tracer

PROBE_SCHEMA = "query_id int, syn_idx int, region string, job string, synonym string, ptext string"
KNN_K = 10
IVF_CELLS = 32
IVF_NPROBE = 6
LLOYD_ITERS = 2
INDEX_CHECK_DOCS = 150
JACCARD_T = 0.5  # the dedup_clusters_cc threshold


def _duck(table_paths: dict[str, str], where: dict[str, str] | None = None):
    con = duckdb.connect()
    for name, path in table_paths.items():
        cond = f" WHERE {where[name]}" if where and name in where else ""
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'{cond}")
    return con


def materialized(sql: str, ctes) -> str:
    """The oracle's SQL with the named CTEs marked MATERIALIZED: DuckDB
    then evaluates each once instead of inlining it at every reference.
    The result is the same (tested); the staged-retrieval and dedup
    oracles run 6-10x faster."""
    for name in ctes:
        head = f"\n{name} AS ("
        if head not in sql:
            head = f" {name} AS ("
        if sql.count(head) != 1:
            raise ValueError(f"CTE {name!r} is not defined exactly once in the oracle")
        sql = sql.replace(head, head.replace(" AS (", " AS MATERIALIZED ("))
    return sql


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _text_bytes(texts) -> int:
    return int(sum(len(t.encode()) for t in texts))


def _fresh_corpus(src: str, dst_dir: str) -> str:
    """A new directory holding the same documents.parquet: a new path is
    a new corpus fingerprint, so the vector store's build-once cache
    misses and builds again."""
    os.makedirs(dst_dir, exist_ok=True)
    dst = os.path.join(dst_dir, "documents.parquet")
    if not os.path.exists(dst):
        os.link(src, dst)
    return dst_dir


def _store_dir(sf_dir: str) -> str:
    from vector_search_ner_spark.sources.vecstore import _store_path

    return _store_path(sf_dir, gen.VEC_DIM)


def _drop_stores(data_dir: str) -> None:
    """Remove the vector stores built for corpus copies under data_dir."""
    for root, _dirs, files in os.walk(data_dir):
        if "documents.parquet" in files:
            shutil.rmtree(os.path.dirname(_store_dir(root)), ignore_errors=True)


def _call(tracer, layer: str, construct, action):
    """Run construct() then action(construct's result), each in its own
    span under a span named after the layer function."""
    with tracer.span(layer, kind="call"):
        with tracer.span(layer + ".construct", kind="construct"):
            obj = construct()
        with tracer.span(layer + ".action", kind="action"):
            return action(obj)


def _text_probes(spark, tracer, texts, extra) -> None:
    """Isolated embedder and extractor probes over `texts`."""
    from pyspark.sql import functions as F

    from vector_search_ner_spark.embedder import HashingEmbedder
    from vector_search_ner_spark.extractors import RuleBasedExtractor

    df = spark.createDataFrame([(t,) for t in texts], "text string").localCheckpoint()
    name = "embedder.HashingEmbedder.embed_col"
    with tracer.span(name, kind="probe") as s:
        df.select(F.sum(F.size(HashingEmbedder().embed_col(F.col("text"))))).collect()
    extra[f"{name}.action_s"] = s["end"] - s["start"]
    extra[f"{name}.texts_per_s"] = len(texts) / extra[f"{name}.action_s"]
    name = "extractors.RuleBasedExtractor.extract"
    with tracer.span(name, kind="probe") as s:
        RuleBasedExtractor().extract(df).select(F.count("ner_job")).collect()
    extra[f"{name}.action_s"] = s["end"] - s["start"]
    extra[f"{name}.rows_per_s"] = len(texts) / extra[f"{name}.action_s"]


def _open_probe(spark, tracer, sf_dir, extra) -> None:
    from pyspark.sql import functions as F

    from vector_search_ner_spark.sources.vecstore import doc_vector_store

    name = "sources.vecstore.doc_vector_store.open"
    with tracer.span(name, kind="probe") as s:
        doc_vector_store(spark, sf_dir).select(F.count(F.lit(1))).collect()
    extra["sources.vecstore.doc_vector_store.open_s"] = s["end"] - s["start"]


def _persisted_bytes(spark) -> int:
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in storage)


class Workload:
    """One workload, or one part of the composite one. ``op`` returns
    the raw result; ``check`` returns, per op index, (ok, recall) where
    recall is the share of the exact answer the op recovered. Negative
    op indices are discarded warm-up ops; dedup runs its warm-up on a
    slice of its corpus, which compiles the same plans in less time."""

    name = ""
    items_per_pass = 0
    kinds = 1  # op i is of kind i % kinds; a pass is one op of each kind
    approximate = False  # whether `recall` can be below 1 for a correct op
    warmup_ops = 1  # discarded ops before timing

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data = data_dir
        self.sizes: dict = {}
        self.extra: dict = {}  # per-layer numbers specific to this workload
        self.input_bytes = 0  # text bytes a store is built from
        self.store_bytes = 0  # bytes of the last store (and index) written

    def generate(self) -> None: ...

    def setup(self, spark, tracer, rep: int) -> None: ...

    def op(self, spark, tracer, i: int): ...

    def check(self, spark, results: dict[int, object]) -> dict[int, tuple[bool, float]]: ...

    def probes(self, spark, tracer) -> bool:
        """Isolated per-layer probes of the traced run; False when a
        probe's output failed its check."""
        return True

    def cleanup(self) -> None:
        _drop_stores(self.data)


# ---------------------------------------------------------------- serve


class Serve(Workload):
    """plans.queries_pipeline.v2_lattice over request batches of 8,
    against a doc_vector_store built during set-up."""

    name = "serve"
    items_per_pass = gen.SERVE_BATCH
    warmup_ops = 2  # the first batches of a process run slowest (JIT)
    N_BATCHES = 12  # a run cycles through them; only issued batches are checked

    def generate(self):
        self.corpus = gen.serve_corpus(self.seed)
        self.src = gen.write_table(self.corpus, os.path.join(self.data, "corpus"), "documents")
        self.batches = gen.serve_requests(self.seed, self.corpus.text, self.N_BATCHES + 1)
        self.input_bytes = _text_bytes(self.corpus.text)
        self.sizes = {
            "corpus_rows": len(self.corpus),
            "distinct_tokens": gen.distinct_tokens(self.corpus.text),
            "embedder_token_cache": gen.EMBEDDER_TOKEN_CACHE,
            "batch_requests": gen.SERVE_BATCH,
        }

    def setup(self, spark, tracer, rep):
        from vector_search_ner_spark.sources.vecstore import doc_vector_store

        self.sf_dir = _fresh_corpus(self.src, os.path.join(self.data, f"store{rep}"))
        with tracer.span("sources.vecstore.doc_vector_store.build", kind="call"):
            doc_vector_store(spark, self.sf_dir)
        self.store_bytes = _dir_bytes(_store_dir(self.sf_dir))

    def _batch(self, i: int):
        """Op i's requests; a run longer than N_BATCHES ops cycles."""
        return self.batches[i % len(self.batches)]

    def _probe_rows(self, i: int):
        from vector_search_ner_spark.plans.queries_pipeline import SYNONYMS

        reqs = self._batch(i)
        base = (i + 1) * 100
        rows = []
        for j, r in enumerate(reqs):
            text = " ".join(t for t in (r["region"], r["job"]) if t)
            rows.append((base + j, -1, r["region"], r["job"], None, text))
        for job_term, syn, idx in SYNONYMS:
            for j, r in enumerate(reqs):
                if r["job"] == job_term:
                    text = " ".join(t for t in (r["region"], syn) if t)
                    rows.append((base + j, idx, r["region"], r["job"], syn, text))
        return rows

    def op(self, spark, tracer, i):
        from vector_search_ner_spark.plans.queries_pipeline import v2_lattice

        rows = self._probe_rows(i)
        probes = spark.createDataFrame(rows, PROBE_SCHEMA)
        out = _call(
            tracer,
            "plans.queries_pipeline.v2_lattice",
            lambda: v2_lattice(spark, self.sf_dir, probes),
            lambda df: df.collect(),
        )
        return {"rows": [tuple(r) for r in out], "n_probes": len(rows)}

    def expected(self, batch_ids):
        """The staged-retrieval oracle over every request of the given
        batches (the lattice ranks each query on its own, so one oracle
        run answers all of them)."""
        from vector_search_ner_spark.plans.queries_pipeline import _duck_staged_oracle, _sql_lit

        vals = ", ".join(
            f"({(i + 1) * 100 + j}, {_sql_lit(r['region'])}, {_sql_lit(r['job'])})"
            for i in batch_ids
            for j, r in enumerate(self._batch(i))
        )
        sql = materialized(
            _duck_staged_oracle(qdef_cte=f"qdef(query_id, region, job) AS (VALUES {vals})"),
            ("d_vec", "scored", "syn_scored"),
        )
        con = _duck({"documents": self.src})
        try:
            df = con.execute(sql).df()
        finally:
            con.close()
        return {
            (int(q), int(d), float(s), int(k))
            for q, d, s, k in df[["query_id", "doc_id", "combined_score", "rank"]].itertuples(
                index=False
            )
        }

    def check(self, spark, results):
        want = self.expected(sorted(results))
        out = {}
        for i, res in results.items():
            base = (i + 1) * 100
            w = {r for r in want if base <= r[0] < base + 100}
            got = {(int(q), int(d), float(s), int(k)) for q, d, s, k in res["rows"]}
            out[i] = (got == w, len(got & w) / max(1, len(w)))
        scored = sum(r["n_probes"] * len(self.corpus) for r in results.values())
        returned = sum(len(r["rows"]) for r in results.values())
        self.extra["plans.queries_pipeline.v2_lattice.rows_scored_per_result"] = (
            scored / max(1, returned)
        )
        return out

    def probes(self, spark, tracer):
        _open_probe(spark, tracer, self.sf_dir, self.extra)
        texts = [r[5] for i in range(len(self.batches)) for r in self._probe_rows(i)]
        _text_probes(spark, tracer, texts, self.extra)
        self.extra["spark.persisted_bytes_after"] = _persisted_bytes(spark)
        return True


# -------------------------------------------------------- offline parts


class Dedup(Workload):
    """operators.neardup.minhash_lsh_dedup (clusters), operators.neardup.
    exact_dedup, and operators.dedup.connected_components_star over
    operators.neardup.minhash_lsh_pairs, on one corpus."""

    name = "dedup"
    approximate = True  # LSH clusters recover planted pairs by chance

    def generate(self):
        self.corpus, self.planted = gen.curate_corpus(self.seed)
        self.items_per_pass = len(self.corpus)
        self.src = gen.write_table(self.corpus, os.path.join(self.data, "curate"), "documents")
        self.warm_src = gen.write_table(self.corpus.iloc[::16], os.path.join(self.data, "curate-warm"),
                                        "documents")
        self.sizes = {
            "corpus_rows": len(self.corpus),
            "replicas": gen.CURATE_REPLICAS,
            "planted_duplicate_share": round(len(self.planted) / len(self.corpus), 4),
            "distinct_tokens": gen.distinct_tokens(self.corpus.text),
        }

    def op(self, spark, tracer, i):
        from vector_search_ner_spark.operators import neardup as nd
        from vector_search_ner_spark.operators.dedup import connected_components_star
        from vector_search_ner_spark.sources.catalog import load_table

        docs = load_table(spark, os.path.dirname(self.src if i >= 0 else self.warm_src), "documents")
        clusters = _call(
            tracer, "operators.neardup.minhash_lsh_dedup",
            lambda: nd.minhash_lsh_dedup(docs), lambda df: df.collect(),
        )
        exact = _call(
            tracer, "operators.neardup.exact_dedup",
            lambda: nd.exact_dedup(docs), lambda df: df.collect(),
        )
        rounds: list[int] = []
        cc = _call(
            tracer, "operators.dedup.connected_components_star",
            lambda: connected_components_star(
                nd.minhash_lsh_pairs(docs, JACCARD_T).select("doc_a", "doc_b"),
                rounds_out=rounds,
            ),
            lambda df: df.collect(),
        )
        return {
            "clusters": {int(r["doc_id"]): int(r["cluster_id"]) for r in clusters},
            "exact": sorted((int(r["keeper_id"]), int(r["n_copies"])) for r in exact),
            "cc": {int(r["node"]): int(r["cluster_id"]) for r in cc},
            "rounds": rounds[0] if rounds else 0,
        }

    def expected(self):
        """dedup_clusters_cc and dedup_clusters_lsh oracles, the oracle's
        verified pair count, and exact groups from pandas on the same
        normalisation as textstats.fingerprint."""
        from vector_search_ner_spark.plans.queries_dedup import (
            _duck_cc_clusters,
            _duck_lsh_clusters,
            _duck_minhash_pairs,
        )

        con = _duck({"documents": self.src})
        try:
            cc = con.execute(materialized(_duck_cc_clusters(), ("edges",))).df()
            lsh = con.execute(materialized(_duck_lsh_clusters(), ("bands",))).df()
            n_edges = con.execute(f"SELECT COUNT(*) FROM ({_duck_minhash_pairs(JACCARD_T)})")
            n_edges = n_edges.fetchone()[0]
        finally:
            con.close()
        norm = self.corpus.text.str.strip().str.replace(r"\s+", " ", regex=True).str.lower()
        g = self.corpus.groupby(norm).doc_id.agg(["min", "count"])
        return {
            "cc": dict(zip(cc.doc_id.astype(int), cc.cluster_id.astype(int))),
            "clusters": dict(zip(lsh.doc_id.astype(int), lsh.cluster_id.astype(int))),
            "exact": sorted(zip(g["min"].astype(int), g["count"].astype(int))),
            "n_edges": int(n_edges),
        }

    def check(self, spark, results):
        want = self.expected()
        self.extra["operators.neardup.edges_per_doc"] = want["n_edges"] / len(self.corpus)
        out = {}
        for i, res in results.items():
            ok = all(res[k] == want[k] for k in ("cc", "clusters", "exact"))
            labels = res["clusters"]
            found = sum(1 for a, b in self.planted if a in labels and labels[a] == labels.get(b))
            out[i] = (ok, found / max(1, len(self.planted)))
            self.extra["operators.dedup.connected_components_star.rounds"] = res["rounds"]
        return out


class Index(Workload):
    """plans.queries_mlops.build_chunk_index written to parquet, then a
    fresh sources.vecstore.doc_vector_store build, on a corpus whose
    fingerprint is new for every operation."""

    name = "index"
    items_per_pass = gen.INDEX_DOCS

    def generate(self):
        self.corpus = gen.index_corpus(self.seed)
        self.src = gen.write_table(self.corpus, os.path.join(self.data, "index"), "documents")
        self.input_bytes = _text_bytes(self.corpus.text)
        self.sizes = {
            "corpus_rows": len(self.corpus),
            "distinct_tokens": gen.distinct_tokens(self.corpus.text),
            "embedder_token_cache": gen.EMBEDDER_TOKEN_CACHE,
            "input_text_bytes": self.input_bytes,
        }

    def op(self, spark, tracer, i):
        from vector_search_ner_spark.plans.queries_mlops import build_chunk_index
        from vector_search_ner_spark.sources.vecstore import doc_vector_store

        sf_dir = _fresh_corpus(self.src, os.path.join(self.data, f"index-op{i}"))
        chunks = os.path.join(sf_dir, "chunks")
        _call(
            tracer,
            "plans.queries_mlops.build_chunk_index",
            lambda: build_chunk_index(spark, sf_dir),
            lambda df: df.write.mode("overwrite").parquet(chunks),
        )
        with tracer.span("sources.vecstore.doc_vector_store.build", kind="call"):
            doc_vector_store(spark, sf_dir)
        self.store_bytes = _dir_bytes(chunks) + _dir_bytes(_store_dir(sf_dir))
        self.sf_dir = sf_dir
        return {"sf_dir": sf_dir, "chunks": chunks}

    def check(self, spark, results):
        """index_build_pipeline's oracle on a seeded sample of docs,
        against the written chunk index; the store must hold every doc."""
        from pyspark.sql import functions as F

        from vector_search_ner_spark.functions.vector import l2_norm
        from vector_search_ner_spark.plans.queries_mlops import _duck_index_build
        from vector_search_ner_spark.sources.vecstore import doc_vector_store

        rng = np.random.default_rng([self.seed, 7])
        ids = sorted(int(x) for x in rng.choice(self.corpus.doc_id, INDEX_CHECK_DOCS, replace=False))
        con = _duck({"documents": self.src}, {"documents": f"doc_id IN ({', '.join(map(str, ids))})"})
        try:
            want = sorted(_index_rows(con.execute(_duck_index_build()).df()))
        finally:
            con.close()
        out = {}
        for i, res in results.items():
            chunks = spark.read.parquet(res["chunks"])
            got = (
                chunks.where(F.col("doc_id").isin(ids))
                .select(
                    "doc_id", "chunk_index", "chunk_id", "ner_job",
                    F.size("embedding").alias("emb_dim"),
                    F.round(l2_norm(F.col("embedding")), 4).alias("emb_norm"),
                )
                .toPandas()
            )
            got = sorted(_index_rows(got))
            n_store = doc_vector_store(spark, res["sf_dir"]).count()
            self.extra["operators.chunker.chunks_per_doc"] = chunks.count() / len(self.corpus)
            ok = got == want and n_store == len(self.corpus)
            out[i] = (ok, len(set(got) & set(want)) / max(1, len(want)))
        return out

    def probes(self, spark, tracer):
        _open_probe(spark, tracer, self.sf_dir, self.extra)
        _text_probes(spark, tracer, list(self.corpus.text), self.extra)
        return True


def _index_rows(df: pd.DataFrame):
    return [
        (int(a), int(b), str(c), None if pd.isna(d) else str(d), int(e), float(f))
        for a, b, c, d, e, f in df[
            ["doc_id", "chunk_index", "chunk_id", "ner_job", "emb_dim", "emb_norm"]
        ].itertuples(index=False)
    ]


class Knn(Workload):
    """operators.knn.knn_join (exact cosine) and operators.ann.ivf_topk
    over a lloyd_build index written during set-up, on one query batch."""

    name = "knn"
    items_per_pass = 2 * gen.QUERY_BATCH
    approximate = True  # IVF probes a few cells only
    N_BATCHES = 8

    def generate(self):
        self.ids, self.x = gen.vectors(self.seed)
        self.src = gen.write_table(gen.vector_frame(self.ids, self.x),
                                   os.path.join(self.data, "vectors"), "embeddings")
        self.queries = gen.query_vectors(self.seed, self.N_BATCHES)
        self.sizes = {
            "vectors": len(self.ids),
            "dim": gen.VEC_DIM,
            "mixture_centers": gen.VEC_CENTERS,
            "query_batch": gen.QUERY_BATCH,
            "k": KNN_K,
            "ivf_cells": IVF_CELLS,
            "ivf_nprobe": IVF_NPROBE,
        }

    def setup(self, spark, tracer, rep):
        from vector_search_ner_spark.operators.ann import lloyd_build

        out = os.path.join(self.data, f"ivf{rep}")

        def write(frames):
            for df, part in zip(frames, ("assigned", "centroids")):
                df.write.mode("overwrite").parquet(os.path.join(out, part))

        _call(
            tracer, "operators.ann.lloyd_build",
            lambda: lloyd_build(spark.read.parquet(self.src), IVF_CELLS, LLOYD_ITERS),
            write,
        )
        self.ivf_dir = out

    def op(self, spark, tracer, i):
        from vector_search_ner_spark.operators.ann import ivf_topk
        from vector_search_ner_spark.operators.knn import knn_join

        docs = spark.read.parquet(self.src)
        assigned = spark.read.parquet(os.path.join(self.ivf_dir, "assigned"))
        centroids = spark.read.parquet(os.path.join(self.ivf_dir, "centroids"))
        batch = i % len(self.queries)
        q = self.queries[batch]
        qdf = spark.createDataFrame(
            [(j, [float(v) for v in q[j]]) for j in range(len(q))],
            "query_id long, query_vec array<float>",
        )
        knn = _call(
            tracer, "operators.knn.knn_join",
            lambda: knn_join(qdf, docs, KNN_K, doc_id="vec_id"), lambda df: df.collect(),
        )
        ivf = _call(
            tracer, "operators.ann.ivf_topk",
            lambda: ivf_topk(qdf, assigned, centroids, KNN_K, IVF_NPROBE, doc_id="vec_id"),
            lambda df: df.collect(),
        )
        return {
            "batch": batch,
            "knn": [(int(r["query_id"]), int(r["vec_id"]), float(r["score"])) for r in knn],
            "ivf": [(int(r["query_id"]), int(r["vec_id"]), float(r["distance"])) for r in ivf],
        }

    def check(self, spark, results):
        """numpy brute force: exact cosine top-k for knn_join; for
        ivf_topk, the exact L2 top-k within the probed cells (and its
        recall against the exact L2 top-k over all vectors)."""
        a = pd.read_parquet(os.path.join(self.ivf_dir, "assigned"))
        cell_of = a.set_index("vec_id").cluster_id.reindex(self.ids).to_numpy()
        c = pd.read_parquet(os.path.join(self.ivf_dir, "centroids")).sort_values("cluster_id")
        cids = c.cluster_id.to_numpy()
        cmat = np.stack(c.centroid.to_numpy()).astype(np.float64)
        x = self.x.astype(np.float64)
        xn = np.linalg.norm(x, axis=1)
        out, cand = {}, []
        for i, res in results.items():
            q = self.queries[res["batch"]].astype(np.float64)
            ok, recalls = True, []
            for j in range(len(q)):
                cos = (x @ q[j]) / (xn * np.linalg.norm(q[j]))
                knn = [(d, s) for qq, d, s in res["knn"] if qq == j]
                ok &= _topk_matches(knn, -cos, KNN_K, sign=-1.0)
                dist = np.sqrt(((x - q[j]) ** 2).sum(axis=1))
                cd = ((cmat - q[j]) ** 2).sum(axis=1)
                probed = cids[np.lexsort((cids, cd))[:IVF_NPROBE]]
                mask = np.isin(cell_of, probed)
                cand.append(int(mask.sum()))
                ivf = [(d, s) for qq, d, s in res["ivf"] if qq == j]
                ok &= _topk_matches(ivf, np.where(mask, dist, np.inf), KNN_K)
                exact = set(np.lexsort((self.ids, dist))[:KNN_K].tolist())
                recalls.append(len(exact & {d for d, _ in ivf}) / KNN_K)
            out[i] = (bool(ok), float(np.mean(recalls)))
        self.extra["operators.ann.ivf_topk.candidates_per_result"] = float(np.mean(cand)) / KNN_K
        self.extra["operators.knn.knn_join.pairs_per_call"] = len(self.ids) * gen.QUERY_BATCH
        return out


def _topk_matches(got, cost: np.ndarray, k: int, sign: float = 1.0, tol: float = 1e-9) -> bool:
    """`got` = [(id, score)] is a correct top-k under `cost` (lower is
    better; ids index `cost`; a reported score is sign * cost): k rows,
    distinct ids, each score equal to the reference, and no returned id
    worse than the k-th best (ties within `tol` may go either way)."""
    if len(got) != k or len({d for d, _ in got}) != k:
        return False
    kth = np.partition(cost, k - 1)[k - 1]
    for d, s in got:
        ref = cost[d]
        if not np.isfinite(ref) or ref > kth + tol:
            return False
        if abs(s - sign * ref) > tol:
            return False
    return True


class Offline(Workload):
    """The batch path, warm. Operations take turns between its two
    parts: the chunk index and vector store, and bulk k-NN and IVF
    search; a pass is one of each. Dedup is too slow for several passes
    to fit in a run (its three calls alone take about 7 s, bound by
    Spark job count), so it runs once in the traced run, after a
    warm-up on a slice, and its output is checked there."""

    name = "offline"
    kinds = 2
    warmup_ops = 2  # one pass; the first op of each part runs slowest (JIT)

    def __init__(self, seed: int, data_dir: str):
        super().__init__(seed, data_dir)
        self.parts = [Index(seed, data_dir), Knn(seed, data_dir)]
        self.curate = Dedup(seed, data_dir)

    def generate(self):
        for p in self.parts + [self.curate]:
            p.generate()
        self.items_per_pass = sum(p.items_per_pass for p in self.parts)
        self.sizes = {p.name: p.sizes for p in self.parts + [self.curate]}
        self.input_bytes = self.parts[0].input_bytes

    def setup(self, spark, tracer, rep):
        for p in self.parts:
            p.setup(spark, tracer, rep)

    def op(self, spark, tracer, i):
        p = self.parts[i % self.kinds]
        out = p.op(spark, tracer, i)
        self.store_bytes = self.parts[0].store_bytes
        return out

    def check(self, spark, results):
        """Each part checks its own ops; recall is reported for the
        approximate part's ops only."""
        out = {}
        for k, p in enumerate(self.parts):
            mine = {i: r for i, r in results.items() if i % self.kinds == k}
            if mine:
                for i, (ok, rec) in p.check(spark, mine).items():
                    out[i] = (ok, rec if p.approximate else None)
            self.extra.update(p.extra)
        return out

    def probes(self, spark, tracer):
        ok = True
        for p in self.parts:
            ok &= p.probes(spark, tracer)
            self.extra.update(p.extra)
        self.curate.op(spark, Tracer(), -1)
        ok &= self.curate.check(spark, {0: self.curate.op(spark, tracer, 0)})[0][0]
        self.extra.update(self.curate.extra)
        self.extra["spark.persisted_bytes_after"] = _persisted_bytes(spark)
        return ok


WORKLOADS = {w.name: w for w in (Serve, Offline)}
