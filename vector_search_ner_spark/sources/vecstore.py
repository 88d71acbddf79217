"""Persisted document vector store — the engine's equivalent of the
reference's Chroma persist directory.

The reference separates indexing from serving: `build_vectorstore.py`
embeds the corpus ONCE and persists it (`build_vectorstore.py:233-250`,
Chroma `persist_directory`), and the chat endpoint merely OPENS the
persisted collection per process (`load_vectorstore`, main.py:51-61) —
no request ever re-embeds a document. The engine mirrors that split:
`doc_vector_store` builds the (doc_id, text, lang, dvec, __dnorm)
parquet once per (corpus fingerprint, dim, embedder version) and every
retrieval pipeline reads it back. At 100 TB this is the only viable
shape — the vector store is a table you scan, not a per-query
recomputation — and locally it keeps the pandas-UDF embed out of the
serve-path latency, exactly like the reference.

Freshness: the artifact key fingerprints the source parquet file
(path, mtime, size), the embedding dim, and an embedder VERSION
constant. Regenerated fixtures or an embedder change produce a new
key, so a stale store can never serve (the round-2 events-fixture
refresh is the cautionary tale). Rebuilds use overwrite semantics —
the reference's `rm -rf` + rebuild (`build_vectorstore.py:22-24`).

Bit-exactness: float32 vectors and the double norm round-trip parquet
losslessly, so a score computed from the stored columns is
bit-identical to recomputing the embedding inline — the DuckDB oracles
(which re-derive embeddings in SQL) stay valid unchanged; asserted in
tests/test_semantics.py.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vector_search_ner_spark.embedder import DEFAULT_DIM, HashingEmbedder
from vector_search_ner_spark.functions.vector import l2_norm, to_double_array
from vector_search_ner_spark.sources.catalog import load_table

ARTIFACT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "_artifacts",
)

# bump when the embedding definition OR the store schema changes —
# part of the artifact key, so old stores are retired
# (v2: added the pre-cast dvec_d array<double> scoring column)
EMBEDDER_VERSION = 2

# each opened store path's schema, kept in process: the path is
# fingerprint-keyed, so a stored schema cannot go stale, and opening
# with it skips the footer-read job of parquet schema inference
_SCHEMAS: dict[str, StructType] = {}


def _store_path(sf_dir: str, dim: int) -> str:
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{src}:{st.st_mtime_ns}:{st.st_size}:dim={dim}:v{EMBEDDER_VERSION}".encode()
    ).hexdigest()[:16]
    # one directory level per (corpus, dim) so stale generations
    # (fixture refresh, embedder bump) can be garbage-collected on
    # rebuild without touching other corpora or dims
    corpus = sf_dir.strip("/").replace("/", "_")
    return os.path.join(ARTIFACT_DIR, "vecstore", f"{corpus}_d{dim}", key)


def doc_vector_store(
    spark: SparkSession, sf_dir: str, dim: int = DEFAULT_DIM
) -> DataFrame:
    """Open the persisted doc vector store for `sf_dir`, building it
    first if this corpus fingerprint has never been embedded.

    Columns: doc_id, text, lang, dvec array<float>, dvec_d
    array<double> (the pre-cast scoring twin — scoring always casts to
    double anyway, so casting once at build time is bit-identical and
    saves two interpreted casts per element per pair), __dnorm double.
    The build is the map-only Arrow-batched embed (one corpus scan, no
    shuffle); the read is a plain parquet scan that prunes to whatever
    columns the consumer selects. Only a path's first open in a process
    infers the schema; later opens fire no job.
    """
    path = _store_path(sf_dir, dim)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # retire stale generations of THIS corpus before building the
        # new one (the reference's rm -rf + rebuild, scoped per corpus)
        parent = os.path.dirname(path)
        if os.path.isdir(parent):
            import shutil

            for old in os.listdir(parent):
                shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
        emb = HashingEmbedder(dim)
        built = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .withColumn("dvec", emb.embed_col(F.col("text")))
            .withColumn("dvec_d", to_double_array(F.col("dvec")))
            .withColumn("__dnorm", l2_norm(F.col("dvec")))
        )
        built.write.mode("overwrite").parquet(path)
    schema = _SCHEMAS.get(path)
    if schema is None:
        store = spark.read.parquet(path)
        _SCHEMAS[path] = store.schema
        return store
    return spark.read.schema(schema).parquet(path)
