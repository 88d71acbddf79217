"""Embedding interface — the engine's version of the reference's
SentenceTransformer wrappers (`embed_documents`/`embed_query`,
/root/reference/build_vectorstore.py:38-44, main.py:40-46).

Two implementations behind one shape (DataFrame in, DataFrame out with
an `array<float>` column):

  * HashingEmbedder — deterministic feature-hashing embedder (Arrow-
    batched pandas UDF, numpy-vectorized): the oracle-safe test path.
  * SentenceTransformerEmbedder — the model-backed drop-in, gated
    behind an import-try (the model libs aren't in this image).

At scale the UDF path is the right shape regardless of model: Arrow
batches flow per-partition, model weights load once per executor
(lazily, in the UDF), and no shuffle is introduced.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


@lru_cache(maxsize=4)
def _load_st_model(model_name: str):  # pragma: no cover - lib not in image
    """Memoized per-worker model load: each executor's Python worker
    constructs the SentenceTransformer ONCE per model name; subsequent
    Arrow batches reuse it (loading per batch would dominate runtime)."""
    from sentence_transformers import SentenceTransformer

    return SentenceTransformer(model_name)


@lru_cache(maxsize=65536)
def _token_slot_sign(token: str, dim: int) -> tuple[int, float]:
    h = int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)
    return h % dim, 1.0 if (h >> 8) & 1 else -1.0


_WS = None  # compiled lazily: ASCII \s+, matching Java regex \s and RE2


def _tokens(t: str) -> list[str]:
    r"""ASCII-whitespace tokenization — the SAME class Java's \s+ (JVM
    twin) and RE2's \s+ (DuckDB oracle) split on. Python str.split()
    would also split on Unicode whitespace (\xa0, \u2028, ...) and
    silently diverge from both."""
    global _WS
    if _WS is None:
        import re

        _WS = re.compile(r"\s+", re.ASCII)
    return [tok for tok in _WS.split(t or "") if tok]


def embed_texts_numpy(texts: pd.Series, dim: int = DEFAULT_DIM) -> list[list[float]]:
    """Feature-hashing embedding: tokens hash to (slot, sign); vector
    is the L2-normalized slot histogram. Pure, deterministic."""
    out = []
    for t in texts:
        vec = np.zeros(dim, dtype=np.float64)
        for tok in _tokens(t):
            slot, sign = _token_slot_sign(tok, dim)
            vec[slot] += sign
        n = np.linalg.norm(vec)
        if n > 0:
            vec = vec / n
        out.append([float(x) for x in vec.astype(np.float32)])
    return out


class HashingEmbedder:
    # one UDF object per dim, shared across instances: repeating a
    # query over the SAME input then builds a canonically-equal plan,
    # which Spark's cache manager can match against an earlier persist.
    # A different input (every new query batch) is a different plan, so
    # a per-call persist still adds one cache entry per call
    _udf_cache: dict[int, object] = {}

    def __init__(self, dim: int = DEFAULT_DIM):
        self.dim = dim

    def udf(self):
        cached = HashingEmbedder._udf_cache.get(self.dim)
        if cached is not None:
            return cached
        dim = self.dim

        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def embed(texts: pd.Series) -> pd.Series:
            return pd.Series(embed_texts_numpy(texts, dim))

        HashingEmbedder._udf_cache[self.dim] = embed
        return embed

    def embed_col(self, text: Column) -> Column:
        return self.udf()(text)


class SentenceTransformerEmbedder:
    """Model-backed embedder (reference used all-MiniLM-L6-v2 / KURE-v1,
    build_vectorstore.py:31-47). Optional drop-in; requires
    sentence-transformers at runtime — OR an injected `encoder`
    callable (list[str] -> sequence of float vectors), which lets the
    REAL adapter path (null-fill, batch fan-out, float cast, Arrow UDF
    shape) be unit-tested without the model libs
    (tests/test_semantics.py)."""

    def __init__(
        self,
        model_name: str = "sentence-transformers/all-MiniLM-L6-v2",
        encoder=None,
    ):
        if encoder is None:  # pragma: no cover - lib not in image
            try:
                import sentence_transformers  # noqa: F401
            except ImportError as e:
                raise NotImplementedError(
                    "sentence-transformers is not installed in this environment; "
                    "use HashingEmbedder for deterministic runs or inject an "
                    "encoder callable"
                ) from e
        self.model_name = model_name
        self.encoder = encoder

    def _encode(self, texts: list[str]):
        if self.encoder is not None:
            return self.encoder(texts)
        return _load_st_model(self.model_name).encode(texts)  # pragma: no cover

    def udf(self):
        embedder = self

        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def embed(texts: pd.Series) -> pd.Series:
            # nulls embed as empty strings (reference fillna discipline);
            # model/encoder loads once per executor worker, batches flow
            # through Arrow
            vecs = embedder._encode(texts.fillna("").tolist())
            return pd.Series([[float(x) for x in v] for v in vecs])

        return embed

    def embed_col(self, text: Column) -> Column:
        return self.udf()(text)


def hashing_embed_frame(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "embedding",
    dim: int = DEFAULT_DIM,
):
    """The SAME feature-hashing embedding as HashingEmbedder with ZERO
    Python: explode token hashes → hash-aggregate signed counts per
    (id, slot) → assemble the dense vector → L2-normalize + float32
    cast, all built-in JVM expressions (the exact dataflow of the
    DuckDB oracle CTE). Bit-for-bit equal to the UDF: slot sums are
    integer-valued doubles so partial-aggregation order can't change
    them, and the final x/norm float32 cast matches — asserted in
    tests/test_semantics.py.

    Trade vs the UDF, honestly: the UDF is MAP-ONLY (no shuffle, but
    Python workers + Arrow transfer); this variant shuffles twice
    (token histogram, then per-doc assembly — both slim integer rows
    with map-side partial aggregation) but keeps the whole stage
    JVM-side. A first attempt as a per-row higher-order-function
    expression (64 nested aggregate() folds) is a trap: Spark
    evaluates higher-order functions INTERPRETED, not codegen, and it
    ran ~1000× slower than either of these. (The small per-row folds
    kept here — 64-element normalization — are fine; the trap is
    dim × tokens.) Rows with empty text get the zero vector via the
    left join back to the source frame."""
    from vector_search_ner_spark.functions.text import stable_long_hash

    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    th = F.transform(toks, stable_long_hash)
    exploded = df.select(F.col(id_col), F.explode(th).alias("hv"))
    slotted = exploded.select(
        id_col,
        (F.col("hv") % dim).cast("int").alias("slot"),
        F.when((F.shiftright("hv", 8).bitwiseAND(F.lit(1))) == 1, 1.0)
        .otherwise(-1.0)
        .alias("sign"),
    )
    hist = (
        slotted.groupBy(id_col, "slot")
        .agg(F.sum("sign").alias("v"))
        .groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("slot", "v"))).alias("m"))
    )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.coalesce(F.element_at(F.col("m"), d), F.lit(0.0)),
    )
    withraw = df.join(hist, id_col, "left").withColumn("__raw", raw)
    norm = F.sqrt(
        F.aggregate(F.col("__raw"), F.lit(0.0), lambda a, x: a + x * x)
    )
    emb = F.when(
        norm > 0.0, F.transform(F.col("__raw"), lambda x: (x / norm).cast("float"))
    ).otherwise(
        F.transform(F.col("__raw"), lambda x: F.lit(0.0).cast("float"))
    )
    return withraw.withColumn(out_col, emb).drop("m", "__raw")
