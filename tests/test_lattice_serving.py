"""The staged-retrieval lattices (plans/queries_pipeline: v2_lattice,
v2_lattice_topk and the v1 hybrid) as served operations: the
probe-matrix scoring kernel, their job budget and cache footprint per
call, degenerate inputs, and independence from the shuffle partition
count."""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import assert_frames_match, check_query
from vector_search_ner_spark.plans.queries_pipeline import PROBE_DDL


def _jobs(spark, tag: str, fn):
    """(fn(), number of Spark jobs fn fired), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _probe_rows(batch):
    """Probe rows for a batch of (query_id, region, job), built the way
    a serving client builds them: one main probe per request plus one
    per (request, synonym) pair."""
    from vector_search_ner_spark.plans.queries_pipeline import SYNONYMS

    rows = [(q, -1, r, j, None, " ".join(t for t in (r, j) if t)) for q, r, j in batch]
    rows += [
        (q, idx, r, j, syn, " ".join(t for t in (r, syn) if t))
        for term, syn, idx in SYNONYMS
        for q, r, j in batch
        if j == term
    ]
    return rows


def _oracle(batch, docs_parquet: str) -> pd.DataFrame:
    from vector_search_ner_spark.plans.queries_pipeline import _duck_staged_oracle, _sql_lit

    vals = ", ".join(f"({q}, {_sql_lit(r)}, {_sql_lit(j)})" for q, r, j in batch)
    sql = _duck_staged_oracle(qdef_cte=f"qdef(query_id, region, job) AS (VALUES {vals})")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_parquet}'")
        return con.execute(sql).df()
    finally:
        con.close()


@pytest.fixture
def tiny_corpus(tmp_path):
    """A 40-doc corpus with an empty-text doc; its vector store is
    removed afterwards."""
    from vector_search_ner_spark.sources.vecstore import _store_path

    words = ["scan", "join", "dup", "merge", "stream", "fast", "slow", "sort"]
    rng = np.random.default_rng(11)
    texts = [" ".join(rng.choice(words, size=int(rng.integers(2, 7)))) for _ in range(39)]
    texts.append("")
    sf = str(tmp_path / "corpus")
    os.makedirs(sf)
    pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": ["en" if i % 3 else "de" for i in range(len(texts))],
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"), index=False)
    yield sf
    shutil.rmtree(os.path.dirname(_store_path(sf, 64)), ignore_errors=True)


def test_probe_dots_bit_equal_to_fold(spark):
    """veckernel.probe_dots must equal the interpreted
    `dot_product_nc` fold bit for bit, per (row, probe), on seeded
    float32 vectors widened to double — zero vectors on both sides
    included; a NULL or wrong-length vector gives NULL, and an empty
    probe matrix gives empty arrays."""
    from vector_search_ner_spark.functions.vector import dot_product_nc
    from vector_search_ner_spark.operators.veckernel import probe_dots

    rng = np.random.default_rng(5)
    X = rng.standard_normal((300, 64)).astype(np.float32)
    X[[0, 17]] = 0.0
    P = rng.standard_normal((7, 64)).astype(np.float32)
    P[3] = 0.0
    rows = [(i, x.astype(np.float64).tolist()) for i, x in enumerate(X)]
    rows += [(300, None), (301, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    folds = [
        dot_product_nc(F.col("v"), F.array(*[F.lit(float(p)) for p in P[j]])).alias(f"f{j}")
        for j in range(len(P))
    ]
    got = df.select(
        "id",
        probe_dots("v", P.astype(np.float64)).alias("d"),
        probe_dots("v", np.zeros((0, 64))).alias("d0"),
        *folds,
    ).collect()
    assert len(got) == 302
    for r in got:
        want = [r[f"f{j}"] for j in range(len(P))]
        if r.id >= 300:
            assert r.d is None and r.d0 is None, r
            assert want == [None] * len(P), r
        else:
            assert r.d == want, r.id
            assert r.d0 == [], r.id


def test_lattice_serve_call_budget_and_no_cache_leak(spark, sf_dir):
    """Serving many batches must not accumulate cached relations, and
    one call (construction + collect) must stay within 5 Spark jobs for
    v2_lattice (the probe collect, the probe broadcast, and the one
    shuffle's map and result stages) and 6 for v2_lattice_topk (one
    more shuffle). The v1 hybrid, one shuffle too, stays within 5."""
    from vector_search_ner_spark.plans.queries_pipeline import (
        staged_retrieval_v1_hybrid,
        v2_lattice,
        v2_lattice_topk,
    )
    from vector_search_ner_spark.sources.vecstore import doc_vector_store

    doc_vector_store(spark, sf_dir)  # the store is built at set-up, not per call
    spark.catalog.clearCache()
    batches = [
        [(100, "scan", "join"), (101, None, "neardup"), (102, "qqqq", None)],
        [(200, "dup", "slow dup"), (201, "merge", None)],
        [(300, "fast", "neardup"), (301, None, "sort"), (302, "slow", "scan")],
        [(400, "stream", None)],
    ]
    for lattice, budget in ((v2_lattice, 5), (v2_lattice_topk, 6)):
        for i, batch in enumerate(batches):
            probes = spark.createDataFrame(_probe_rows(batch), PROBE_DDL)
            rows, n_jobs = _jobs(
                spark,
                f"{lattice.__name__}-call-{i}",
                lambda: lattice(spark, sf_dir, probes).collect(),
            )
            assert rows, (lattice.__name__, batch)
            assert n_jobs <= budget, (lattice.__name__, i, n_jobs)
    for i in range(2):
        rows, n_jobs = _jobs(
            spark, f"v1-hybrid-call-{i}", lambda: staged_retrieval_v1_hybrid(spark, sf_dir).collect()
        )
        assert rows
        assert n_jobs <= 5, ("staged_retrieval_v1_hybrid", i, n_jobs)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), "a lattice left cached relations behind"


def test_lattice_degenerate_inputs(spark, tiny_corpus):
    """No raise on an empty probe batch, a probe with empty text (both
    fields absent), or a doc with empty text, in either v2 lattice; the
    non-empty batch still equals its oracle."""
    from vector_search_ner_spark.plans.queries_pipeline import v2_lattice, v2_lattice_topk

    empty = spark.createDataFrame([], PROBE_DDL)
    batch = [(0, "scan", "join"), (1, None, None), (2, "slow", "neardup"), (3, "fast", "qqqq")]
    probes = spark.createDataFrame(_probe_rows(batch), PROBE_DDL)
    want = _oracle(batch, os.path.join(tiny_corpus, "documents.parquet"))
    for lattice in (v2_lattice, v2_lattice_topk):
        assert lattice(spark, tiny_corpus, empty).collect() == [], lattice.__name__
        got = lattice(spark, tiny_corpus, probes).toPandas()
        assert set(got.query_id) == {0, 1, 2, 3}, lattice.__name__
        assert_frames_match(got, want, lattice.__name__)


def test_lattice_partition_count_invariant(spark, sf_dir):
    """The lattices' stage windows rest on query_id co-location after
    their shuffle, so answers must not move with the partition count."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        for name in (
            "staged_retrieval_pipeline",
            "chat_pipeline_e2e",
            "staged_retrieval_topk_scale",
            "staged_retrieval_v1_hybrid",
        ):
            check_query(spark, name, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_vecstore_reopen_fires_no_job(spark, sf_dir):
    """Opening a store that was opened before in this process must not
    re-infer its parquet schema (one footer-read job per open)."""
    from vector_search_ner_spark.sources.vecstore import doc_vector_store

    first = doc_vector_store(spark, sf_dir)
    again, n_jobs = _jobs(spark, "vecstore-reopen", lambda: doc_vector_store(spark, sf_dir))
    assert n_jobs == 0
    assert again.schema == first.schema
