"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import duckdb
import numpy as np
import pytest

from perfbench import gen, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# ------------------------------------------------------------ generators


def _write_all(seed: int, out: str) -> dict[str, str]:
    curate, planted = gen.curate_corpus(seed)
    ids, x = gen.vectors(seed)
    files = {
        "serve": gen.write_table(gen.serve_corpus(seed), os.path.join(out, "serve"), "documents"),
        "index": gen.write_table(gen.index_corpus(seed), os.path.join(out, "index"), "documents"),
        "curate": gen.write_table(curate, os.path.join(out, "curate"), "documents"),
        "vectors": gen.write_table(gen.vector_frame(ids, x), os.path.join(out, "vec"), "embeddings"),
    }
    digests = {k: _digest(p) for k, p in files.items()}
    digests["planted"] = hashlib.sha256(repr(planted).encode()).hexdigest()
    q = gen.query_vectors(seed, 3)
    digests["queries"] = hashlib.sha256(b"".join(a.tobytes() for a in q)).hexdigest()
    texts = gen.serve_corpus(seed).text
    digests["requests"] = hashlib.sha256(repr(gen.serve_requests(seed, texts, 3)).encode()).hexdigest()
    return digests


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(5, str(tmp_path / "a"))
    b = _write_all(5, str(tmp_path / "b"))
    c = _write_all(6, str(tmp_path / "c"))
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_corpora_are_single_row_group_fixture_tables(tmp_path):
    import pyarrow.parquet as pq

    path = gen.write_table(gen.serve_corpus(1), str(tmp_path), "documents")
    f = pq.ParquetFile(path)
    assert f.metadata.num_row_groups == 1
    assert f.schema_arrow.names == ["doc_id", "text", "lang", "source", "n_chars"]


def test_index_tokens_exceed_the_embedder_token_cache():
    assert gen.distinct_tokens(gen.index_corpus(1).text) > 1.5 * gen.EMBEDDER_TOKEN_CACHE
    assert gen.distinct_tokens(gen.serve_corpus(1).text) < gen.EMBEDDER_TOKEN_CACHE


def test_every_serve_batch_reaches_every_lattice_stage():
    texts = list(gen.serve_corpus(3).text)
    for batch in gen.serve_requests(3, texts, 4):
        assert len(batch) == gen.SERVE_BATCH
        assert set(gen.CATEGORIES) <= {r["category"] for r in batch}
        for r in batch:
            assert gen.category_holds(texts, r["category"], r["region"], r["job"])


# ------------------------------------------------------------ statistics


def test_tail_needs_at_least_ten_samples_beyond():
    assert trace.tail([1.0] * 10) is None
    p, v, n = trace.tail([float(i) for i in range(11)])
    assert (n, v) == (11, 0.0) and p == pytest.approx(100 / 11)
    values = [float(i) for i in range(100)]
    p, v, n = trace.tail(values[::-1])
    assert (p, v, n) == (90.0, 89.0, 100)
    assert sum(x > v for x in values) == 10


# --------------------------------------------------------- metric names


def test_printed_metrics_match_benchmark_json():
    spec = _spec()
    ops = [(0, 2.0, {}, None), (1, 3.0, {}, None)]
    e2e = run.end_to_end_values(10.0, ops, 1, 5, 10, 1.0, 1.0)
    t = trace.Tracer(enabled=True)
    with t.span("op", kind="op"):
        with t.span("x", kind="call"):
            with t.span("x.construct", kind="construct"):
                pass
            with t.span("x.action", kind="action"):
                pass
    extra = {
        "sources.vecstore.doc_vector_store.open_s": 0.1,
        "embedder.HashingEmbedder.embed_col.texts_per_s": 1.0,
        "extractors.RuleBasedExtractor.extract.rows_per_s": 1.0,
        "spark.persisted_bytes_after": 0,
    }
    _every, layer = run.layer_values(t.finish({}), extra, ops, 5.0, 100, 2**30)
    for section, values in (("end_to_end", e2e), ("per_layer", layer)):
        line = json.loads(run.result_line(True, 2, 0, values, section))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [
            (m["name"], m["unit"]) for m in spec[section]
        ]
        assert set(values) == {m["name"] for m in spec[section]}


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in metrics)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_median_pass_sums_the_median_op_of_each_kind():
    ops = [(0, 3.0, 0, None), (1, 5.0, 1, None), (2, 2.0, 2, None), (3, 4.5, 3, None),
           (4, 1.0, None, "RuntimeError: boom"), (5, 6.0, 5, None)]
    assert run.median_pass(ops) == 4.5  # the raised op has no latency
    assert run.median_pass(ops, kinds=2) == 2.5 + 5.0


# -------------------------------------------------------------- failures


def test_traced_ops_alternate_so_drift_cancels():
    assert [run.is_traced(i) for i in range(8)] == [True, False, False, True] * 2


def test_raising_and_wrong_ops_count_as_failed():
    def op(i):
        if i == 1:
            raise RuntimeError("boom")
        return i

    ops = run.closed_loop(op, seconds=0.0)
    assert len(ops) == 1  # at least one op, even with no time left
    ops = [(i, 0.1, None if i == 1 else i, "RuntimeError: boom" if i == 1 else None)
           for i in range(4)]
    checks = {0: (True, 1.0), 2: (False, 0.5), 3: (True, 1.0)}
    attempted, failed, ok_frac, _recall = run.score(ops, checks)
    assert (attempted, failed, ok_frac) == (4, 2, 0.5)
    # ops without an approximate answer stay out of the recall
    checks = {0: (True, None), 2: (True, 0.8), 3: (True, None)}
    assert run.score(ops, checks)[3] == 0.4  # median of 0.0 (raised) and 0.8


def test_topk_check_rejects_a_wrong_answer():
    cost = np.array([0.5, 0.1, 0.9, 0.3, 0.7])
    right = [(1, 0.1), (3, 0.3)]
    assert workloads._topk_matches(right, cost, 2)
    assert not workloads._topk_matches([(1, 0.1), (0, 0.5)], cost, 2)  # not in the top 2
    assert not workloads._topk_matches([(1, 0.1), (3, 0.31)], cost, 2)  # wrong score
    assert not workloads._topk_matches([(1, 0.1)], cost, 2)  # too few rows


def test_serve_check_counts_a_wrong_answer_as_failed(tmp_path):
    w = workloads.Serve(2, str(tmp_path))
    w.generate()
    want = sorted(w.expected([0]))
    wrong = [(q, d, s + 1e-4 if n == 0 else s, k) for n, (q, d, s, k) in enumerate(want)]
    assert w.check(None, {0: {"rows": want, "n_probes": 10}})[0] == (True, 1.0)
    ok, recall = w.check(None, {0: {"rows": wrong, "n_probes": 10}})[0]
    assert not ok and recall < 1.0


@pytest.mark.parametrize("oracle", ["staged", "cc", "lsh"])
def test_materialized_oracles_return_the_same_rows(tmp_path, oracle):
    from vector_search_ner_spark.plans.queries_dedup import _duck_cc_clusters, _duck_lsh_clusters
    from vector_search_ner_spark.plans.queries_pipeline import _duck_staged_oracle

    sql, ctes = {
        "staged": (_duck_staged_oracle(), ("d_vec", "scored", "syn_scored")),
        "cc": (_duck_cc_clusters(), ("edges",)),
        "lsh": (_duck_lsh_clusters(), ("bands",)),
    }[oracle]
    corpus = gen.curate_corpus(4, n_base=100)[0] if oracle != "staged" else gen.serve_corpus(4, 400)
    path = gen.write_table(corpus, str(tmp_path), "documents")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    plain = sorted(con.execute(sql).fetchall())
    assert plain and plain == sorted(con.execute(workloads.materialized(sql, ctes)).fetchall())


def test_spec_records_the_generated_sizes():
    with open(os.path.join(ROOT, "perfbench", "SPEC.json")) as fh:
        sizes = {k: v["sizes"] for k, v in json.load(fh)["workloads"].items()}
    curate, planted = gen.curate_corpus(1)
    assert sizes["serve"] == {
        "corpus_rows": len(gen.serve_corpus(1)),
        "distinct_tokens": gen.distinct_tokens(gen.serve_corpus(1).text),
        "embedder_token_cache": gen.EMBEDDER_TOKEN_CACHE,
        "batch_requests": gen.SERVE_BATCH,
    }
    assert sizes["offline"]["dedup"] == {
        "corpus_rows": len(curate),
        "replicas": gen.CURATE_REPLICAS,
        "planted_duplicate_share": round(len(planted) / len(curate), 4),
    }
    assert sizes["offline"]["index"] == {
        "corpus_rows": gen.INDEX_DOCS,
        "distinct_tokens_seed_1": gen.distinct_tokens(gen.index_corpus(1).text),
        "embedder_token_cache": gen.EMBEDDER_TOKEN_CACHE,
    }
    assert sizes["offline"]["knn"] == {
        "vectors": gen.VEC_COUNT, "dim": gen.VEC_DIM, "mixture_centers": gen.VEC_CENTERS,
        "query_batch": gen.QUERY_BATCH, "k": workloads.KNN_K,
        "ivf_cells": workloads.IVF_CELLS, "ivf_nprobe": workloads.IVF_NPROBE,
    }
