"""IVF-PQ ANN: recall vs brute force; code compactness; determinism.

Reference analog: none in GeoMesa (LLM-pipeline operator); the PQ recipe
is Jegou/Douze/Schmid TPAMI 2011, the IVF routing mirrors
operators/similarity.py's existing ivf_topk.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.similarity import (
    MAX_ADC_LUT_QUERIES,
    brute_force_topk,
    build_pq_index,
    pq_encode,
    pq_topk,
    pq_topk_indexed,
    train_pq_codebooks,
)


@pytest.fixture(scope="module")
def vec_data(spark):
    rng = np.random.default_rng(17)
    centers = rng.normal(size=(10, 32))
    idx = rng.integers(0, 10, 800)
    X = centers[idx] + rng.normal(scale=0.3, size=(800, 32))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(800), "embedding": [v.astype(np.float32).tolist() for v in X]}
    )
    df = spark.createDataFrame(pdf)
    queries = (
        df.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    return df, queries


def _recall(exact: pd.DataFrame, approx: pd.DataFrame) -> float:
    per_q = []
    for qid in exact["qid"].unique():
        e = set(exact.loc[exact.qid == qid, "vec_id"])
        a = set(approx.loc[approx.qid == qid, "vec_id"])
        per_q.append(len(e & a) / len(e))
    return float(np.mean(per_q))


def test_pq_rerank_recall(spark, vec_data):
    """ADC candidates + exact rerank: the production configuration."""
    df, queries = vec_data
    exact = brute_force_topk(df, queries, k=10).toPandas()
    # rerank = 10x k: the standard IVF-PQ setting — ADC's reconstruction
    # noise (~0.23 L2 on unit vectors at m=8,ksub=32) scatters the tight
    # top-10 boundary of clustered data out to ADC rank ~60, so the
    # exact-rerank pool must cover that spread
    approx = pq_topk(
        df, queries, k=10, dim=32, m=8, ksub=32,
        n_centroids=16, n_probe=4, rerank=100,
    ).toPandas()
    assert _recall(exact, approx) >= 0.9
    # reranked sims are EXACT cosines: every reported sim matches brute
    # force's for the same (qid, vec_id) pair
    merged = approx.merge(exact, on=["qid", "vec_id"], suffixes=("_pq", "_bf"))
    assert len(merged) > 0
    assert np.allclose(merged["sim_pq"], merged["sim_bf"], atol=1e-9)


def test_pq_adc_only_containment(spark, vec_data):
    """Pure ADC ranking (rerank=0): on data with dense near-ties the
    8-byte codes cannot resolve the exact top-10 ORDER (measured
    recall@10 ~0.35 here — inherent reconstruction noise, not a bug),
    but the property rerank depends on must hold: the ADC top-100 pool
    CONTAINS nearly all of the true top-10."""
    df, queries = vec_data
    exact = brute_force_topk(df, queries, k=10).toPandas()
    pool = pq_topk(
        df, queries, k=100, dim=32, m=8, ksub=32,
        n_centroids=16, n_probe=4, rerank=0,
    ).toPandas()
    assert _recall(exact, pool) >= 0.9


def test_pq_codes_are_m_bytes_and_vector_dropped(spark, vec_data):
    """The index frame is the ONLY thing the candidate join shuffles:
    m bytes per row, raw embedding column gone."""
    df, _ = vec_data
    books = train_pq_codebooks(df, dim=32, m=8, ksub=32)
    assert books.shape == (8, 32, 4)
    index = pq_encode(df, books)
    assert "embedding" not in index.columns
    lens = index.select(F.length("pq_code").alias("n")).distinct().collect()
    assert [r["n"] for r in lens] == [8]


def test_pq_encode_deterministic(spark, vec_data):
    df, _ = vec_data
    books = train_pq_codebooks(df, dim=32, m=8, ksub=32)
    a = pq_encode(df, books).orderBy("vec_id").toPandas()
    b = pq_encode(df, books).orderBy("vec_id").toPandas()
    assert (a["pq_code"] == b["pq_code"]).all()
    # and training itself is seed-deterministic
    books2 = train_pq_codebooks(df, dim=32, m=8, ksub=32)
    assert np.array_equal(books, books2)


def test_pq_validation(spark, vec_data):
    df, _ = vec_data
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(df, dim=32, m=5)
    with pytest.raises(ValueError, match="uint8"):
        train_pq_codebooks(df, dim=32, m=8, ksub=512)


def test_pq_candidate_join_ships_codes_not_vectors(spark, vec_data):
    """Plan shape: the ADC scoring stage must not carry ANY vector — its
    udf input is (qid, pq_code); the raw embedding column reappears solely
    in the rerank-survivor join."""
    df, queries = vec_data
    out = pq_topk(
        df, queries, k=5, dim=32, m=8, ksub=32,
        n_centroids=8, n_probe=2, rerank=20,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    adc_lines = [line for line in plan.splitlines() if "adc_lut(" in line]
    assert adc_lines, "no ADC stage in plan"
    for line in adc_lines:
        assert "embedding" not in line and "qvec" not in line, line.strip()
    assert "pq_code" in plan


def test_pq_degenerate_inputs(spark, vec_data):
    df, queries = vec_data
    # empty queries: the correct empty frame (no driver-side AxisError)
    out = pq_topk(
        df, queries.filter("qid < 0"), k=5, dim=32, m=8, ksub=32,
        n_centroids=8, n_probe=2, rerank=10,
    )
    assert out.count() == 0
    # more queries than the broadcast LUTs allow: clear error, batch instead
    many = spark.range(MAX_ADC_LUT_QUERIES + 1).select(
        F.col("id").alias("qid"), F.array_repeat(F.lit(1.0), 32).alias("qvec")
    )
    with pytest.raises(ValueError, match="batch"):
        pq_topk(df, many, k=5, dim=32, m=8, ksub=32, n_centroids=8, n_probe=2)
    # empty vectors table: clear error, not a numpy traceback
    with pytest.raises(ValueError, match="empty"):
        train_pq_codebooks(df.filter("vec_id < 0"), dim=32, m=8, ksub=32)


def test_pq_tiny_table(spark, vec_data):
    """A table smaller than ksub and n_centroids: the codebooks pad with
    repeats and the coarse quantizer shrinks to the table size."""
    df, queries = vec_data
    tiny = df.filter(F.col("vec_id") < 10)
    out = pq_topk(
        tiny, queries.filter(F.col("qid") < 2), k=3, dim=32, m=8, ksub=32,
        n_centroids=16, n_probe=4, rerank=5,
    ).toPandas()
    assert len(out) > 0 and (out.groupby("qid")["rnk"].max() <= 3).all()


def test_ivf_trainer_empty_table_clear_error(spark, vec_data):
    from geomesa_spark.operators.similarity import train_ivf_centroids

    df, _ = vec_data
    with pytest.raises(ValueError, match="empty"):
        train_ivf_centroids(df.filter("vec_id < 0"), dim=32, n_centroids=8)


def test_pq_index_build_search_parity_and_pruning(spark, vec_data, tmp_path):
    """build_pq_index + pq_topk_indexed: identical results to the in-line
    pq_topk under the same trained model, and the probed lists appear as a
    STATIC PartitionFilter on the index scan (file-listing-time pruning —
    the storage layout IS the index, like the geo cell scheme)."""
    df, queries = vec_data
    path = str(tmp_path / "pqidx")
    books, cent = build_pq_index(
        df, path, dim=32, m=8, ksub=32, n_centroids=8
    )
    inline = pq_topk(
        df, queries, k=5, dim=32, m=8, ksub=32, n_centroids=8,
        n_probe=2, rerank=20, codebooks=books, centroids=cent,
    ).toPandas().sort_values(["qid", "rnk"]).reset_index(drop=True)
    indexed = pq_topk_indexed(
        spark, path, queries, k=5, n_probe=2, rerank=20, vectors=df,
    ).toPandas().sort_values(["qid", "rnk"]).reset_index(drop=True)
    assert (inline["vec_id"].to_numpy() == indexed["vec_id"].to_numpy()).all()
    assert np.allclose(inline["sim"], indexed["sim"], atol=1e-9)

    out = pq_topk_indexed(spark, path, queries, k=5, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    mpf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert mpf and "__list" in mpf.group(1), plan[:2000]


def test_pq_index_degenerate(spark, vec_data, tmp_path):
    from geomesa_spark.operators.similarity import build_pq_index, pq_topk_indexed

    df, queries = vec_data
    path = str(tmp_path / "pqidx2")
    build_pq_index(df, path, dim=32, m=8, ksub=32, n_centroids=8)
    # rerank without the vectors table: clear error
    with pytest.raises(ValueError, match="vectors"):
        pq_topk_indexed(spark, path, queries, k=5, rerank=10)
    # empty queries: empty frame, right columns
    out = pq_topk_indexed(spark, path, queries.filter("qid < 0"), k=5)
    assert out.count() == 0
    assert out.columns == ["qid", "vec_id", "sim", "rnk"]


def test_pq_empty_result_keeps_qid_type(spark, vec_data, tmp_path):
    """An int qid comes back as int whether or not there are queries: the
    empty result has the same schema as a non-empty one."""
    df, queries = vec_data
    path = str(tmp_path / "pqidx3")
    books, cent = build_pq_index(df, path, dim=32, m=8, ksub=32, n_centroids=8)
    qi = queries.select(F.col("qid").cast("int"), "qvec")
    for rerank in (0, 10):
        for search in (
            lambda q: pq_topk_indexed(
                spark, path, q, k=5, n_probe=2, rerank=rerank, vectors=df
            ),
            lambda q: pq_topk(
                df, q, k=5, dim=32, n_probe=2, rerank=rerank,
                codebooks=books, centroids=cent,
            ),
        ):
            full, empty = search(qi), search(qi.filter("qid < 0"))
            assert empty.count() == 0
            assert empty.schema == full.schema
            assert full.schema["qid"].dataType.simpleString() == "int"
