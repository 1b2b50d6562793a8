"""IVF ANN: recall vs brute force on clustered synthetic vectors."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.similarity import brute_force_topk, ivf_topk


@pytest.fixture(scope="module")
def vec_data(spark):
    rng = np.random.default_rng(9)
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


def test_ivf_recall(spark, vec_data):
    df, queries = vec_data
    exact = brute_force_topk(df, queries, k=10).toPandas()
    approx = ivf_topk(df, queries, k=10, dim=32, n_centroids=16, n_probe=4).toPandas()
    recall_per_q = []
    for qid in exact["qid"].unique():
        e = set(exact.loc[exact.qid == qid, "vec_id"])
        a = set(approx.loc[approx.qid == qid, "vec_id"])
        recall_per_q.append(len(e & a) / len(e))
    assert np.mean(recall_per_q) >= 0.9  # clustered data: IVF probes the right lists


def test_ivf_full_probe_equals_exact(spark, vec_data):
    """Probing every list is exhaustive search -> identical to brute force."""
    df, queries = vec_data
    exact = brute_force_topk(df, queries, k=5).toPandas()
    full = ivf_topk(df, queries, k=5, dim=32, n_centroids=8, n_probe=8).toPandas()
    key = ["qid", "rnk"]
    e = exact.sort_values(key).reset_index(drop=True)
    f = full.sort_values(key).reset_index(drop=True)
    assert (e["vec_id"].to_numpy() == f["vec_id"].to_numpy()).all()
