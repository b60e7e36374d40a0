"""Embedding similarity operators (`operators/similarity.py`) on
degenerate inputs."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

from greenplum_cdc_spark.operators.similarity import IVF_QUERIES, N_QUERIES


def test_no_query_vectors_answers_the_oracles(spark, sf_copy, oracle_problems):
    """Embeddings whose vec_ids all start past the query range: the
    scorers see an empty query side and, like the oracles, answer no
    rows."""
    import __spark_entry__ as entrymod

    path = os.path.join(sf_copy, "embeddings.parquet")
    table = pq.read_table(path)
    first = max(N_QUERIES, IVF_QUERIES)
    pq.write_table(table.filter(pc.greater_equal(table["vec_id"], first)), path)
    qs = entrymod.queries()
    for name in ("knn_cosine_bruteforce", "knn_ivf", "ivf_recall_sweep"):
        df = qs[name](spark, sf_copy)
        assert oracle_problems(sf_copy, name, df) == [], name
        assert df.count() == 0, name
