"""Contract locks for the single-query ANN kernels in operators/vector.py
that every ANN face, recall evaluator and persisted-index query shares:
_cosine_topk (exact re-rank), _recall_at_k, _adc_rank (PQ shortlist
order) and _hyperplane_candidates (multiprobe). Each test pins a rule
the oracle grade checks only weakly (tie order, output types, the
empty-overlap row, probe scope), plus the NN-descent init-duplicate
case (ADVICE r16 #1) against the DuckDB oracle.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import vector
from generative_ai_vector_db_spark.tables import load


def _round4(x: float) -> float:
    # Spark's round(double, 4): HALF_UP on the shortest decimal repr
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _numpy_cosines(X: np.ndarray, q: np.ndarray) -> np.ndarray:
    """V.cosine's arithmetic: float64 products summed left to right."""
    dot = np.cumsum(X * q[None, :], axis=1)[:, -1]
    nx = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
    nq = np.sqrt(np.cumsum(q * q)[-1])
    return dot / (nx * nq)


@pytest.mark.parametrize("q_id", [0, 1, 2])
def test_cosine_topk_matches_numpy_with_planted_tie(spark, sf_dir, q_id):
    pdf = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    q = X[ids == q_id][0]
    # plant a tie: a copy of the query's nearest neighbour under a
    # larger id must rank right after it (vec_id ASC breaks the tie)
    others = ids != q_id
    nn = int(ids[others][np.argmax(_numpy_cosines(X[others], q))])
    twin = int(ids.max()) + 1
    rows = [
        (int(i), [float(x) for x in e]) for i, e in zip(ids, pdf["embedding"])
    ]
    rows.append((twin, rows[int(np.flatnonzero(ids == nn)[0])][1]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    X = np.vstack([X, X[ids == nn]])
    ids = np.append(ids, twin)

    qv = emb.where(F.col("vec_id") == q_id).select(
        F.col("embedding").alias("q_emb")
    )
    got = vector._cosine_topk(emb.where(F.col("vec_id") != q_id), qv)
    assert dict(got.dtypes) == {
        "vec_id": "bigint", "cos_sim": "double", "rn": "bigint"
    }

    keep = ids != q_id
    cos = [_round4(float(c)) for c in _numpy_cosines(X[keep], q)]
    want = sorted(zip(cos, ids[keep].tolist()), key=lambda t: (-t[0], t[1]))
    want = [(int(v), c, rn) for rn, (c, v) in enumerate(want[: vector.K], 1)]
    assert [tuple(r) for r in got.collect()] == want
    assert [w[0] for w in want[:2]] == [nn, twin]
    assert q_id not in {w[0] for w in want}


def test_recall_at_k_disjoint_frames_yield_one_zero_row(spark):
    ann = spark.createDataFrame([(1,), (2,), (3,)], "vec_id bigint")
    exact = spark.createDataFrame([(4,), (5,)], "vec_id bigint")
    rows = vector._recall_at_k(ann, exact).collect()
    assert [tuple(r) for r in rows] == [(vector.K, 0, 0.0)]
    rows = vector._recall_at_k(ann, ann).collect()
    assert [tuple(r) for r in rows] == [(vector.K, 3, 3 / vector.K)]


def test_adc_rank_breaks_equal_adc_by_vec_id(spark):
    # qt[m][k] = k, so adc = sum of the row's PQ codes
    qt = spark.createDataFrame(
        [([list(range(vector.PPQ_KSUB))] * vector.PPQ_M,)],
        "qt array<array<bigint>>",
    )
    M = vector.PPQ_M
    pq = spark.createDataFrame(
        [
            (9, [0] * (M - 1) + [1]),
            (5, [0] * M),
            (1, [2] * M),
            (3, [0] * M),
            (7, [1] + [0] * (M - 1)),
        ],
        "vec_id bigint, pqc array<bigint>",
    )
    got = [tuple(r) for r in vector._adc_rank(pq, qt).orderBy("srn").collect()]
    assert got == [
        (3, 0, 1), (5, 0, 2), (7, 1, 3), (9, 1, 4), (1, 2 * M, 5)
    ]


def test_hyperplane_candidates_exclude_query_and_dedup(spark):
    q_id = 0
    buckets = spark.createDataFrame(
        [
            (q_id, 0, 0b00000000), (q_id, 1, 0b11111111),
            # collides with the query in BOTH tables: reported once
            (1, 0, 0b00000000), (1, 1, 0b11111111),
            # one flip away in table 0 only
            (2, 0, 0b00000001), (2, 1, 0b00011111),
            # two flips away in table 1 only
            (3, 0, 0b00000111), (3, 1, 0b11111100),
            # three flips away in both tables: outside the probe set
            (4, 0, 0b00000111), (4, 1, 0b11111000),
            # each bucket equals the query's bucket of the OTHER table
            (5, 0, 0b11111111), (5, 1, 0b00000000),
        ],
        "vec_id bigint, tbl int, bucket bigint",
    )
    got = vector._hyperplane_candidates(
        buckets, buckets.where(F.col("vec_id") == q_id), q_id
    ).collect()
    assert sorted(r["vec_id"] for r in got) == [1, 2, 3]


def test_q347_init_duplicates_match_oracle(spark, sf_dir, tmp_path):
    """74 vectors: max(vec_id)+1 = 2 * NNG_STRIDE, so init offsets
    j = 1, 3, 5 all land on u + 37 and the even ones on u itself.
    The duplicate init pairs must not change the graph: Spark's
    collect_set drops them, the oracle's g0 keeps them until its
    round-1 UNION, and both answers agree."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .oracle_utils import canonicalize

    n = 74
    assert len({(j * vector.NNG_STRIDE) % n for j in (1, 3, 5)}) == 1
    src = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    tbl = src.filter(pc.less(src["vec_id"], n))
    assert tbl.num_rows == n
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(tbl, path)

    got = vector.q347_portable_graph_ann(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        want = con.sql(vector.Q347_SQL).df()
    finally:
        con.close()
    # one distinct init neighbour per node keeps the visited set small
    assert len(got) > 0
    assert canonicalize(got) == canonicalize(want)
