"""Driver-cost tripwire for the IVF faces: py4j commands sent while a
face's DataFrame is CONSTRUCTED (not executed).

The pinned IVF pivots are a small (cell, cent) relation fed to the
same assign/probe kernels as trained pivots. Rebuilding them as plan
literals (16 x 64 ``F.lit`` nodes, one py4j round trip each) costs
~17k extra commands per face. Each cap below is about twice the count
measured with the relation form at sf0.001, so that regression trips
it while ordinary plan growth does not.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import vector
from generative_ai_vector_db_spark.streaming import ingest_stream as ist
from generative_ai_vector_db_spark.tables import load

# py4j sends this when Python garbage-collects a JVM object proxy; when
# that happens depends on the collector, not on the code under test
_GC_COMMAND = "m\nd\n"


@contextmanager
def _count_py4j():
    """Yields a one-element list holding the number of py4j commands
    sent inside the block, object-release commands left out."""
    from py4j import clientserver, java_gateway

    box = [0]
    saved = []
    for cls in (
        clientserver.ClientServerConnection,
        java_gateway.GatewayConnection,
    ):
        orig = cls.send_command

        def send_command(conn, command, *args, _orig=orig, **kwargs):
            if not command.startswith(_GC_COMMAND):
                box[0] += 1
            return _orig(conn, command, *args, **kwargs)

        cls.send_command = send_command
        saved.append((cls, orig))
    try:
        yield box
    finally:
        for cls, orig in saved:
            cls.send_command = orig


# measured with the relation form: q325 1,290 / q349 1,720 /
# q360 3,479 / q362 1,955 / q363 3,526 / q364 2,678; the plan-literal
# form measured 18,110 / 18,553 / 20,299 / 18,788 / 37,183 / 19,511
REGISTRY_CAPS = {
    "q325_portable_ivf_ann": 2_600,
    "q349_ivf_nprobe_curve": 3_500,
    "q360_ann_ensemble_recall": 7_000,
    "q362_portable_ivfpq_ann": 4_000,
    "q363_ivfpq_recall_eval": 7_000,
    "q364_pq_shortlist_curve": 5_400,
}
# measured 1,715 (relation) / 18,408 (plan literals)
QUERY_INDEX_CAP = 3_500


@pytest.mark.parametrize("name", sorted(REGISTRY_CAPS))
def test_ivf_face_construction_py4j_cap(spark, sf_dir, name):
    fn = getattr(vector, name)
    with _count_py4j() as n:
        fn(spark, sf_dir)
    assert n[0] <= REGISTRY_CAPS[name], n[0]


def test_query_vector_index_construction_py4j_cap(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index = os.path.join(str(tmp_path), "idx")
    ist.seed_vector_index(spark, emb, index)
    q_emb = emb.where(F.col("vec_id") == 7)
    with _count_py4j() as n:
        ist.query_vector_index(spark, index, q_emb, 7)
    assert n[0] <= QUERY_INDEX_CAP, n[0]
