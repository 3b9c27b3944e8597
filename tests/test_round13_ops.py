"""Round-13 operator tests: portable IVF-PQ (q362/q363) and the
stream-vs-batch near-dup equivalence graded at BOTH fixture scales
(VERDICT r12 items 3 and 6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import vector
from generative_ai_vector_db_spark.tables import load


def test_pq_codebooks_pinned_shape():
    books = vector._pq_codebooks()
    assert len(books) == vector.PPQ_M
    assert all(len(b) == vector.PPQ_KSUB for b in books)
    assert all(
        len(c) == vector.PPQ_SUB and set(map(abs, c)) == {vector.PPQ_SCALE}
        for b in books
        for c in b
    )
    # deterministic: a second call yields the identical stream
    assert books == vector._pq_codebooks()


def test_pq_encode_matches_numpy_reference(spark, sf_dir_t2):
    """The Arrow-batched encoder must equal a direct per-row numpy
    argmin over the pinned codebooks (first-min tie-break)."""
    import numpy as np

    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    codes = vector._int8_codes(emb).select("vec_id", "code").limit(200)
    got = {
        r["vec_id"]: list(r["pqc"])
        for r in vector._pq_encode(codes).collect()
    }
    B = np.array(vector._pq_codebooks(), dtype=np.int64)
    for r in codes.collect():
        c = np.array(r["code"], dtype=np.int64)
        want = []
        for m in range(vector.PPQ_M):
            blk = c[m * vector.PPQ_SUB : (m + 1) * vector.PPQ_SUB]
            d2 = ((blk[None, :] - B[m]) ** 2).sum(axis=1)
            want.append(int(d2.argmin()))
        assert got[r["vec_id"]] == want


def test_q362_structure(spark, sf_dir_t2):
    rows = vector.q362_portable_ivfpq_ann(spark, sf_dir_t2).collect()
    assert len(rows) == vector.K
    assert [r["rn"] for r in rows] == list(range(1, vector.K + 1))
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(r["vec_id"] != vector.BINARY_Q_ID for r in rows)


def test_q363_recall_floor(spark, sf_dir_t2):
    """The ADC shortlist must reach the IVF candidate-pool ceiling on
    the fixture (measured 9/13 at sf0.01 — same as q325/q326: the PQ
    stage loses nothing the coarse stage kept)."""
    row = vector.q363_ivfpq_recall_eval(spark, sf_dir_t2).collect()[0]
    assert row["k"] == vector.K
    assert row["n_common"] >= 9
    assert 0.0 < row["scan_frac"] < 0.5


def test_q362_topk_is_take_ordered(spark, sf_dir):
    from generative_ai_vector_db_spark.plans.audit import plan_of

    plan = plan_of(vector.q362_portable_ivfpq_ann(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_neardup_stream_equals_batch_both_scales(spark, sf, tmp_path):
    """VERDICT r12 item 6: stream output == q322 batch classification
    on the same fixture at sf0.01 AND sf0.1 — the graded equivalence
    artifact for the streaming near-dup face (q270/q191 pattern:
    the batch twin is driver-graded, this asserts the face equals
    it)."""
    from generative_ai_vector_db_spark.operators import dedup
    from generative_ai_vector_db_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_RESIDUE,
    )
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    docs = load(spark, sf, "documents").select("doc_id", "text")
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_RESIDUE
    store_docs, batch_docs = docs.where(~is_batch), docs.where(is_batch)

    index = str(tmp_path / "index")
    results = str(tmp_path / "results")
    src = str(tmp_path / "src")
    ist.seed_neardup_index(spark, store_docs, index)
    batch_docs.coalesce(1).write.parquet(src)
    ist.run_neardup_stream(spark, src, index, results, str(tmp_path / "ck"))

    got = (
        spark.read.parquet(results)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        dedup.q322_incremental_neardup(spark, sf)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got.equals(want[got.columns.tolist()])


def test_q364_curve_monotone(spark, sf_dir_t2):
    """Recall is non-decreasing in shortlist size; the largest sweep
    point reaches the q363 recall; n_short caps at the candidate
    pool."""
    rows = vector.q364_pq_shortlist_curve(spark, sf_dir_t2).collect()
    assert [r["shortlist"] for r in rows] == [
        m * vector.K for m in vector.PQ_SHORTLIST_SWEEP
    ]
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)
    full = vector.q363_ivfpq_recall_eval(spark, sf_dir_t2).collect()[0]
    # the 12K sweep point is exactly the production configuration
    at_12k = next(
        r for r in rows if r["shortlist"] == vector.PPQ_SHORTLIST
    )
    assert at_12k["recall"] == full["recall"]
    assert all(r["n_short"] <= full["n_cand"] for r in rows)


def test_q365_structure_and_reference(spark, sf_dir_t2):
    """Top-5 labels by MaxSim; scores match a direct pandas
    recomputation of sum-of-max rounded cosines."""
    import numpy as np

    rows = vector.q365_maxsim_late_interaction(spark, sf_dir_t2).collect()
    assert len(rows) == vector.MAXSIM_TOP
    assert [r["rn"] for r in rows] == list(range(1, vector.MAXSIM_TOP + 1))
    sims = [r["maxsim"] for r in rows]
    assert sims == sorted(sims, reverse=True)

    emb = load(spark, sf_dir_t2, "embeddings").toPandas()
    X = np.stack(emb["embedding"].to_numpy()).astype("float64")
    ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    Q = X[ids < vector.N_QUERY]
    mask = ids >= vector.N_QUERY
    C = X[mask]
    L = labels[mask]
    cos = (C @ Q.T) / (
        np.linalg.norm(C, axis=1)[:, None] * np.linalg.norm(Q, axis=1)[None, :]
    )
    cos = np.round(cos, 4)
    want = {}
    for lab in np.unique(L):
        want[int(lab)] = round(float(cos[L == lab].max(axis=0).sum()), 4)
    for r in rows:
        assert abs(want[int(r["label"])] - r["maxsim"]) < 1e-9


def test_q366_scaled_cells_shrink_blocks(spark, sf_dir_t2):
    """The scaled-cell variant must (a) produce a valid monotone
    threshold curve and (b) scan fewer within-block pairs than the
    16-cell q346 on the same fixture — the measured point of the
    cells ~ sqrt(N) scale path."""
    rows = vector.q366_semdedup_scaled_cells(spark, sf_dir_t2).collect()
    assert [r["tau"] for r in rows] == sorted(vector.SEMDEDUP_TAUS)
    pairs = [r["n_pairs"] for r in rows]
    assert pairs == sorted(pairs, reverse=True)  # higher tau, fewer pairs
    # r14: q346 is now a rung ladder with an n_cells column; compare
    # against its historical 16-cell rung (present at fixture scale)
    base = {
        r["tau"]: r["n_pairs"]
        for r in vector.q346_semdedup_cells(spark, sf_dir_t2).collect()
        if r["n_cells"] == 16
    }
    # at the loosest tau the candidate mass must shrink with 4x cells
    loosest = min(vector.SEMDEDUP_TAUS)
    got = next(r["n_pairs"] for r in rows if r["tau"] == loosest)
    assert got < base[loosest]


def test_scaled_assign_extends_pivot_stream():
    p16 = vector._ivf_pivots_n(vector.IVF_CELLS)
    p64 = vector._ivf_pivots_n(vector.SEMDEDUP_SCALED)
    assert p64[: len(p16)] == p16
    assert len(p64) == vector.SEMDEDUP_SCALED


def test_vector_index_stream_equals_batch_q362(spark, sf_dir_t2, tmp_path):
    """Stream-built index == batch q362: seed the persisted IVF-PQ
    index with 90% of the corpus, stream the remaining 10% in, then a
    query against the PERSISTED index must reproduce the batch
    operator's top-13 exactly. Replaying the stream with a fresh
    checkpoint must leave index and answer byte-identical
    (at-least-once convergence)."""
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    is_late = F.col("vec_id") % 10 == 3
    seed, late = emb.where(~is_late), emb.where(is_late)

    index = str(tmp_path / "vindex")
    src = str(tmp_path / "vsrc")
    ist.seed_vector_index(spark, seed, index)
    late.coalesce(1).write.parquet(src)
    ist.run_vector_index_stream(spark, src, index, str(tmp_path / "ck1"))

    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    got = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in ist.query_vector_index(
            spark, index, q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    want = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in vector.q362_portable_ivfpq_ann(spark, sf_dir_t2).collect()
    ]
    assert got == want

    n_codes = spark.read.parquet(index + "/codes").count()
    assert n_codes == emb.count()
    # replay with a fresh checkpoint: absorb must be idempotent
    ist.run_vector_index_stream(spark, src, index, str(tmp_path / "ck2"))
    assert spark.read.parquet(index + "/codes").count() == n_codes
    again = [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in ist.query_vector_index(
            spark, index, q_emb, vector.BINARY_Q_ID
        ).collect()
    ]
    assert again == want


@pytest.mark.parametrize("n_parts", [1, 2, 5, 32])
@pytest.mark.parametrize("n_rows", [0, 1, 7, 200])
@pytest.mark.parametrize("inclusive", [False, True])
def test_prefix_sums_parameter_sweep(spark, n_parts, n_rows, inclusive):
    """prefix_sums == unpartitioned window across partition widths,
    frame sizes (incl. empty and single-row) and both frame kinds —
    the r13 machinery exercised at its edges."""
    from pyspark.sql import Window

    from generative_ai_vector_db_spark.functions.prefix import prefix_sums

    df = (
        spark.range(n_rows)
        .select(
            ((F.col("id") * 131) % 10007).alias("v"),
            (F.col("id") % 5 + 1).alias("a"),
        )
        .groupBy("v")
        .agg(F.sum("a").alias("a"))
    )
    got = {
        r["v"]: r["p"]
        for r in prefix_sums(
            df, ["v"], {"a": "p"}, inclusive=inclusive, n_parts=n_parts
        ).collect()
    }
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0 if inclusive else -1
    )
    want = {
        r["v"]: r["p"]
        for r in df.select(
            "v", F.coalesce(F.sum("a").over(w), F.lit(0)).alias("p")
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("n_parts", [1, 3, 32])
def test_prefix_max_parameter_sweep(spark, n_parts):
    from pyspark.sql import Window

    from generative_ai_vector_db_spark.functions.prefix import prefix_max

    df = (
        spark.range(150)
        .select(
            ((F.col("id") * 37) % 149).alias("v"),
            ((F.col("id") * 11) % 23).alias("s"),
        )
        .groupBy("v")
        .agg(F.max("s").alias("s"))
    )
    got = {
        r["v"]: r["m"]
        for r in prefix_max(df, ["v"], "s", "m", n_parts=n_parts).collect()
    }
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["v"]: r["m"]
        for r in df.select("v", F.max("s").over(w).alias("m")).collect()
    }
    assert got == want


def test_q367_eprocess_reference(spark, sf_dir_t2):
    """log E_t matches a direct pandas recomputation of the Hoeffding
    e-process on running counts (exact dyadic arithmetic), and the
    running counts are monotone."""
    from generative_ai_vector_db_spark.operators import stats

    rows = stats.q367_anytime_ab_monitor(spark, sf_dir_t2).collect()
    assert [r["day"] for r in rows] == sorted(r["day"] for r in rows)
    n_prev = k_prev = 0
    for r in rows:
        assert r["n_t"] >= n_prev and r["k_t"] >= k_prev
        n_prev, k_prev = r["n_t"], r["k_t"]
        want = 0.125 * (2 * r["k_t"] - r["n_t"]) - 0.0078125 * r["n_t"]
        # dyadic values tie at the 7th decimal; Spark rounds HALF_UP
        # while Python round() is banker's — mirror Spark's rule
        from decimal import ROUND_HALF_UP, Decimal

        want6 = float(
            Decimal(repr(want)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert abs(r["log_e"] - want6) < 1e-12
        assert r["rejected"] == int(want >= stats.AB_E_LOG_THRESHOLD)


def test_q368_edetector_reference(spark, sf_dir_t2):
    """log E_t matches a pandas recomputation from raw events (exact
    integer path), monitored days exclude the reference window, and
    the running count is monotone."""
    import pandas as pd

    from generative_ai_vector_db_spark.operators import stats

    rows = stats.q368_drift_edetector(spark, sf_dir_t2).collect()
    ev = (
        load(spark, sf_dir_t2, "events")
        .where(F.col("event_type") == stats.DRIFT_TYPE)
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .toPandas()
    )
    days = sorted(ev["day"].unique())
    ref_days = set(days[: stats.DRIFT_REF_DAYS])
    ref = ev[ev["day"].isin(ref_days)]
    n_ref, s_ref = len(ref), int(ref["cents"].sum())
    r_ref = int(ref["cents"].max() - ref["cents"].min())
    mon = ev[~ev["day"].isin(ref_days)].sort_values("day")
    assert [r["day"] for r in rows] == days[stats.DRIFT_REF_DAYS :]
    a_t = n_t = 0
    got = {r["day"]: r for r in rows}
    for day, g in mon.groupby("day", sort=True):
        a_t += n_ref * int(g["cents"].sum()) - len(g) * s_ref
        n_t += len(g)
        lam = stats.DRIFT_E_LAMBDA
        want = lam * (a_t / (n_ref * r_ref)) - lam * lam / 2.0 * n_t
        r = got[day]
        assert r["n_t"] == n_t
        assert abs(r["log_e"] - round(want, 6)) < 2e-6
        assert r["rejected"] == int(want >= stats.DRIFT_E_LOG_THRESHOLD)
