"""Round-15 operator tests: the compact_index crash window closed via
the two-rename swap + read-side recovery (VERDICT r14 item 3), the
monitor kinds inside the unified index catalog (item 4), bench.py's
rep-relative contention verdict (item 2), and regression locks for the
r14 ADVICE fixes (half-dropped dir cannot leak stale components into a
re-created index; monitor cold-start reads as empty instead of
throwing)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from generative_ai_vector_db_spark.operators import vector
from generative_ai_vector_db_spark.tables import load

SF_T1 = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# bench.py contention verdict (VERDICT r14 item 2): the point probe's
# false-negative mode — contention that lands on the measured queries
# but misses the 2-second probe window — must be caught by the kept
# reps' own spread. Unit-tested on the exact BENCH_r14.json shape that
# exposed the bug.
# --------------------------------------------------------------------------
def test_contention_verdict_rep_relative():
    import bench

    # the recorded BENCH_r14 evidence: probes flagged only the DROPPED
    # rep (index 2), yet the kept totals spread 97% — must now flag.
    v = bench.contention_verdict(
        probe_times=[0.332, 0.353, 0.749, 0.363],
        kept_idx=[0, 1, 3],
        kept_totals=[178.109, 90.428, 102.964],
    )
    assert v["contended"] is True
    assert v["contended_probe"] is False  # the probe alone missed it
    assert v["contended_rep_relative"] is True
    assert v["contended_spread"] is True

    # a quiet session must stay unflagged
    q = bench.contention_verdict(
        probe_times=[0.33, 0.34, 0.35, 0.33],
        kept_idx=[0, 1, 3],
        kept_totals=[80.1, 81.5, 79.9],
    )
    assert q["contended"] is False
    assert not any(
        q[k]
        for k in (
            "contended_probe",
            "contended_rep_relative",
            "contended_spread",
        )
    )

    # the original probe rule still fires when a KEPT rep's probe blew
    # past the session median, even with tight totals
    p = bench.contention_verdict(
        probe_times=[0.33, 0.99, 0.35, 0.33],
        kept_idx=[0, 1, 3],
        kept_totals=[80.1, 84.5, 79.9],
    )
    assert p["contended"] is True and p["contended_probe"] is True


def test_steal_jiffies_ground_truth(tmp_path, monkeypatch):
    """_steal_jiffies reads the cumulative steal counter (field 9 of
    /proc/stat's cpu line) and degrades to 0 when the file is absent
    or malformed — the bench must never crash over its own
    diagnostics."""
    import bench

    # on this Linux host the real counter is a non-negative int and
    # monotone across a read
    a = bench._steal_jiffies()
    assert isinstance(a, int) and a >= 0
    assert bench._steal_jiffies() >= a

    real_open = open

    def fake_open(path, *args, **kwargs):
        if path == "/proc/stat":
            return real_open(tmp_path / "stat", *args, **kwargs)
        return real_open(path, *args, **kwargs)

    (tmp_path / "stat").write_text("cpu  1 2 3 4 5 6 7 4242 9 10\n")
    monkeypatch.setattr("builtins.open", fake_open)
    assert bench._steal_jiffies() == 4242
    (tmp_path / "stat").write_text("garbage\n")
    assert bench._steal_jiffies() == 0
    (tmp_path / "stat").unlink()
    assert bench._steal_jiffies() == 0


# --------------------------------------------------------------------------
# compact_index crash windows (VERDICT r14 item 3): the old
# delete-then-rename swap had an instant with BOTH copies gone; the
# two-rename swap never does, and _recover_components (invoked by
# every catalog call via index_kind) repairs any crash state.
# --------------------------------------------------------------------------
def _ivfpq_answer(spark, root, name, emb):
    from generative_ai_vector_db_spark.operators import indexes as ix

    q_emb = emb.where(F.col("vec_id") == vector.BINARY_Q_ID)
    return [
        (r["vec_id"], r["cos_sim"], r["rn"])
        for r in ix.query_index(
            spark, root, name, q_emb, vector.BINARY_Q_ID
        ).collect()
    ]


def test_compact_crash_between_renames_recovers(
    spark, sf_dir_t2, tmp_path, monkeypatch
):
    """Kill the swap BETWEEN its two renames — the exact window the
    r14 delete-then-rename left unreadable — and verify the next
    catalog call still reads the component with pre-crash answers."""
    from generative_ai_vector_db_spark import fsutil
    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    ix.create_index(spark, root, "vec", "ivfpq", emb)
    # append a duplicate slice so compaction has real work to do
    ix.append_index(spark, root, "vec", emb.where(F.col("vec_id") % 7 == 0))
    want = _ivfpq_answer(spark, root, "vec", emb)
    assert len(want) == vector.K

    def crashing_swap(s, src, dst):
        # first rename only: live component moved aside, staged copy
        # NOT yet renamed into place — then the process "dies"
        dpath, fs = fsutil._hadoop_path_and_fs(s, dst)
        opath, _ = fsutil._hadoop_path_and_fs(s, dst + fsutil.OLD_SUFFIX)
        assert fs.rename(dpath, opath)
        raise RuntimeError("injected crash between the two renames")

    monkeypatch.setattr(fsutil, "swap_dir", crashing_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        ix.compact_index(spark, root, "vec")
    monkeypatch.undo()

    # the crash state is real: some component base dir is missing,
    # with its ._old and committed ._compacting leftovers present
    comp_dirs = os.listdir(os.path.join(root, "vec"))
    assert any(d.endswith("._old") for d in comp_dirs)
    assert any(d.endswith("._compacting") for d in comp_dirs)
    crashed = [d[: -len("._old")] for d in comp_dirs if d.endswith("._old")]
    assert crashed and all(c not in comp_dirs for c in crashed)

    # next catalog call recovers (rolls the committed stage FORWARD)
    # and answers exactly as before the crash
    assert _ivfpq_answer(spark, root, "vec", emb) == want
    comp_dirs = os.listdir(os.path.join(root, "vec"))
    assert not any(
        d.endswith("._old") or d.endswith("._compacting") for d in comp_dirs
    )
    # the rolled-forward component is the COMPACTED copy: the
    # duplicate appends are gone
    codes = spark.read.parquet(os.path.join(root, "vec", crashed[0]))
    assert codes.count() == codes.dropDuplicates(["vec_id"]).count()

    # a real compact afterwards still runs clean end-to-end
    res = {
        r["component"]: (r["rows_before"], r["rows_after"])
        for r in ix.compact_index(spark, root, "vec").collect()
    }
    assert set(res) == {"codes", "vectors"}
    assert _ivfpq_answer(spark, root, "vec", emb) == want


def test_compact_crash_during_staging_write(spark, sf_dir_t2, tmp_path):
    """A staging write that dies before committing (no _SUCCESS) with
    the base intact must be swept away, never rolled forward."""
    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    ix.create_index(spark, root, "vec", "hyperplane", emb)
    want = [
        (r["vec_id"], r["rn"])
        for r in ix.query_index(
            spark,
            root,
            "vec",
            emb.where(F.col("vec_id") == vector.BINARY_Q_ID),
            vector.BINARY_Q_ID,
        ).collect()
    ]

    # fake a died-mid-write stage: partial dir, no _SUCCESS marker.
    # Aged past COMPACT_STALE_MS — a FRESH base-present staging dir is
    # deliberately left alone (it may belong to a live compactor).
    stage = os.path.join(root, "vec", "buckets._compacting")
    os.makedirs(stage)
    with open(os.path.join(stage, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    from generative_ai_vector_db_spark.operators import indexes as ixmod

    old = time.time() - (ixmod.COMPACT_STALE_MS / 1000.0) - 60
    os.utime(stage, (old, old))

    got = [
        (r["vec_id"], r["rn"])
        for r in ix.query_index(
            spark,
            root,
            "vec",
            emb.where(F.col("vec_id") == vector.BINARY_Q_ID),
            vector.BINARY_Q_ID,
        ).collect()
    ]
    assert got == want
    assert not os.path.exists(stage)


def test_recovery_rolls_back_old_when_stage_uncommitted(
    spark, sf_dir_t2, tmp_path
):
    """The other crash shape: base missing, prior copy at ._old, stage
    absent or uncommitted (no _SUCCESS) — recovery must roll the prior
    copy BACK, never forward a partial stage."""
    import shutil

    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    ix.create_index(spark, root, "vec", "ivfpq", emb)
    want = _ivfpq_answer(spark, root, "vec", emb)

    codes = os.path.join(root, "vec", "codes")
    shutil.move(codes, codes + "._old")
    # an uncommitted stage alongside (simulates the staging write
    # itself having died after the first rename of a PRIOR swap)
    os.makedirs(codes + "._compacting")
    with open(os.path.join(codes + "._compacting", "part-0.parquet"), "wb") as f:
        f.write(b"\x00junk")

    assert _ivfpq_answer(spark, root, "vec", emb) == want
    assert os.path.exists(codes)
    assert not os.path.exists(codes + "._old")
    assert not os.path.exists(codes + "._compacting")


def test_create_index_clears_half_dropped_dir(spark, sf_dir_t2, tmp_path):
    """drop_index deletes _meta FIRST, so a crash mid-drop leaves a
    catalog-invisible dir. create_index of the same name must not leak
    the orphan's components into the new index (r14 advice)."""
    import shutil

    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    ix.create_index(spark, root, "a", "ivfpq", emb)
    assert os.path.exists(os.path.join(root, "a", "codes"))

    # simulate the crash window inside drop_index: _meta deleted, the
    # kind's components still on disk
    shutil.rmtree(os.path.join(root, "a", "_meta"))
    assert ix.list_indexes(spark, root).count() == 0

    # the name is free; a re-create of a DIFFERENT kind must start
    # from a clean directory — no stale 'codes' surfacing via
    # open/describe/compact
    ix.create_index(spark, root, "a", "hyperplane", emb)
    comps = ix.open_index(spark, root, "a")
    assert set(comps) == {"buckets", "vectors"}
    assert not os.path.exists(os.path.join(root, "a", "codes"))
    desc = {r["component"] for r in ix.describe_index(spark, root, "a").collect()}
    assert desc == {"buckets", "vectors"}


# --------------------------------------------------------------------------
# Decade de-quadraticization (VERDICT r14 item 6): the r15 sweep
# caught q27 (tail alpha 1.93, 186 s) and q303 (2.06, 152 s) going
# quadratic at the 10x rung; both were rewritten output-identically
# (oracle hashes unchanged — re-verified) and the new plan shapes are
# locked here.
# --------------------------------------------------------------------------
def test_q27_pairs_stay_executor_side(spark, sf_dir):
    """q27's pair enumeration must run inside the grouped numpy stage
    (slice-grid cells), never as a row-materializing self-join of the
    embedding arrays."""
    from generative_ai_vector_db_spark.plans.audit import plan_of as _plan_of

    plan = _plan_of(vector.q27_similarity_join(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # no join remains that carries BOTH sides' embedding arrays as
    # join output (the r6 shape); the only join left is the broadcast
    # grid replication
    assert "SortMergeJoin" not in plan, plan
    rows = vector.q27_similarity_join(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["id_a"] < r["id_b"] and r["dist"] <= vector.L2_TAU for r in rows)


def test_q351_blocked_gram_is_exact(spark, sf_dir, monkeypatch):
    """q351's r15 rewrite (per-block numpy gram + margin band + exact
    cumsum rescore) must emit the IDENTICAL histogram to the direct
    crossJoin shape it replaced, be block-count-invariant (the scale
    dial must not touch the answer), and its pair scoring must run
    inside the grouped numpy stage."""
    from pyspark.sql import Window as W

    from generative_ai_vector_db_spark.functions import vectors as V
    from generative_ai_vector_db_spark.plans.audit import plan_of as _plan_of

    plan = _plan_of(vector.q351_hubness_audit(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan

    got = [tuple(r) for r in vector.q351_hubness_audit(spark, sf_dir).collect()]

    # block-count invariance: the memory dial must not move the answer
    monkeypatch.setattr(vector, "HUB_BLOCKS", 7)
    got7 = [
        tuple(r) for r in vector.q351_hubness_audit(spark, sf_dir).collect()
    ]
    monkeypatch.undo()
    assert got7 == got

    # the r12 reference shape, inline: score ALL anchor x corpus pairs
    # with the higher-order-function cosine, then window top-k
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = emb.where(F.col("vec_id") < vector.HUB_A).select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("a_id"))
        .select(
            "a_id",
            "vec_id",
            F.round(V.cosine(F.col("a_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = W.partitionBy("a_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    topk = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= vector.HUB_K
    )
    nk = topk.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("occ")
    )
    hist = nk.groupBy("occ").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    n_total = emb.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    n_app = nk.agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    antihub = n_total.crossJoin(n_app).select(
        F.lit(0).cast("bigint").alias("occ"),
        (F.col("nt") - F.col("na")).cast("bigint").alias("n_vectors"),
    )
    want = [
        tuple(r) for r in antihub.unionByName(hist).orderBy("occ").collect()
    ]
    assert got == want


def test_q303_bucket_range_local_join(spark, sf_dir):
    """q303's self-join key must include the hour bucket (range-local
    2-key probe), not user_id alone."""
    from generative_ai_vector_db_spark.operators import temporal
    from generative_ai_vector_db_spark.plans.audit import plan_of as _plan_of

    plan = _plan_of(temporal.q303_seq_patterns(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "user_id" in plan and "bp" in plan and "b2" in plan, plan


# --------------------------------------------------------------------------
# Monitor kinds in the index catalog (VERDICT r14 item 4): the q367/
# q368 anytime monitors ride the same create/append/stream/read/
# describe/compact/drop lifecycle and test contract as the four index
# kinds.
# --------------------------------------------------------------------------
def test_fresh_staging_dir_is_left_alone(spark, sf_dir_t2, tmp_path):
    """A base-present ._compacting dir YOUNGER than COMPACT_STALE_MS
    may belong to a live compactor — recovery must skip it (and the
    index must keep answering from the intact base), not delete it
    out from under the compactor (r15 review)."""
    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    ix.create_index(spark, root, "vec", "hyperplane", emb)

    stage = os.path.join(root, "vec", "buckets._compacting")
    os.makedirs(stage)
    with open(os.path.join(stage, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00live")

    assert ix.index_kind(spark, root, "vec") == "hyperplane"
    assert os.path.exists(stage)  # fresh: spared as a live stage
    rows = ix.query_index(
        spark,
        root,
        "vec",
        emb.where(F.col("vec_id") == vector.BINARY_Q_ID),
        vector.BINARY_Q_ID,
    ).collect()
    assert len(rows) > 0


def test_monitor_inmemory_batches_do_not_alias(spark, tmp_path):
    """Two DIFFERENT in-memory batches (input_file_name = '') covering
    the same days must BOTH survive the read-side (src_file, day)
    dedup: absorbing them separately must equal absorbing their union
    at once (r15 review — previously both keyed ('', day) and one was
    silently dropped)."""
    from generative_ai_vector_db_spark.operators import indexes as ix

    root = str(tmp_path / "root")
    ev = load(spark, SF_T1, "events")
    # materialize through the driver so lineage carries no source file
    mem = spark.createDataFrame(ev.collect(), ev.schema)
    b1 = mem.where(F.col("event_id") % 2 == 0)
    b2 = mem.where(F.col("event_id") % 2 == 1)

    for kind in ("ab_monitor", "drift_monitor"):
        ix.create_index(spark, root, f"split_{kind}", kind, b1)
        ix.append_index(spark, root, f"split_{kind}", b2)
        ix.create_index(spark, root, f"whole_{kind}", kind, mem)
        got = sorted(
            map(tuple, ix.read_index(spark, root, f"split_{kind}").collect())
        )
        want = sorted(
            map(tuple, ix.read_index(spark, root, f"whole_{kind}").collect())
        )
        assert got == want and len(want) > 0, kind


def test_monitor_catalog_lifecycle(spark, tmp_path):
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.operators import stats

    root = str(tmp_path / "root")
    ev = load(spark, SF_T1, "events")
    is_late = F.col("event_id") % 3 == 2
    seed, late = ev.where(~is_late), ev.where(is_late)

    cases = [
        (
            "ab",
            "ab_monitor",
            stats.q367_anytime_ab_monitor,
            ("day", "n_t", "k_t", "log_e", "rejected"),
        ),
        (
            "drift",
            "drift_monitor",
            stats.q368_drift_edetector,
            ("day", "n_t", "log_e", "rejected"),
        ),
    ]
    for name, kind, batch_fn, cols in cases:
        # create = seed from the batch slice (events read from the
        # fixture parquet, so partials key by the real source files)
        ix.create_index(spark, root, name, kind, seed)
        # stream the held-out slice through the catalog face
        src = str(tmp_path / f"src_{name}")
        late.coalesce(1).write.parquet(src)
        ix.run_index_stream(
            spark, root, name, src, str(tmp_path / f"ck_{name}")
        )
        got = [
            tuple(r[c] for c in cols)
            for r in ix.read_index(spark, root, name).collect()
        ]
        want = [
            tuple(r[c] for c in cols)
            for r in batch_fn(spark, SF_T1).collect()
        ]
        assert got == want and len(want) > 0, name

        # describe/compact ride the shared lifecycle; compaction
        # (read-side (src_file, day) dedup made physical) preserves
        # the monitor table exactly
        desc = {
            r["component"]: r["n_rows"]
            for r in ix.describe_index(spark, root, name).collect()
        }
        assert desc.get("daily_partials", 0) > 0
        ix.compact_index(spark, root, name)
        got2 = [
            tuple(r[c] for c in cols)
            for r in ix.read_index(spark, root, name).collect()
        ]
        assert got2 == want, name

        # monitors have no vector query face; vector kinds have no
        # monitor read face
        with pytest.raises(ValueError, match="read_index"):
            ix.query_index(spark, root, name, ev.limit(1), 0)

    listed = {
        (r["name"], r["kind"]) for r in ix.list_indexes(spark, root).collect()
    }
    assert listed == {("ab", "ab_monitor"), ("drift", "drift_monitor")}
    ix.drop_index(spark, root, "ab")
    assert {r["name"] for r in ix.list_indexes(spark, root).collect()} == {
        "drift"
    }
    with pytest.raises(ValueError, match="no monitor read face"):
        emb = load(spark, SF_T1, "embeddings").select("vec_id", "embedding")
        ix.create_index(spark, root, "vec", "ivfpq", emb)
        ix.read_index(spark, root, "vec")


# --------------------------------------------------------------------------
# Trained portable pivots (VERDICT r14 item 5): seeded integer
# Lloyd's whose learned pivot relation feeds the graded IVF plan
# shape. The recall claim — beats the data-blind ±1-pivot ceiling on
# structured corpora — is asserted on the planted corpus through the
# SAME graded code paths (q370 vs q326), not a bespoke eval.
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    from generative_ai_vector_db_spark.sources.synthetic import (
        write_planted_embeddings,
    )

    return write_planted_embeddings(
        str(tmp_path_factory.mktemp("planted"))
    )


def test_trained_pivots_beat_data_blind_on_planted(spark, planted_dir):
    trained = vector.q370_trained_ivf_recall_eval(spark, planted_dir).first()
    blind = vector.q326_ivf_recall_eval(spark, planted_dir).first()
    # measured: trained 1.000 vs data-blind 0.923 — the trained cells
    # align with the planted clusters, so the query's whole
    # neighborhood lands in the probed cells
    assert trained["recall"] > blind["recall"]
    assert trained["recall"] >= 0.99


def test_trained_coarse_ivfpq_beats_data_blind_on_planted(
    spark, planted_dir
):
    """The q362 IVF-PQ pipeline with the TRAINED coarse quantizer
    (pivots= on _ivfpq_ann — VERDICT r14 item 5's last surface): the
    ADC/shortlist/re-rank stages must carry the trained coarse stage's
    candidate gains through to the final top-13 (measured: planted
    1.000 vs the pinned coarse stage's 0.923; sf0.1 1.000 vs 0.462;
    sf0.01 0.538 vs 0.692 — the documented small-corpus regime where
    the pinned tiling wins, QUALITY.md)."""
    from generative_ai_vector_db_spark.functions import vectors as V
    from pyspark.sql import Window as W

    emb = load(spark, planted_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = vector.trained_pivots(emb).localCheckpoint()
    trained = vector._ivfpq_ann(emb, pivots=cents).collect()
    assert [r["rn"] for r in trained] == list(range(1, vector.K + 1))
    blind = vector._ivfpq_ann(emb, vector._pinned_pivots(spark)).collect()

    qv = emb.where(F.col("vec_id") == vector.BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    exact = (
        emb.where(F.col("vec_id") != vector.BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "c"
            ),
        )
    )
    w = W.orderBy(F.col("c").desc(), "vec_id")
    true = {
        r["vec_id"]
        for r in exact.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= vector.K)
        .collect()
    }
    r_trained = len({r["vec_id"] for r in trained} & true) / len(true)
    r_blind = len({r["vec_id"] for r in blind} & true) / len(true)
    assert r_trained > r_blind
    assert r_trained >= 0.99


def test_trained_pivots_deterministic_and_integer(spark, sf_dir_t2):
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    a = {
        r["cell"]: list(r["cent"])
        for r in vector.trained_pivots(emb).collect()
    }
    b = {
        r["cell"]: list(r["cent"])
        for r in vector.trained_pivots(emb).collect()
    }
    assert a == b and len(a) == vector.IVF_CELLS
    assert all(len(c) == vector.EMB_DIM for c in a.values())
    # centroids are integer means of int8 codes: bounded by the code
    # range — the int64-exactness precondition of the portable chain
    assert all(-127 <= x <= 127 for c in a.values() for x in c)


def test_semdedup_takes_trained_pivot_relation(spark, sf_dir_t2):
    """The q346/q366 SemDeDup path accepts the trained pivot relation
    (pivots=), producing a valid curve over the SAME taus; the default
    pinned path is byte-identical to q366 (grading unchanged)."""
    emb = load(spark, sf_dir_t2, "embeddings").select("vec_id", "embedding")
    cents = vector.trained_pivots(emb).localCheckpoint()
    got = vector._semdedup_tau_curve(
        spark, emb, vector.IVF_CELLS, "trained_test", pivots=cents
    ).collect()
    assert sorted(r["tau"] for r in got) == sorted(vector.SEMDEDUP_TAUS)
    assert all(r["n_pairs"] >= 0 for r in got)

    # a pivot relation whose cell count contradicts n_cells must be
    # refused, not silently override the requested granularity
    with pytest.raises(ValueError, match="pivots relation has"):
        vector._semdedup_tau_curve(
            spark, emb, vector.IVF_CELLS + 1, "mismatch_test", pivots=cents
        )

    default = vector._semdedup_tau_curve(
        spark, emb, vector.SEMDEDUP_SCALED, "q366_twin_test"
    ).collect()
    q366 = vector.q366_semdedup_scaled_cells(spark, sf_dir_t2).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, q366))


def test_monitor_cold_start_zero_files(spark, tmp_path):
    """A monitor deployed against a source dir with ZERO files fires
    no micro-batch, so the partials path never gets created — reading
    it must yield the documented empty table, not throw (r14 advice),
    for both the raw faces and the catalog face."""
    from generative_ai_vector_db_spark.operators import indexes as ix
    from generative_ai_vector_db_spark.streaming import ingest_stream as ist

    src = str(tmp_path / "src")
    os.makedirs(src)  # exists, but empty: availableNow fires nothing
    mon_ab = str(tmp_path / "ab")
    mon_dr = str(tmp_path / "dr")
    ist.run_ab_monitor_stream(spark, src, mon_ab, str(tmp_path / "ck1"))
    ist.run_drift_monitor_stream(spark, src, mon_dr, str(tmp_path / "ck2"))
    assert not os.path.exists(os.path.join(mon_ab, "daily_partials"))

    ab = ist.read_ab_monitor(spark, mon_ab)
    dr = ist.read_drift_monitor(spark, mon_dr)
    assert ab.count() == 0 and dr.count() == 0
    assert [f.name for f in ab.schema.fields] == [
        "day",
        "n_t",
        "k_t",
        "log_e",
        "rejected",
    ]

    # catalog face: a monitor created from an EMPTY seed reads empty
    root = str(tmp_path / "root")
    ev = load(spark, SF_T1, "events")
    ix.create_index(spark, root, "ab", "ab_monitor", ev.limit(0))
    assert ix.read_index(spark, root, "ab").count() == 0
    # and populates once real events stream through the same monitor
    ev.coalesce(1).write.parquet(str(tmp_path / "src2"))
    ix.run_index_stream(
        spark, root, "ab", str(tmp_path / "src2"), str(tmp_path / "ck3")
    )
    assert ix.read_index(spark, root, "ab").count() > 0


def test_nng_vectorized_dot_is_exact(spark, sf_dir):
    """r15 perf: q347's pair scoring moved from the interpreted
    zip_with/aggregate fold to V.int_dot_arrow() (one Arrow int64
    matmul per batch — the _ivf_assign PERF NOTE, third instance).
    Integer addition is order-free, so the vectorized dot must equal
    the declarative reference bit-for-bit on the real refined graph's
    edge set, and the scoring must appear in the plan as
    ArrowEvalPython rather than an interpreted fold."""
    from generative_ai_vector_db_spark.plans.audit import plan_of as _plan_of

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = vector._int8_codes(emb).select("vec_id", "code")
    g = vector._nng_graph(codes)

    got = {
        (r.u, r.v): r.dot for r in vector._nng_score(g, codes).collect()
    }
    cu = codes.select(F.col("vec_id").alias("u"), F.col("code").alias("cu"))
    cv = codes.select(F.col("vec_id").alias("v"), F.col("code").alias("cv"))
    ref = {
        (r.u, r.v): r.dot
        for r in g.join(cu, "u")
        .join(cv, "v")
        .select(
            "u",
            "v",
            vector._nng_code_dot(F.col("cu"), F.col("cv")).alias("dot"),
        )
        .collect()
    }
    assert got == ref

    # q347's final plan is lineage-truncated by the build's
    # localCheckpoints, so assert on the scoring frame itself: the dot
    # must run as a vectorized ArrowEvalPython, not an interpreted fold
    plan = _plan_of(vector._nng_score(g, codes))
    assert "ArrowEvalPython" in plan, plan
    assert "aggregate(zip_with" not in plan, plan


def test_build_knn_graph_arrow_cosine_is_exact(spark, sf_dir):
    """r15 perf: _scored_topg's pair scoring moved from the
    interpreted V.cosine fold to V.cosine_arrow() (bit-identical by
    the cumsum discipline). The refined edge list — ids, ranks AND
    float sims — must equal the fold-scored build exactly."""
    from pyspark.sql import Window as W

    from generative_ai_vector_db_spark.functions import vectors as V
    from generative_ai_vector_db_spark.operators import graph_ann as ga

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    got = sorted(
        tuple(r) for r in ga.build_knn_graph(spark, emb).collect()
    )

    # fold-scored reference: the pre-r15 _scored_topg, inline
    def scored_topg_fold(cand, emb, g):
        e_src = emb.select(
            F.col("vec_id").alias("src"), F.col("embedding").alias("_e_src")
        )
        e_dst = emb.select(
            F.col("vec_id").alias("dst"), F.col("embedding").alias("_e_dst")
        )
        w = W.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
        return (
            cand.join(e_src, "src")
            .join(e_dst, "dst")
            .select(
                "src",
                "dst",
                V.cosine(F.col("_e_src"), F.col("_e_dst")).alias("sim"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= g)
            .select("src", "dst", "sim")
        )

    import unittest.mock as mock

    with mock.patch.object(ga, "_scored_topg", scored_topg_fold):
        ref = sorted(
            tuple(r) for r in ga.build_knn_graph(spark, emb).collect()
        )
    assert got == ref
