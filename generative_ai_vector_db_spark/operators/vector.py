"""Vector search operators: SURVEY.md §2.B Q25-Q28 + ANN scale paths.

Reference semantics being re-expressed (SURVEY §2.A):
* R17 top-k similarity search — ``similarity_search(question, k=13)``,
  Chroma default L2 metric, ``app.py:409``.
* R18 context assembly — ``"\\n\\n".join(doc.page_content ...)``,
  ``app.py:410``.

Plan shapes (100 TB reasoning):
* Exact top-k (Q25/Q26): the query side (a handful of vectors) is
  ``broadcast()`` — the N-row embeddings table never shuffles for
  scoring; scoring is a narrow projection. The per-query top-k uses
  ``row_number`` over a window partitioned by query id; Spark's
  WindowGroupLimit pushes the k-filter below the exchange, so each
  input partition forwards at most k rows per query — the shuffle
  carries O(partitions * Q * k) rows, not O(N * Q).
* Similarity join (Q27): blocked on ``label`` so the cross product is
  per-block; at scale the blocking key is an LSH bucket (see
  ``ann_lsh``/MinHash in dedup.py) and AQE handles bucket skew.
* ANN (LSH / IVF): prune candidates to one bucket/cluster before exact
  re-scoring — the brute-force path stays as the correctness oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..tables import load

K = 13  # reference fan-out, app.py:409
N_QUERY = 5  # FIXTURES.md: query vectors are vec_id < 5
L2_TAU = 1.25  # Q27 threshold (~2% of same-label pairs at sf0.01)
COS_TAU = 0.25  # cosine near-dup threshold (~3% of same-label pairs)

# DuckDB twin of the zip_with/aggregate fold: list comprehension over
# generate_series indices, summed by list_sum (same left-to-right order).
_DUCK_L2 = (
    "sqrt(list_sum([ (CAST(a.embedding[k] AS DOUBLE) - CAST(b.embedding[k] AS DOUBLE))"
    " * (CAST(a.embedding[k] AS DOUBLE) - CAST(b.embedding[k] AS DOUBLE))"
    " for k in generate_series(1, 64) ]))"
)
_DUCK_DOT = (
    "list_sum([ CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)"
    " for k in generate_series(1, 64) ])"
)
_DUCK_NORM_A = (
    "sqrt(list_sum([ CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE)"
    " for k in generate_series(1, 64) ]))"
)
_DUCK_NORM_B = (
    "sqrt(list_sum([ CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)"
    " for k in generate_series(1, 64) ]))"
)


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast the query vectors against all embeddings, score L2+cosine."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    pairs = load(spark, sf_dir, "embeddings").crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("q_id")
    )
    return pairs.select(
        "q_id",
        "vec_id",
        F.round(V.l2(F.col("q_emb"), F.col("embedding")), 4).alias("dist"),
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# Q25 exact L2 top-k (k=13 per reference app.py:409)
# ---------------------------------------------------------------------------
def q25_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    return (
        _scored_pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .select("q_id", "vec_id", "dist", "rn")
        .orderBy("q_id", "rn")
    )


Q25_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERY}),
pairs AS (
  SELECT a.q_id, b.vec_id, round({_DUCK_L2}, 4) AS dist
  FROM q a CROSS JOIN embeddings b
  WHERE b.vec_id != a.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
  FROM pairs
)
SELECT q_id, vec_id, dist, rn FROM ranked WHERE rn <= {K}
ORDER BY q_id, rn
"""


# ---------------------------------------------------------------------------
# Q26 exact cosine top-k (descending similarity)
# ---------------------------------------------------------------------------
def q26_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        _scored_pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .select("q_id", "vec_id", "cos_sim", "rn")
        .orderBy("q_id", "rn")
    )


Q26_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERY}),
pairs AS (
  SELECT a.q_id, b.vec_id,
         round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
  FROM q a CROSS JOIN embeddings b
  WHERE b.vec_id != a.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM pairs
)
SELECT q_id, vec_id, cos_sim, rn FROM ranked WHERE rn <= {K}
ORDER BY q_id, rn
"""


# ---------------------------------------------------------------------------
# Q27 similarity join, label-blocked — all same-label pairs with L2 <= tau.
#
# Plan (r15 rewrite, VERDICT r14 item 6): the r6 shape joined the two
# label-keyed sides ROW-BY-ROW, materializing every within-label pair
# through the shuffle with both float arrays attached (~1 KB/pair) and
# Arrow-scoring each — the embeddings decade (label blocks grow with
# N, so within-block pairs grow ~N^2/labels) measured it at tail
# alpha 1.93 / 186 s. Now pair enumeration never leaves the executor:
#
#   1. SLICE-GRID co-partitioning: each vector lands in slice
#      vec_id % Q27_SLICES; every unordered slice pair (i <= j) is a
#      grid cell, and a row is replicated to the cells where it plays
#      either side (broadcast grid join — S+1 copies/row, id-and-array
#      only). Every within-label pair falls in EXACTLY one cell, so
#      the union of cells is an exact cover and parallelism is
#      labels x S(S+1)/2 tasks instead of one task per label.
#   2. Per-cell numpy: one gram-matrix candidate pass (chunked,
#      d^2 <= (tau + 1e-3)^2 — a PRUNER with a margin far beyond
#      float64 gram error), then the surviving pairs re-scored with
#      THE EXACT l2_arrow ARITHMETIC (cumsum left-to-right float64,
#      functions/vectors.py) so the emitted distance is bit-identical
#      to the r6 plan's and the oracle hash is unchanged.
#
# Only qualifying pairs (plus the thin margin band) ever materialize
# as rows. Decade re-measured after the rewrite: 186 s -> see
# SCALING.md. Swap the label for an LSH band key (dedup.py) when no
# natural block exists.
# ---------------------------------------------------------------------------
Q27_SLICES = 4


def q27_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").cast("bigint").alias("label")
    )
    S = Q27_SLICES
    tagged = emb.withColumn("sl", (F.col("vec_id") % S).cast("int"))
    grid = spark.createDataFrame(
        [(i, j) for i in range(S) for j in range(S) if i <= j],
        "ga int, gb int",
    )
    left = tagged.join(
        F.broadcast(grid), F.col("sl") == F.col("ga")
    ).withColumn("side", F.lit(0))
    right = tagged.join(
        F.broadcast(grid), F.col("sl") == F.col("gb")
    ).withColumn("side", F.lit(1))
    # diagonal cells would tag every row twice; keep one copy
    both = left.unionByName(right).where(
        (F.col("ga") != F.col("gb")) | (F.col("side") == 0)
    )

    tau2 = (L2_TAU + 1e-3) ** 2

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy().astype("int64")
        side = pdf["side"].to_numpy()
        label = int(pdf["label"].iloc[0])
        diag = bool((pdf["ga"].iloc[0] == pdf["gb"].iloc[0]))
        n2 = np.einsum("ij,ij->i", X, X)
        out = []
        li = np.flatnonzero(side == 0)
        for s in range(0, len(li), 512):
            rows = li[s : s + 512]
            d2 = n2[rows, None] + n2[None, :] - 2.0 * (X[rows] @ X.T)
            cm = d2 <= tau2
            if diag:
                # within-slice: strictly upper triangle in sorted-id order
                cm &= ids[None, :] > ids[rows, None]
            else:
                # cross-slice: the other side only, either id order —
                # each unordered pair appears once (sides are disjoint)
                cm &= (side == 1)[None, :]
            ii, jj = np.nonzero(cm)
            if not len(ii):
                continue
            gi = rows[ii]
            ia, ib = ids[gi], ids[jj]
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
            # exact rescore: the l2_arrow cumsum arithmetic, verbatim
            D = X[gi] - X[jj]
            dist = np.sqrt(np.cumsum(D * D, axis=1)[:, -1])
            out.append(
                pd.DataFrame(
                    {"id_a": lo, "id_b": hi, "label": label, "dist": dist}
                )
            )
        if not out:
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "label": pd.Series(dtype="int64"),
                    "dist": pd.Series(dtype="float64"),
                }
            )
        return pd.concat(out, ignore_index=True)

    cand = both.groupBy("label", "ga", "gb").applyInPandas(
        cell_pairs, "id_a bigint, id_b bigint, label bigint, dist double"
    )
    return (
        cand.select(
            "id_a", "id_b", "label", F.round("dist", 4).alias("dist")
        )
        .where(F.col("dist") <= L2_TAU)
        .orderBy("id_a", "id_b")
    )


Q27_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(a.label AS BIGINT) AS label,
       round({_DUCK_L2}, 4) AS dist
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_DUCK_L2}, 4) <= {L2_TAU}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Q28 context assembly — reference R18: join top-k hits to documents and
# concatenate texts in ascending-distance order with "\n\n" (app.py:410).
# Sorted-struct collect keeps the agg a single shuffle; array_sort gives
# the deterministic within-group order without a global sort.
# ---------------------------------------------------------------------------
def q28_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = q25_knn_l2(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    joined = hits.join(docs, hits.vec_id == docs.doc_id, "inner")
    return (
        joined.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k_found"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dist", "vec_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n\n",
            ).alias("context"),
        )
        .orderBy("q_id")
    )


Q28_SQL = f"""
WITH hits AS ({Q25_SQL.replace("ORDER BY q_id, rn", "")})
SELECT q_id,
       count(*) AS k_found,
       string_agg(text, chr(10) || chr(10) ORDER BY dist, vec_id) AS context
FROM hits JOIN documents ON hits.vec_id = documents.doc_id
GROUP BY q_id
ORDER BY q_id
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (north-star dedup family).
#
# In-plan scale guard (q288/q303 discipline, extended here per the r11
# review): every label-blocked pair join below goes quadratic in the
# LARGEST label block, so a broadcast assert_true caps the max block
# size — a skewed label fails LOUDLY at plan execution instead of
# silently going O(m^2). The 100 TB remedy when the cap trips is to
# re-block on q325's IVF cells (q346 does exactly that — trained /
# pinned cells bound the block size by construction, where raw labels
# cannot; see the swap documented at q213).
# ---------------------------------------------------------------------------
LABEL_BLOCK_CAP = 100_000  # max rows per label before the pair join degenerates


def _guard_blocks(
    df: DataFrame, block_col: str, opname: str, cap: int
) -> DataFrame:
    """Fail the plan loudly if any `block_col` block exceeds `cap` rows."""
    guard = (
        df.groupBy(block_col)
        .agg(F.count(F.lit(1)).alias("_g"))
        # coalesce: max over zero groups is NULL, and assert_true(NULL <= cap)
        # throws — an empty input must pass the guard, not fail it
        .agg(F.coalesce(F.max("_g"), F.lit(0)).alias("_gmax"))
    )
    return (
        df.crossJoin(F.broadcast(guard))
        .where(
            F.assert_true(
                F.col("_gmax") <= cap,
                F.lit(
                    f"{opname}: {block_col} block exceeds pair-join cap "
                    f"{cap} — re-block on bounded IVF cells (q346) or "
                    "raise cells so block size stays ~sqrt(N)"
                ),
            ).isNull()
        )
        .drop("_gmax")
    )


def _guard_label_blocks(
    emb: DataFrame, opname: str, cap: int = LABEL_BLOCK_CAP
) -> DataFrame:
    return _guard_blocks(emb, "label", opname, cap)


def q42_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _guard_label_blocks(
        load(spark, sf_dir, "embeddings"), "q42_cosine_neardup"
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("label").alias("label_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
    )
    cos = V.cosine_arrow()
    return (
        a.join(b, (F.col("label_a") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            F.round(cos(F.col("emb_a"), F.col("emb_b")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= COS_TAU)
        .orderBy("id_a", "id_b")
    )


Q42_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) >= {COS_TAU}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH bucketing (scale path for Q26), with
# OR-AMPLIFICATION (round-5 advice): N_LSH_TABLES independent plane
# sets. A neighbor is a candidate if it collides in ANY table — for
# per-plane collision prob p, miss prob falls from (1-p^b) to
# (1-p^b)^L. The single-table form measured mean recall 0.431 on the
# fixture; this form measures 0.91/0.85 (QUALITY.md, with the scan
# fraction — the fixture corpus is ISOTROPIC unit vectors, near the
# information bound where recall ~ scan fraction; see the planted-
# cluster validation in QUALITY.md for the clustered-corpus behavior).
#
# Planes are derived deterministically from a fixed seed per table and
# shipped as an L-row BROADCAST relation (not plan literals) — at
# dim 384 / 20 planes the literal form would inflate every plan copy
# with ~8k constants; as a relation the planes live in one broadcast
# variable regardless of dim, and bucket assignment stays a narrow
# projection (one corpus scan emits L (table, bucket) keys per row).
# Rows-only check (seeded LSH has no SQL twin); recall vs the exact
# path is asserted in tests/test_vector.py.
#
# Scale: the candidate join shuffles only on (table, bucket) keys —
# candidates per query are bounded by L * (b+1) buckets of ~n/2^b rows;
# pairs are deduped BEFORE scoring so each (q, vec) is scored once.
# At 100 TB raise b to keep n/2^b ~ constant and L for recall.
# ---------------------------------------------------------------------------
N_LSH_TABLES = 8
N_LSH_PLANES = 6


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _plane_tables(
    n_tables: int, n_planes: int, dim: int, seed: int = 42
) -> list[tuple[int, list[list[float]]]]:
    """Independent plane sets, one per table (seed + 1000*t)."""
    return [
        (t, _hyperplanes(n_planes, dim, seed + 1000 * t))
        for t in range(n_tables)
    ]


def with_lsh_buckets(
    spark: SparkSession,
    df: DataFrame,
    tables: list[tuple[int, list[list[float]]]],
    emb_col: str = "embedding",
) -> DataFrame:
    """Add (table, bucket) keys: bit i = sign(embedding . planes[i]).

    One row per input row per table (L-fold narrow expansion off a
    broadcast of the plane relation)."""
    n_planes = len(tables[0][1])
    planes_df = spark.createDataFrame(
        tables, "table int, planes array<array<double>>"
    )
    with_planes = df.crossJoin(F.broadcast(planes_df))
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bit = (
            V.dot(F.col(emb_col), F.element_at("planes", i + 1)) >= 0
        ).cast("long") * F.lit(2**i)
        bucket = bucket + bit
    return with_planes.withColumn("bucket", bucket).drop("planes")


def q46_ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int = N_LSH_TABLES,
    n_planes: int = N_LSH_PLANES,
    dim: int = 64,
) -> DataFrame:
    tables = _plane_tables(n_tables, n_planes, dim)
    emb = with_lsh_buckets(spark, load(spark, sf_dir, "embeddings"), tables)
    # Multi-probe: each query probes its own bucket plus every Hamming-1
    # neighbor (one sign bit flipped) in EVERY table — probe fan-out is
    # L*(b+1) rows on the tiny broadcast side.
    probe_flips = F.array(F.lit(0), *[F.lit(2**i) for i in range(n_planes)])
    q = (
        emb.where(F.col("vec_id") < N_QUERY)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("table").alias("q_table"),
            F.explode(
                F.transform(
                    probe_flips, lambda flip: F.col("bucket").bitwiseXOR(flip)
                )
            ).alias("q_bucket"),
        )
    )
    cand = (
        emb.join(
            F.broadcast(q),
            (F.col("table") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        # a pair colliding in several tables/probes is scored ONCE
        .dropDuplicates(["q_id", "vec_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.select(
            "q_id",
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("q_id", "rn")
    )


# ---------------------------------------------------------------------------
# Q77 per-user filtered retrieval — SURVEY §1.1's first-class option.
# The reference searches GLOBALLY (similarity_search has no where=
# filter, app.py:409) even though every chunk is stamped with the
# uploading user (R12); here the metadata predicate is applied BEFORE
# scoring via a semi-join against the owner's documents, so (a) the
# filter pushes down to the documents parquet scan, and (b) the top-k
# is computed within the user's corpus — k results all satisfy the
# filter, instead of a post-filtered under-full list.
# The fixture's per-owner metadata key is documents.lang.
# ---------------------------------------------------------------------------
USER_FILTER_LANG = "en"


def user_filtered_knn(
    spark: SparkSession, sf_dir: str, lang: str = USER_FILTER_LANG, k: int = K
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    owned = (
        load(spark, sf_dir, "documents")
        .where(F.col("lang") == lang)
        .select("doc_id")
    )
    q = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.join(owned, emb.vec_id == owned.doc_id, "left_semi")
    pairs = cand.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    return (
        pairs.select(
            "q_id",
            "vec_id",
            F.round(V.l2(F.col("q_emb"), F.col("embedding")), 4).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select("q_id", "vec_id", "dist", "rn")
        .orderBy("q_id", "rn")
    )


def q77_user_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_filtered_knn(spark, sf_dir)


Q77_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERY}),
pairs AS (
  SELECT a.q_id, b.vec_id, round({_DUCK_L2}, 4) AS dist
  FROM q a CROSS JOIN embeddings b
  WHERE b.vec_id != a.q_id
    AND b.vec_id IN (SELECT doc_id FROM documents WHERE lang = '{USER_FILTER_LANG}')
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
  FROM pairs
)
SELECT q_id, vec_id, dist, rn FROM ranked WHERE rn <= {K}
ORDER BY q_id, rn
"""


# ---------------------------------------------------------------------------
# q89 — MMR (maximal marginal relevance) re-ranking: diversify the
# top-k by greedily picking argmax[ λ·rel(d) − (1−λ)·max_sim(d, picked) ].
# The retrieval stack's standard answer to redundant near-identical
# hits (LangChain exposes it as search_type="mmr" on the same Chroma
# store the reference uses — a capability the reference leaves on the
# table).
#
# Plan shape (100 TB): stage 1 is the distributed exact/ANN top-N
# prefilter (broadcast query side, WindowGroupLimit) — the only part
# that touches the corpus. Stage 2 runs the O(N·k) greedy loop per
# query inside applyInPandas: each group is N=50 candidate rows, a few
# KB — thousands of queries parallelize across executors while the
# corpus-side work stays in stage 1. The greedy loop is inherently
# sequential per query, but it is K-BOUNDED and deterministic, so the
# DuckDB twin unrolls the K=13 selection steps as chained CTEs (each
# step: rank the not-yet-picked candidates by the RAW λ·rel −
# (1−λ)·max_sim double DESC, vec_id, keep rank 1) — an exact oracle,
# not a rows-only check. Both sides order on the exact raw double (r9,
# ADVICE r8: a round(x, 10) on each side risked a midpoint-adjacent
# score rounding differently across engines and flipping a greedy
# pick; with bit-identical score doubles by construction, no rounding
# is needed or safe). Numeric parity: the numpy loop accumulates
# dots/norms left-to-right over dims (see _mmr_select) so both engines
# fold the identical double sequence; λ and (1.0−λ) appear as the SAME
# double expressions on both sides. Exact equivalence vs a pure-numpy
# reference is additionally asserted in tests/test_retrieval.py.
# ---------------------------------------------------------------------------
MMR_LAMBDA = 0.7
MMR_PREFILTER = 50

_MMR_SCHEMA = (
    "q_id bigint, vec_id bigint, mmr_rank bigint, "
    "relevance double, mmr_score double"
)


def _mmr_select(pdf, lam: float = MMR_LAMBDA, k: int = K):
    """Greedy MMR over one query's candidate block (numpy, exact)."""
    import numpy as np
    import pandas as pd

    emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    rel = pdf["cos_sim"].to_numpy().astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    # candidate-candidate cosine matrix (N<=50: tiny). Accumulated
    # strictly left-to-right over dimensions — NOT emb @ emb.T (BLAS
    # blocking/FMA reorders the sum) — so every dot/norm is the exact
    # double the DuckDB oracle's list_sum fold produces (same policy
    # as functions/vectors.py).
    n_cand, dim = emb.shape
    dot = np.zeros((n_cand, n_cand))
    sq = np.zeros(n_cand)
    for d_idx in range(dim):
        col = emb[:, d_idx]
        dot += np.outer(col, col)
        sq += col * col
    norms = np.sqrt(sq)
    sim = dot / np.outer(norms, norms)
    picked: list[int] = []
    scores: list[float] = []
    remaining = list(range(len(ids)))
    while remaining and len(picked) < k:
        if picked:
            max_sim = sim[np.ix_(remaining, picked)].max(axis=1)
        else:
            max_sim = np.zeros(len(remaining))
        mmr = lam * rel[remaining] - (1.0 - lam) * max_sim
        # deterministic argmax on the RAW double (bit-identical to the
        # oracle's score by construction); smallest vec_id wins ties
        key = mmr
        best = max(
            range(len(remaining)), key=lambda i: (key[i], -int(ids[remaining[i]]))
        )
        picked.append(remaining[best])
        scores.append(float(mmr[best]))
        remaining.pop(best)
    # relevance/mmr_score leave here UNROUNDED, and stay unrounded in
    # the output: rank-1 scores are 0.7*rel with rel a 4-dp decimal, so
    # their shortest decimal representation lands on exact 4-dp
    # midpoints where every engine's own round() convention disagrees
    # (np half-even, Spark F.round shortest-repr HALF_UP, DuckDB
    # binary-value nearest). Both engines emit the bit-identical raw
    # double instead and the driver's canonicalization applies ONE
    # rounding function to both sides.
    return pd.DataFrame(
        {
            "q_id": pdf["q_id"].iloc[0],
            "vec_id": ids[picked],
            "mmr_rank": range(1, len(picked) + 1),
            "relevance": rel[picked],
            "mmr_score": scores,
        }
    )


def q89_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .._bootstrap import ensure_worker_imports

    ensure_worker_imports(spark)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    candidates = (
        _scored_pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MMR_PREFILTER)
        .drop("rn", "dist")
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    with_vecs = candidates.join(emb, "vec_id")
    return (
        with_vecs.groupBy("q_id")
        .applyInPandas(lambda pdf: _mmr_select(pdf), _MMR_SCHEMA)
        .orderBy("q_id", "mmr_rank")
    )


def _q89_sql() -> str:
    """Unrolled greedy MMR oracle: K chained CTE steps (p{i} = the i-th
    pick per query, cum{i} = cumulative picks). Candidate-candidate sims
    join only against already-picked rows, mirroring the numpy loop's
    max over the picked set; (1.0 - {lam}) is spelled as an expression
    so both engines use the identical double (1.0-0.7 != 0.3 in IEEE)."""
    lam = MMR_LAMBDA
    parts = [
        f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERY}),
scored AS (
  SELECT a.q_id, b.vec_id,
         round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS rel
  FROM q a CROSS JOIN embeddings b
  WHERE b.vec_id != a.q_id
),
cand AS MATERIALIZED (
  SELECT q_id, vec_id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= {MMR_PREFILTER}
),
ce AS (
  SELECT c.q_id, c.vec_id, e.embedding
  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
),
pairsim AS MATERIALIZED (
  SELECT a.q_id, a.vec_id AS v1, b.vec_id AS v2,
         {_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}) AS sim
  FROM ce a JOIN ce b ON a.q_id = b.q_id AND a.vec_id != b.vec_id
),
p1 AS (
  SELECT q_id, vec_id, rel, {lam} * rel AS score, 1 AS mmr_rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY {lam} * rel DESC, vec_id) AS rnk
    FROM cand
  ) WHERE rnk = 1
),
cum1 AS MATERIALIZED (SELECT * FROM p1)"""
    ]
    for i in range(2, K + 1):
        parts.append(
            f""",
p{i} AS MATERIALIZED (
  SELECT q_id, vec_id, rel, score, {i} AS mmr_rank FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY s.q_id ORDER BY s.score DESC, s.vec_id) AS rnk
    FROM (
      SELECT c.q_id, c.vec_id, c.rel,
             {lam} * c.rel - (1.0 - {lam}) * ms.m AS score
      FROM cand c
      JOIN (SELECT ps.q_id, ps.v1, max(ps.sim) AS m
            FROM pairsim ps
            JOIN cum{i - 1} pk ON pk.q_id = ps.q_id AND pk.vec_id = ps.v2
            GROUP BY 1, 2) ms
        ON ms.q_id = c.q_id AND ms.v1 = c.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM cum{i - 1} pk
                        WHERE pk.q_id = c.q_id AND pk.vec_id = c.vec_id)
    ) s
  ) WHERE rnk = 1
),
cum{i} AS MATERIALIZED (SELECT * FROM cum{i - 1} UNION ALL SELECT * FROM p{i})"""
        )
    parts.append(
        f"""
SELECT q_id, vec_id,
       CAST(mmr_rank AS BIGINT) AS mmr_rank,
       rel AS relevance,
       score AS mmr_score
FROM cum{K}
ORDER BY q_id, mmr_rank"""
    )
    return "".join(parts)


Q89_SQL = _q89_sql()


# ---------------------------------------------------------------------------
# q130 — range search (radius query): every vector within L2 distance
# RANGE_TAU of each query — the "all neighbors in radius" retrieval
# mode vector stores expose beside top-k. Same broadcast-query scoring
# pass as Q25 (corpus side never shuffles); the radius predicate
# replaces the rank window entirely, so there is NO window at all —
# one narrow filtered pass. At scale the IVF/LSH candidate pruning
# (mllib_index.py) applies unchanged: a radius maps to the same probe
# cells as a top-k.
# ---------------------------------------------------------------------------
RANGE_TAU = 1.25


def q130_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _scored_pairs(spark, sf_dir)
        .where(F.col("dist") <= RANGE_TAU)
        .select("q_id", "vec_id", "dist")
        .orderBy("q_id", "dist", "vec_id")
    )


Q130_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERY}),
pairs AS (
  SELECT a.q_id, b.vec_id, round({_DUCK_L2}, 4) AS dist
  FROM q a CROSS JOIN embeddings b
  WHERE b.vec_id != a.q_id
)
SELECT q_id, vec_id, dist FROM pairs
WHERE dist <= {RANGE_TAU}
ORDER BY q_id, dist, vec_id
"""


# ---------------------------------------------------------------------------
# q153 — Matryoshka truncation profile: how much of each embedding's
# energy survives prefix truncation to d in {8, 16, 32} of 64 dims.
# retention(d) = ||x[1:d]|| / ||x|| — exactly the cosine between the
# zero-padded truncation and the full vector, the quantity that governs
# how far an MRL-style index can shorten vectors before recall drops
# (Kusupati et al. 2022). Per-vector ratios are sequential array folds
# (identical fp order in both engines); the corpus mean accumulates as
# DECIMAL so partition order cannot move the 4th decimal (the q71
# lesson). One narrow scan + one tiny agg per d; the three d-profiles
# union to a 3-row result — no shuffle carries vectors anywhere.
# ---------------------------------------------------------------------------
MATRYOSHKA_DIMS = (8, 16, 32)


def q153_matryoshka_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    full = V.norm(F.col("embedding"))
    per_d = []
    for d in MATRYOSHKA_DIMS:
        ratio = V.norm(F.slice("embedding", 1, d)) / full
        per_d.append(
            emb.select(
                F.lit(d).cast("bigint").alias("trunc_dim"),
                ratio.alias("retention"),
            )
        )
    scored = per_d[0]
    for extra in per_d[1:]:
        scored = scored.unionAll(extra)
    return (
        scored.groupBy("trunc_dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                (
                    F.sum(F.col("retention").cast("decimal(18,12)"))
                    / F.count(F.lit(1))
                ).cast("double"),
                4,
            ).alias("mean_retention"),
            F.round(F.min("retention"), 4).alias("min_retention"),
            F.round(F.percentile("retention", F.lit(0.1)), 4).alias(
                "p10_retention"
            ),
        )
        .orderBy("trunc_dim")
    )


def _duck_prefix_norm(d: int) -> str:
    return (
        f"sqrt(list_sum([ CAST(embedding[k] AS DOUBLE) * CAST(embedding[k] AS DOUBLE)"
        f" for k in generate_series(1, {d}) ]))"
    )


Q153_SQL = f"""
WITH scored AS (
  {" UNION ALL ".join(
      f'''SELECT CAST({d} AS BIGINT) AS trunc_dim,
          {_duck_prefix_norm(d)} / {_duck_prefix_norm(64)} AS retention
          FROM embeddings'''
      for d in MATRYOSHKA_DIMS
  )}
)
SELECT trunc_dim,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(retention AS DECIMAL(18,12))) / count(*) AS DOUBLE), 4)
           AS mean_retention,
       round(min(retention), 4) AS min_retention,
       round(quantile_cont(retention, 0.1), 4) AS p10_retention
FROM scored
GROUP BY trunc_dim
ORDER BY trunc_dim
"""


# ---------------------------------------------------------------------------
# q178 — hard-negative mining triples: for each query vector, pair its
# top-K true neighbors (positives) with the similar-but-not-top band
# at rank NEG_BAND_START+r (hard negatives) — the (anchor, positive,
# negative) construction contrastive embedding training runs over the
# whole corpus nightly. Band negatives (not random) are what make the
# loss informative; aligning pos rank r with neg rank band_start+r is
# the standard curriculum pairing. One scored pass + two slices of the
# SAME rank window, self-joined on (q_id, rn) — the window computes
# once, and at 100 TB the band cap keeps the output at K rows per
# anchor regardless of corpus size.
# ---------------------------------------------------------------------------
NEG_BAND_START = 50  # hard negatives come from ranks 51..50+K


def q178_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    ranked = (
        _scored_pairs(spark, sf_dir)
        .select("q_id", "vec_id", "cos_sim")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= NEG_BAND_START + K)
    )
    pos = ranked.where(F.col("rn") <= K).select(
        "q_id",
        F.col("rn").cast("bigint").alias("pair_rank"),
        F.col("vec_id").alias("pos_id"),
        F.col("cos_sim").alias("pos_sim"),
    )
    neg = ranked.where(F.col("rn") > NEG_BAND_START).select(
        "q_id",
        (F.col("rn") - NEG_BAND_START).cast("bigint").alias("pair_rank"),
        F.col("vec_id").alias("neg_id"),
        F.col("cos_sim").alias("neg_sim"),
    )
    return (
        pos.join(neg, ["q_id", "pair_rank"])
        .select(
            "q_id",
            "pair_rank",
            "pos_id",
            "pos_sim",
            "neg_id",
            "neg_sim",
            F.round(F.col("pos_sim") - F.col("neg_sim"), 4).alias("margin"),
        )
        .orderBy("q_id", "pair_rank")
    )


Q178_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERY}),
scored AS (
  SELECT a.q_id, b.vec_id,
         round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
  FROM q a CROSS JOIN embeddings b
  WHERE b.vec_id != a.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
  QUALIFY rn <= {NEG_BAND_START + K}
),
pos AS (
  SELECT q_id, CAST(rn AS BIGINT) AS pair_rank,
         vec_id AS pos_id, cos_sim AS pos_sim
  FROM ranked WHERE rn <= {K}
),
neg AS (
  SELECT q_id, CAST(rn - {NEG_BAND_START} AS BIGINT) AS pair_rank,
         vec_id AS neg_id, cos_sim AS neg_sim
  FROM ranked WHERE rn > {NEG_BAND_START}
)
SELECT pos.q_id, pos.pair_rank, pos_id, pos_sim, neg_id, neg_sim,
       round(pos_sim - neg_sim, 4) AS margin
FROM pos JOIN neg ON pos.q_id = neg.q_id AND pos.pair_rank = neg.pair_rank
ORDER BY pos.q_id, pos.pair_rank
"""


# ---------------------------------------------------------------------------
# q169 — similarity threshold curve: how many same-label pairs survive
# at each candidate dedup threshold. Choosing tau for q42/q44/q51 is
# usually guesswork; this operator computes the pair-count-vs-threshold
# curve in ONE pass over the blocked pair scores (the knee of the curve
# is where true duplicates separate from background similarity). Shape:
# the q42 label-blocked Arrow-scored pair join feeds a single
# conditional aggregate per threshold — no per-threshold rescan, and
# the label blocking (not all-pairs) is what keeps the join linear in
# block sizes at 100 TB. Counts are integers; share is one double
# division.
# ---------------------------------------------------------------------------
CURVE_TAUS = (0.10, 0.15, 0.20, 0.25, 0.30, 0.40)


def q169_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _guard_label_blocks(
        load(spark, sf_dir, "embeddings"), "q169_threshold_curve"
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("label").alias("label_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
    )
    cos = V.cosine_arrow()
    scored = a.join(
        b, (F.col("label_a") == F.col("label_b")) & (F.col("id_a") < F.col("id_b"))
    ).select(F.round(cos(F.col("emb_a"), F.col("emb_b")), 4).alias("cos_sim"))
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        *[
            F.count(F.when(F.col("cos_sim") >= t, 1))
            .cast("bigint")
            .alias(f"n_{i}")
            for i, t in enumerate(CURVE_TAUS)
        ],
    )
    rows = ", ".join(
        f"CAST({t} AS DOUBLE), n_{i}" for i, t in enumerate(CURVE_TAUS)
    )
    return (
        agg.selectExpr(
            "n_pairs",
            f"stack({len(CURVE_TAUS)}, {rows}) AS (tau, n_at_tau)",
        )
        .select(
            "tau",
            "n_at_tau",
            "n_pairs",
            F.round(
                F.col("n_at_tau").cast("double") / F.col("n_pairs").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("tau")
    )


_CURVE_COUNTS = ",\n         ".join(
    f"CAST(count(*) FILTER (WHERE cos_sim >= {t}) AS BIGINT) AS n_{i}"
    for i, t in enumerate(CURVE_TAUS)
)
_CURVE_ROWS = "\nUNION ALL\n".join(
    f"SELECT CAST({t} AS DOUBLE) AS tau, n_{i} AS n_at_tau, n_pairs FROM agg"
    for i, t in enumerate(CURVE_TAUS)
)

Q169_SQL = f"""
WITH scored AS (
  SELECT round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         {_CURVE_COUNTS}
  FROM scored
)
SELECT tau, n_at_tau, n_pairs,
       round(CAST(n_at_tau AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS share
FROM ({_CURVE_ROWS})
ORDER BY tau
"""


# ---------------------------------------------------------------------------
# q197 — vector-store integrity audit: the q139 referential audit
# extended to the vector side of the house — the checks run before an
# embedding snapshot is promoted to serving. Five checks, each ONE
# pass shaped like q139's (left join with hit marker / conditional
# aggregate, never count()+anti-join):
#   vec_without_doc / doc_without_vec — the doc<->embedding contract
#     (reference stores them 1:1, app.py:372-385);
#   zero_vector — all-zero embeddings (cosine undefined, q26 would
#     divide by zero);
#   nonfinite_dim — any NaN/Inf component (poisons every distance);
#   dim_mismatch — wrong dimensionality (breaks ANN index layout).
# Array checks are scan-side higher-order functions (no explode — the
# 64-wide arrays never leave the scan stage); id joins carry ids only.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# q213 — cross-label near-neighbor audit (mislabel detection): the
# closest pairs whose labels DISAGREE. Vectors that are nearly
# identical but carry different labels are the classic signature of
# annotation errors (confident-learning / deep-KNN label cleaning) and
# of class overlap that will cap any classifier trained on the table.
# Candidate pairs are blocked on the sign signature of the first
# SIGN_BITS dimensions — near-identical vectors agree on coarse signs
# with high probability, and the 2^SIGN_BITS buckets cut the pair
# space by the bucket count. The signature block is part of the
# declared operator semantics (applied identically in the oracle, the
# q159/q165 cap pattern); the production-scale path swaps the block
# for the q44/q46 LSH bucketer with identical downstream shape.
# Arrow-scored like q27; top-N plans as TakeOrderedAndProject.
# ---------------------------------------------------------------------------
SIGN_BITS = 8
CROSS_LABEL_TOP = 20


def _sign_sig(col):
    parts = [
        F.when(F.element_at(col, i + 1) >= 0, "1").otherwise("0")
        for i in range(SIGN_BITS)
    ]
    return F.concat(*parts)


def q213_cross_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("label").alias("label_a"),
        _sign_sig(F.col("embedding")).alias("sig"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
        _sign_sig(F.col("embedding")).alias("sig"),
    )
    l2 = V.l2_arrow()
    return (
        a.join(
            b,
            (a.sig == b.sig)
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("label_a") != F.col("label_b")),
        )
        .select(
            "id_a",
            "id_b",
            F.col("label_a").cast("bigint").alias("label_a"),
            F.col("label_b").cast("bigint").alias("label_b"),
            F.round(l2(F.col("emb_a"), F.col("emb_b")), 4).alias("dist"),
        )
        .orderBy("dist", "id_a", "id_b")
        .limit(CROSS_LABEL_TOP)
    )


_DUCK_SIG = (
    "list_aggregate([CASE WHEN CAST(%s.embedding[k] AS DOUBLE) >= 0 "
    "THEN '1' ELSE '0' END for k in generate_series(1, "
    + str(SIGN_BITS)
    + ")], 'string_agg', '')"
)

Q213_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(a.label AS BIGINT) AS label_a,
       CAST(b.label AS BIGINT) AS label_b,
       round({_DUCK_L2}, 4) AS dist
FROM embeddings a JOIN embeddings b
  ON {_DUCK_SIG % 'a'} = {_DUCK_SIG % 'b'}
 AND a.vec_id < b.vec_id
 AND a.label != b.label
ORDER BY dist, id_a, id_b
LIMIT {CROSS_LABEL_TOP}
"""


EXPECT_DIM = 64  # contract dimensionality of the embeddings table


def q197_vector_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_d")
    )
    doc_ids = docs.distinct()
    vec_ids = emb.select(F.col("vec_id").alias("_v")).distinct()

    vec_side = (
        emb.join(doc_ids, emb.vec_id == doc_ids._d, "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.col("_d").isNull().cast("bigint"))
            .cast("bigint")
            .alias("vec_without_doc"),
            F.sum(
                (
                    ~F.exists(
                        "embedding", lambda x: x != F.lit(0.0)
                    )
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("zero_vector"),
            F.sum(
                F.exists(
                    "embedding",
                    lambda x: F.isnan(x) | (F.abs(x) == float("inf")),
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("nonfinite_dim"),
            F.sum((F.size("embedding") != EXPECT_DIM).cast("bigint"))
            .cast("bigint")
            .alias("dim_mismatch"),
        )
    )
    doc_side = docs.join(vec_ids, docs._d == vec_ids._v, "left").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.col("_v").isNull().cast("bigint"))
        .cast("bigint")
        .alias("doc_without_vec"),
    )
    rows = [
        ("vec_without_doc", F.col("vec_without_doc")),
        ("zero_vector", F.col("zero_vector")),
        ("nonfinite_dim", F.col("nonfinite_dim")),
        ("dim_mismatch", F.col("dim_mismatch")),
    ]
    per_check = vec_side.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(name).alias("check"), c.alias("n_bad"))
                    for name, c in rows
                ]
            )
        ).alias("r"),
        "n_total",
    ).select("r.check", "r.n_bad", "n_total")
    doc_row = doc_side.select(
        F.lit("doc_without_vec").alias("check"),
        F.col("doc_without_vec").alias("n_bad"),
        "n_total",
    )
    return per_check.unionByName(doc_row).orderBy("check")


Q197_SQL = f"""
WITH vec_side AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vec_without_doc,
         CAST(sum(CASE WHEN len(list_filter(e.embedding, x -> x != 0.0)) = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS zero_vector,
         CAST(sum(CASE WHEN len(list_filter(e.embedding,
                                x -> isnan(x) OR isinf(x))) > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS nonfinite_dim,
         CAST(sum(CASE WHEN len(e.embedding) != {EXPECT_DIM} THEN 1 ELSE 0 END)
              AS BIGINT) AS dim_mismatch
  FROM embeddings e
  LEFT JOIN (SELECT DISTINCT doc_id FROM documents) d
    ON e.vec_id = d.doc_id
),
doc_side AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN v.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS doc_without_vec
  FROM documents d
  LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) v
    ON d.doc_id = v.vec_id
)
SELECT 'dim_mismatch' AS "check", dim_mismatch AS n_bad, n_total FROM vec_side
UNION ALL
SELECT 'doc_without_vec', doc_without_vec, n_total FROM doc_side
UNION ALL
SELECT 'nonfinite_dim', nonfinite_dim, n_total FROM vec_side
UNION ALL
SELECT 'vec_without_doc', vec_without_doc, n_total FROM vec_side
UNION ALL
SELECT 'zero_vector', zero_vector, n_total FROM vec_side
ORDER BY "check"
"""


# ---------------------------------------------------------------------------
# q237 kNN classification — majority-label vote over the exact L2
# top-k: the label-propagation / weak-annotation primitive a training
# pipeline runs to pseudo-label new documents from an already-labeled
# corpus (and the evaluation harness for every ANN index above: swap
# _scored_pairs for q46/q49/q214 candidates and compare votes).
# Plan: identical corpus-side cost to q25 (broadcast query side,
# WindowGroupLimit top-k — the corpus never shuffles); voting then
# runs on Q*k rows: groupBy (q_id, label) count + one tiny window to
# take the plurality, ties broken toward the smaller label. The
# label lookup joins the K-row hit list BROADCAST against embeddings.
# ---------------------------------------------------------------------------
def q237_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    hits = (
        _scored_pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("q_id", "vec_id", "dist")
    )
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        hits.join(labels, "vec_id")
        .groupBy("q_id", "label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_votes"),
            F.avg("dist").alias("_mean_dist"),
        )
    )
    w_win = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("rnk", F.row_number().over(w_win))
        .where(F.col("rnk") == 1)
        .select(
            "q_id",
            F.col("label").cast("bigint").alias("pred_label"),
            "n_votes",
            F.round("_mean_dist", 4).alias("mean_dist"),
        )
        .orderBy("q_id")
    )


Q237_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < {N_QUERY}),
pairs AS (
  SELECT a.q_id, b.vec_id, b.label, round({_DUCK_L2}, 4) AS dist
  FROM q a CROSS JOIN embeddings b
  WHERE b.vec_id != a.q_id
),
hits AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
    FROM pairs
  ) WHERE rn <= {K}
),
votes AS (
  SELECT q_id, label,
         CAST(count(*) AS BIGINT) AS n_votes,
         avg(dist) AS mean_dist
  FROM hits GROUP BY 1, 2
)
SELECT q_id, CAST(label AS BIGINT) AS pred_label, n_votes,
       round(mean_dist, 4) AS mean_dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY n_votes DESC, label) AS rnk
  FROM votes
) WHERE rnk = 1
ORDER BY q_id
"""


# ---------------------------------------------------------------------------
# q245 — embedding anisotropy via power iteration: the top eigenvalue
# of the (uncentered) gram matrix G = X^T X, its share of the total
# variance (trace), as a 10-iteration Rayleigh estimate. THE
# spectral-health screen for an embedding corpus: isotropic embeddings
# spread variance across dimensions (explained_frac ~ 1/d), collapsed/
# anisotropic ones concentrate it — the measurement behind QUALITY.md's
# "fixture ANN floors are data-bounded" argument, now as a graded
# operator.
# Scale shape: the ONE data-touching pass builds G — a d x d = 64x64
# aggregate computed entirely SCAN-SIDE (r9 rewrite, VERDICT r8 #3):
# each Arrow batch contributes a BLAS partial gram and at most 4096
# (j, k, p) rows per partition, so the ONLY Exchange in the gram plan
# is the 4096-row (j, k) combiner — the r8 version shuffled both N*d
# exploded sides of a per-vec self-join first. The 10 power
# iterations run EXECUTOR-SIDE in a single Arrow task over the
# assembled one-row G (collect_list of the 4096 combiner rows +
# broadcast n_vec): d x d is metadata-scale by construction — the
# standard distributed-linear-algebra split, cf. MLlib
# RowMatrix.computeGramianMatrix + local eigensolve — but the local
# solve stays INSIDE the DataFrame plan (mapInPandas), so no data,
# not even G, is ever collected to the driver and the package-wide
# zero-collect invariant holds. (The r8 version spent ~0.3 s of job
# overhead per iteration on 64-row Spark frames, ~3 s of fixed cost
# at every sf.)
# Determinism/oracle: iterations are an exact deterministic function
# of G on both engines (v0 = 1/sqrt(64) = 0.125, binary-exact); G
# entries differ only by parallel-summation ulps, far below the 4-dp
# canonicalization of the three output scalars — which are emitted
# RAW on both sides (driver rounds once; the round-8 float policy).
# Convergence note: the 10-round Rayleigh value is the DECLARED
# semantics (a lower bound on lambda_1) — near-isotropic data has
# lambda_2/lambda_1 ~ 1 where power iteration converges slowly, and
# both engines compute the same estimate regardless.
# ---------------------------------------------------------------------------
POWER_ITERS = 10
EMB_DIM = 64


def _gram_scan_side(emb: DataFrame) -> DataFrame:
    """G = X^T X with zero pre-combiner shuffle: every Arrow batch
    contributes a d x d partial gram computed in numpy (one BLAS
    ``X.T @ X`` per batch — the verdict-r8 "Arrow mapInPandas
    partial-gram" shape), each partition emits at most 4096 (j, k, p)
    rows, and the single Exchange in the plan is the (j, k) final
    combiner. An earlier all-JVM form (nested ``transform`` emitting
    d^2 structs per row) was semantically identical but ran
    interpreted (higher-order functions have no codegen — the dedup.py
    PERF NOTE) at ~N*d^2 element overhead: 3.6 s vs 0.2 s on the
    sf0.1 fixture. Parity note: partial grams sum in partition order,
    so G entries differ from DuckDB's sequential fold by ulps —
    absorbed by the driver's 4-dp canonicalization of the output
    scalars (outputs are emitted raw on both sides)."""
    import numpy as np
    import pandas as pd

    dim = EMB_DIM
    jj, kk = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
    j_flat, k_flat = jj.ravel(), kk.ravel()

    def partial_gram(batches):
        G = np.zeros((dim, dim))
        seen = False
        for pdf in batches:
            if len(pdf):
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                G += X.T @ X
                seen = True
        if seen:
            yield pd.DataFrame(
                {"j": j_flat, "k": k_flat, "p": G.ravel()}
            )

    return (
        emb.select("embedding")
        .mapInPandas(partial_gram, "j int, k int, p double")
        .groupBy("j", "k")
        .agg(F.sum("p").alias("g"))
    )


def q245_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assembled = (
        _gram_scan_side(emb)
        .groupBy()
        .agg(F.collect_list(F.struct("j", "k", "g")).alias("gs"))
        .crossJoin(
            F.broadcast(
                emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vec"))
            )
        )
    )

    def iterate(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                G = np.zeros((EMB_DIM, EMB_DIM))
                for r in row["gs"]:
                    G[r["j"], r["k"]] = r["g"]
                v = np.full(EMB_DIM, 1.0 / math.sqrt(float(EMB_DIM)))
                for _ in range(POWER_ITERS):
                    u = G @ v
                    v = u / math.sqrt(float(u @ u))
                lam = float(v @ (G @ v))
                tr = float(np.trace(G))
                yield pd.DataFrame(
                    {
                        "n_vec": [int(row["n_vec"])],
                        "dim": [EMB_DIM],
                        "top_eig": [lam],
                        "trace_total": [tr],
                        "explained_frac": [lam / tr],
                    }
                )

    return assembled.mapInPandas(
        iterate,
        "n_vec bigint, dim bigint, top_eig double, trace_total double, "
        "explained_frac double",
    )


def _q245_sql() -> str:
    iters = []
    for t in range(1, POWER_ITERS + 1):
        iters.append(
            f""",
u{t} AS MATERIALIZED (
  SELECT g.j, sum(g.g * v.val) AS uval
  FROM gmat g JOIN v{t - 1} v ON v.j = g.k
  GROUP BY g.j
),
v{t} AS MATERIALIZED (
  SELECT u.j, u.uval / nm.nm AS val
  FROM u{t} u, (SELECT sqrt(sum(uval * uval)) AS nm FROM u{t}) nm
)"""
        )
    chain = "".join(iters)
    return f"""
WITH dims AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS j),
gmat AS MATERIALIZED (
  SELECT d1.j AS j, d2.j AS k,
         sum(CAST(e.embedding[d1.j] AS DOUBLE)
             * CAST(e.embedding[d2.j] AS DOUBLE)) AS g
  FROM embeddings e, dims d1, dims d2
  GROUP BY 1, 2
),
v0 AS (SELECT j, 1.0 / sqrt({EMB_DIM}.0) AS val FROM dims){chain},
gv AS (
  SELECT g.j, sum(g.g * v.val) AS gv
  FROM gmat g JOIN v{POWER_ITERS} v ON v.j = g.k
  GROUP BY g.j
),
lam AS (SELECT sum(gv.gv * v.val) AS lam FROM gv JOIN v{POWER_ITERS} v USING (j)),
tr AS (SELECT sum(g) AS tr FROM gmat WHERE j = k),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM embeddings)
SELECT n_vec,
       CAST({EMB_DIM} AS BIGINT) AS dim,
       lam AS top_eig,
       tr AS trace_total,
       lam / tr AS explained_frac
FROM lam, tr, nv
"""


Q245_SQL = _q245_sql()


# ---------------------------------------------------------------------------
# q255 — effective rank (participation ratio) of the embedding gram:
# tr(G)^2 / tr(G^2) = (Σλ)^2 / Σλ^2 — the dimensionality-collapse
# scalar that complements q245's top-eigenvalue share: q245 asks "how
# dominant is the top direction", this asks "how many directions
# effectively carry variance" (d for isotropic, → 1 for collapsed).
# NO iterations needed: both traces are direct functionals of G, and
# for symmetric G, tr(G^2) = Σ_jk G_jk^2 — so the whole operator is
# the q245 scan-side gram (single Exchange, see _gram_scan_side)
# plus a 4096-row aggregate. Raw doubles out; driver canonicalizes.
# ---------------------------------------------------------------------------
def q255_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    gram = _gram_scan_side(emb)
    stats = gram.agg(
        F.sum(F.when(F.col("j") == F.col("k"), F.col("g"))).alias("tr"),
        F.sum(F.col("g") * F.col("g")).alias("tr2"),
    )
    nvec = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vec"))
    return stats.crossJoin(F.broadcast(nvec)).select(
        "n_vec",
        F.lit(EMB_DIM).cast("bigint").alias("dim"),
        F.col("tr").alias("trace_total"),
        (F.col("tr") * F.col("tr") / F.col("tr2")).alias("effective_rank"),
        (F.col("tr") * F.col("tr") / F.col("tr2") / EMB_DIM).alias(
            "rank_fraction"
        ),
    )


Q255_SQL = f"""
WITH dims AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS j),
gmat AS MATERIALIZED (
  SELECT d1.j AS j, d2.j AS k,
         sum(CAST(e.embedding[d1.j] AS DOUBLE)
             * CAST(e.embedding[d2.j] AS DOUBLE)) AS g
  FROM embeddings e, dims d1, dims d2
  GROUP BY 1, 2
),
st AS (
  SELECT sum(CASE WHEN j = k THEN g END) AS tr,
         sum(g * g) AS tr2
  FROM gmat
),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM embeddings)
SELECT n_vec,
       CAST({EMB_DIM} AS BIGINT) AS dim,
       tr AS trace_total,
       tr * tr / tr2 AS effective_rank,
       tr * tr / tr2 / {EMB_DIM} AS rank_fraction
FROM st, nv
"""


# ---------------------------------------------------------------------------
# q263 — spectral gap via deflated power iteration: λ1 (as in q245),
# then λ2 of the deflated gram G₂ = G − λ1·v1v1ᵀ, and the gap ratio
# λ2/λ1 — the scalar that says whether the corpus has ONE dominant
# semantic direction (gap ≪ 1: rank-1 collapse, q245's alarm) or a
# plateau of comparable directions (gap ≈ 1: healthy isotropy, where
# q255's effective rank is high). Completes the spectral triple
# (top-share, effective rank, gap).
# ESTIMATE semantics (declared, like q245's): both numbers are
# 10-round Rayleigh estimates. When the spectrum is a near-degenerate
# plateau (λ2/λ1 → 1), phase 1 has not singled out v1, the deflation
# removes a MIXTURE direction, and the phase-2 estimate can slightly
# EXCEED phase 1 (gap_ratio marginally above 1 — observed 1.05 on the
# isotropic fixture); on a collapsed corpus (the alarm case) phase 1
# converges geometrically, the deflation is accurate, and the ratio
# is a faithful λ2/λ1 ≪ 1 (tests plant a rank-1-dominated corpus and
# assert this). Read it as a plateau detector: ~1 healthy, ≪1 alarm.
# Scale shape: identical to q245 — the ONE data pass is the Arrow
# partial-gram (single (j,k) combiner Exchange); both 10-iteration
# loops and the rank-1 deflation run executor-side in a single Arrow
# task over the assembled 4096-double G; only G crosses the plan.
# Determinism/oracle: both phases are exact functions of G (v0 = w0 =
# 0.125 uniform, binary-exact; deflation is one subtract); the oracle
# unrolls all 20 iterations + the deflated gram as CTEs. Engine
# doubles differ by summation-order ulps only — raw scalars out, the
# driver canonicalizes once (the q245/q254 float policy).
# ---------------------------------------------------------------------------
def q263_spectral_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assembled = (
        _gram_scan_side(emb)
        .groupBy()
        .agg(F.collect_list(F.struct("j", "k", "g")).alias("gs"))
        .crossJoin(
            F.broadcast(
                emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vec"))
            )
        )
    )

    def iterate(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                G = np.zeros((EMB_DIM, EMB_DIM))
                for r in row["gs"]:
                    G[r["j"], r["k"]] = r["g"]
                v = np.full(EMB_DIM, 1.0 / math.sqrt(float(EMB_DIM)))
                for _ in range(POWER_ITERS):
                    u = G @ v
                    v = u / math.sqrt(float(u @ u))
                lam1 = float(v @ (G @ v))
                G2 = G - lam1 * np.outer(v, v)
                w = np.full(EMB_DIM, 1.0 / math.sqrt(float(EMB_DIM)))
                for _ in range(POWER_ITERS):
                    u = G2 @ w
                    w = u / math.sqrt(float(u @ u))
                lam2 = float(w @ (G2 @ w))
                yield pd.DataFrame(
                    {
                        "n_vec": [int(row["n_vec"])],
                        "dim": [EMB_DIM],
                        "top_eig": [lam1],
                        "second_eig": [lam2],
                        "gap_ratio": [lam2 / lam1],
                    }
                )

    return assembled.mapInPandas(
        iterate,
        "n_vec bigint, dim bigint, top_eig double, second_eig double, "
        "gap_ratio double",
    )


def _q263_sql() -> str:
    iters_v = []
    for t in range(1, POWER_ITERS + 1):
        iters_v.append(
            f""",
u{t} AS MATERIALIZED (
  SELECT g.j, sum(g.g * v.val) AS uval
  FROM gmat g JOIN v{t - 1} v ON v.j = g.k
  GROUP BY g.j
),
v{t} AS MATERIALIZED (
  SELECT u.j, u.uval / nm.nm AS val
  FROM u{t} u, (SELECT sqrt(sum(uval * uval)) AS nm FROM u{t}) nm
)"""
        )
    iters_w = []
    for t in range(1, POWER_ITERS + 1):
        iters_w.append(
            f""",
x{t} AS MATERIALIZED (
  SELECT g.j, sum(g.g * w.val) AS uval
  FROM gmat2 g JOIN w{t - 1} w ON w.j = g.k
  GROUP BY g.j
),
w{t} AS MATERIALIZED (
  SELECT x.j, x.uval / nm.nm AS val
  FROM x{t} x, (SELECT sqrt(sum(uval * uval)) AS nm FROM x{t}) nm
)"""
        )
    chain_v = "".join(iters_v)
    chain_w = "".join(iters_w)
    return f"""
WITH dims AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS j),
gmat AS MATERIALIZED (
  SELECT d1.j AS j, d2.j AS k,
         sum(CAST(e.embedding[d1.j] AS DOUBLE)
             * CAST(e.embedding[d2.j] AS DOUBLE)) AS g
  FROM embeddings e, dims d1, dims d2
  GROUP BY 1, 2
),
v0 AS (SELECT j, 1.0 / sqrt({EMB_DIM}.0) AS val FROM dims){chain_v},
gv AS (
  SELECT g.j, sum(g.g * v.val) AS gv
  FROM gmat g JOIN v{POWER_ITERS} v ON v.j = g.k
  GROUP BY g.j
),
lam AS (SELECT sum(gv.gv * v.val) AS lam
        FROM gv JOIN v{POWER_ITERS} v USING (j)),
gmat2 AS MATERIALIZED (
  SELECT g.j, g.k, g.g - lam.lam * vj.val * vk.val AS g
  FROM gmat g
  JOIN v{POWER_ITERS} vj ON vj.j = g.j
  JOIN v{POWER_ITERS} vk ON vk.j = g.k
  CROSS JOIN lam
),
w0 AS (SELECT j, 1.0 / sqrt({EMB_DIM}.0) AS val FROM dims){chain_w},
gw AS (
  SELECT g.j, sum(g.g * w.val) AS gw
  FROM gmat2 g JOIN w{POWER_ITERS} w ON w.j = g.k
  GROUP BY g.j
),
lam2 AS (SELECT sum(gw.gw * w.val) AS lam2
         FROM gw JOIN w{POWER_ITERS} w USING (j)),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM embeddings)
SELECT n_vec,
       CAST({EMB_DIM} AS BIGINT) AS dim,
       lam AS top_eig,
       lam2 AS second_eig,
       lam2 / lam AS gap_ratio
FROM lam, lam2, nv
"""


Q263_SQL = _q263_sql()


# ---------------------------------------------------------------------------
# q272 — centroid silhouette per label: for each vector, a = L2
# distance to its own label centroid, b = the nearest OTHER centroid,
# s = (b − a)/max(a, b); averaged per label — the clustering-quality
# readout (silhouette-by-centroid, the O(N·L) simplification of the
# O(N²) silhouette) that tells you whether labels are separable in
# embedding space. Completes the label-eval family: q99 flags
# outliers, q158 compares centroids, q213 audits cross-label
# neighbors; this scores cohesion-vs-separation per label.
# Scale shape: centroids via posexplode + avg (one d×L aggregate);
# the L-row centroid-ARRAY frame is broadcast and each vector scores
# against all L centroids through a zip_with fold — N·L rows total,
# no N² pair join anywhere. Per-vector sums differ from the oracle's
# j-grouped sums by ulps only; outputs are per-label AVERAGES of raw
# doubles (driver canonicalizes), and the min/branch comparisons
# (b vs a, nearest-other) compare macroscopically different
# distances, so ulp drift cannot flip them.
# ---------------------------------------------------------------------------
def q272_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", V.as_double(F.col("embedding")).alias("v")
    )
    cents = (
        emb.select("label", F.posexplode("v").alias("j", "x"))
        .groupBy("label", "j")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c"))),
                lambda s: s["c"],
            ).alias("cent")
        )
        .select(F.col("label").alias("clabel"), "cent")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cent"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "clabel", F.sqrt(d2).alias("d")
    )
    per_vec = dists.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d"))).alias("b"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.avg("a").alias("mean_dist_own"),
            F.avg("b").alias("mean_dist_other"),
            F.avg(
                (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
            ).alias("silhouette"),
        )
        .orderBy("label")
    )


Q272_SQL = f"""
WITH dims AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS j),
cent AS (
  SELECT e.label AS clabel, d.j,
         avg(CAST(e.embedding[d.j] AS DOUBLE)) AS c
  FROM embeddings e, dims d
  GROUP BY 1, 2
),
dist AS (
  SELECT e.vec_id, e.label, c.clabel,
         sqrt(sum((CAST(e.embedding[c.j] AS DOUBLE) - c.c)
                  * (CAST(e.embedding[c.j] AS DOUBLE) - c.c))) AS d
  FROM embeddings e JOIN cent c ON TRUE
  GROUP BY 1, 2, 3
),
per_vec AS (
  SELECT vec_id, label,
         max(CASE WHEN clabel = label THEN d END) AS a,
         min(CASE WHEN clabel <> label THEN d END) AS b
  FROM dist GROUP BY 1, 2
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       avg(a) AS mean_dist_own,
       avg(b) AS mean_dist_other,
       avg((b - a) / greatest(a, b)) AS silhouette
FROM per_vec
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# q284 — binary (1-bit) embedding retrieval: sign-quantize each 64-d
# vector into TWO 32-bit halves packed in BIGINTs, rank the corpus by
# Hamming distance to the query's code — the 32x-compression extreme
# of the quantization ladder (q81 int8 = 4x, q175 PQ = 32x with
# codebooks; binary codes need none and the distance is two XOR +
# popcounts, the cheapest possible scan). Exact and fully
# deterministic end to end: bits are float sign tests, packing is a
# pinned acc*2+bit fold, distances are integers — no float policy
# needed anywhere.
# Scale shape: codes are built scan-side (one pass, 16 bytes/vector
# crossing nothing); the query code broadcasts; top-k by (hamming,
# vec_id) plans as TakeOrderedAndProject. At 100 TB this is the
# first-stage filter in front of an exact re-rank (q285 measures how
# good that filter is).
# ---------------------------------------------------------------------------
BINARY_Q_ID = 0
_HALF = EMB_DIM // 2


def _binary_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, hi, lo): sign codes packed as two 32-bit halves
    (acc*2 + bit pinned fold; x >= 0 maps to 1)."""
    arr = V.as_double(F.col("embedding"))

    def pack(start: int) -> "F.Column":
        return F.aggregate(
            F.transform(
                F.slice(arr, start, _HALF),
                lambda x: (x >= 0).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc * 2 + b,
        )

    return emb.select(
        "vec_id", pack(1).alias("hi"), pack(_HALF + 1).alias("lo")
    )


def q284_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = _binary_codes(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    q = codes.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("hi").alias("q_hi"), F.col("lo").alias("q_lo")
    )
    scored = (
        codes.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
                + F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
            ).cast("bigint").alias("hamming"),
        )
    )
    w = Window.orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


_DUCK_PACK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform({arr}, x -> CAST(x >= 0 AS BIGINT))),"
    " (acc, b) -> acc * 2 + b)"
)
_DUCK_HI = _DUCK_PACK.format(
    arr=f"[CAST(embedding[k] AS DOUBLE) for k in generate_series(1, {_HALF})]"
)
_DUCK_LO = _DUCK_PACK.format(
    arr=(
        f"[CAST(embedding[k] AS DOUBLE)"
        f" for k in generate_series({_HALF + 1}, {EMB_DIM})]"
    )
)

Q284_SQL = f"""
WITH codes AS (
  SELECT vec_id, {_DUCK_HI} AS hi, {_DUCK_LO} AS lo FROM embeddings
),
q AS (SELECT hi AS q_hi, lo AS q_lo FROM codes WHERE vec_id = {BINARY_Q_ID}),
scored AS (
  SELECT vec_id,
         CAST(bit_count(xor(hi, q_hi)) + bit_count(xor(lo, q_lo))
              AS BIGINT) AS hamming
  FROM codes, q
  WHERE vec_id != {BINARY_Q_ID}
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY hamming, vec_id) AS BIGINT) AS rn
  FROM scored
)
SELECT vec_id, hamming, rn FROM ranked WHERE rn <= {K} ORDER BY rn
"""


# ---------------------------------------------------------------------------
# q285 — binary-retrieval recall eval: overlap of q284's Hamming
# top-k with the exact-cosine top-k for the same query — the
# cross-engine-graded answer to "how much retrieval quality does the
# 32x binary compression cost" (the QUALITY.md recall floors answer
# this for the rows-only ANN ops; binary codes are deterministic
# enough to grade it through the driver). Exact ranking keys on both
# sides: (hamming, vec_id) ints and (round(cos,4) DESC, vec_id) — the
# q26 ranking convention.
# Scale shape: two bounded top-k frames (TakeOrdered) joined on
# vec_id; one corpus scan per ranking.
# ---------------------------------------------------------------------------
def q285_binary_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ham = q284_binary_hamming_topk(spark, sf_dir).select("vec_id")
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    cos = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    exact = (
        cos.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    overlap = ham.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    return overlap.select(
        F.lit(K).cast("bigint").alias("k"),
        "n_common",
        (F.col("n_common") / F.lit(float(K))).alias("recall"),
    )


_DUCK_QDOT = (
    "list_sum([ CAST(q.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ])"
)
_DUCK_QNORM = (
    "sqrt(list_sum([ CAST(q.embedding[k] AS DOUBLE)"
    " * CAST(q.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ]))"
)
_DUCK_BNORM = (
    "sqrt(list_sum([ CAST(b.embedding[k] AS DOUBLE)"
    " * CAST(b.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ]))"
)

Q285_SQL = f"""
WITH codes AS (
  SELECT vec_id, {_DUCK_HI} AS hi, {_DUCK_LO} AS lo FROM embeddings
),
qc AS (SELECT hi AS q_hi, lo AS q_lo FROM codes WHERE vec_id = {BINARY_Q_ID}),
ham AS (
  SELECT vec_id
  FROM (
    SELECT vec_id,
           row_number() OVER (
             ORDER BY bit_count(xor(hi, q_hi)) + bit_count(xor(lo, q_lo)),
                      vec_id) AS rn
    FROM codes, qc
    WHERE vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
exact AS (
  SELECT vec_id
  FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_common,
       count(*) / CAST({K} AS DOUBLE) AS recall
FROM ham JOIN exact USING (vec_id)
"""


# ---------------------------------------------------------------------------
# q299 — int8 scalar-quantized prefilter + exact re-rank: the standard
# two-stage retrieval deployment (4x-compressed codes scan the corpus,
# exact cosine re-ranks a small candidate pool). Per-vector symmetric
# quantization c_i = floor(x_i * 127/max|x| + 0.5) — floor(+0.5) is
# pinned explicitly so engine ROUND half-way conventions never enter;
# candidate scores are INTEGER dot products rescaled once (exact
# BIGINT sum, one IEEE multiply/divide → bit-identical both engines).
# Top-CAND candidates by (approx DESC, vec_id), then the q26 exact
# ranking key (round(cos,4) DESC, vec_id) for the final K.
# Scale: the int8 scan is the cheap full pass (codes are 64 B/vector
# vs 512 B raw), candidates are a K-bounded frame, the exact re-rank
# touches only CAND rows. Companion recall floor: q285 measures the
# 1-bit variant; the int8 pool is strictly richer.
# ---------------------------------------------------------------------------
INT8_CAND = 4 * K


def _int8_codes(emb: DataFrame) -> DataFrame:
    arr = V.as_double(F.col("embedding"))
    mx = F.array_max(F.transform(arr, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.nullif(mx, F.lit(0.0))
    codes = F.transform(
        arr,
        lambda x: F.coalesce(
            F.floor(x * scale + F.lit(0.5)), F.lit(0)
        ).cast("bigint"),
    )
    return emb.select(
        "vec_id", codes.alias("code"), F.coalesce(mx, F.lit(0.0)).alias("mx")
    )


def q299_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = _int8_codes(emb)
    qc = codes.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("code").alias("q_code"), F.col("mx").alias("q_mx")
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("code"), F.col("q_code"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    approx = (
        codes.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qc))
        .select(
            "vec_id",
            (
                int_dot.cast("double")
                * F.col("mx")
                * F.col("q_mx")
                / F.lit(127.0 * 127.0)
            ).alias("approx_dot"),
        )
    )
    w_pre = Window.orderBy(F.col("approx_dot").desc(), "vec_id")
    cand = (
        approx.withColumn("prn", F.row_number().over(w_pre))
        .where(F.col("prn") <= INT8_CAND)
        .select("vec_id", "approx_dot")
    )
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    exact = (
        cand.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round("approx_dot", 4).alias("approx_dot"),
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w_fin = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        exact.withColumn("rn", F.row_number().over(w_fin).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


# nullif/coalesce mirror the Spark-side zero-max guard
# (_int8_codes: scale null -> codes 0, mx -> 0) so an all-zero
# embedding quantizes identically in both engines.
_DUCK_I8 = (
    "[coalesce(CAST(floor(CAST({e}.embedding[k] AS DOUBLE) * 127.0"
    " / nullif(list_max(list_transform({e}.embedding,"
    " x -> abs(CAST(x AS DOUBLE)))), 0.0) + 0.5) AS BIGINT), 0)"
    f" for k in generate_series(1, {EMB_DIM})]"
)
_DUCK_MX = (
    "coalesce(nullif(list_max(list_transform({e}.embedding,"
    " x -> abs(CAST(x AS DOUBLE)))), 0.0), 0.0)"
)

Q299_SQL = f"""
WITH codes AS (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code,
         {_DUCK_MX.format(e='embeddings')} AS mx
  FROM embeddings
),
qc AS (SELECT code AS q_code, mx AS q_mx FROM codes
       WHERE vec_id = {BINARY_Q_ID}),
approx AS (
  SELECT vec_id,
         CAST(list_sum([code[k] * q_code[k]
                        for k in generate_series(1, {EMB_DIM})]) AS DOUBLE)
           * mx * q_mx / {127.0 * 127.0} AS approx_dot
  FROM codes, qc
  WHERE vec_id != {BINARY_Q_ID}
),
cand AS (
  SELECT vec_id, approx_dot
  FROM (SELECT *, row_number() OVER (ORDER BY approx_dot DESC, vec_id) AS prn
        FROM approx)
  WHERE prn <= {INT8_CAND}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID})
SELECT vec_id, approx_dot, cos_sim, rn
FROM (
  SELECT c.vec_id,
         round(c.approx_dot, 4) AS approx_dot,
         round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4) AS cos_sim,
         CAST(row_number() OVER (
           ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                      DESC,
                    c.vec_id) AS BIGINT) AS rn
  FROM cand c JOIN embeddings b ON c.vec_id = b.vec_id, q
) WHERE rn <= {K}
ORDER BY rn
"""


# ---------------------------------------------------------------------------
# q304 — retrieval-set diversity audit: the exact-cosine top-K for the
# standard query (q26 ranking key) scored for REDUNDANCY — mean and
# max pairwise cosine within the result set and the share of pairs
# above a near-dup bar. The eval side of q89's MMR: if this says the
# plain top-K is redundant, MMR re-ranking has headroom. Pairwise
# cosines use the pinned-fold dot (functions/vectors.py policy).
# Scale: the K-row result frame is broadcast against itself — K(K-1)/2
# pairs, metadata-scale regardless of corpus size; corpus is touched
# once by the top-K scan.
# ---------------------------------------------------------------------------
DIVERSITY_DUP_BAR = 0.9


def q304_result_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    cos = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    topk = (
        cos.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("vec_id", "embedding")
    )
    a = topk.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = topk.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    pairs = a.join(F.broadcast(b), F.col("va") < F.col("vb")).select(
        F.round(V.cosine(F.col("ea"), F.col("eb")), 4).alias("pc")
    )
    return pairs.agg(
        F.lit(K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.avg("pc").alias("mean_pairwise_cos"),
        F.max("pc").alias("max_pairwise_cos"),
        (
            F.sum((F.col("pc") >= DIVERSITY_DUP_BAR).cast("bigint")).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("redundant_share"),
    )


_DUCK_PAIR_COS = (
    "round(list_sum([ CAST(a.embedding[k] AS DOUBLE)"
    " * CAST(b.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ])"
    " / (sqrt(list_sum([ CAST(a.embedding[k] AS DOUBLE)"
    " * CAST(a.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ]))"
    " * sqrt(list_sum([ CAST(b.embedding[k] AS DOUBLE)"
    " * CAST(b.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ]))), 4)"
)

Q304_SQL = f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
topk AS (
  SELECT vec_id, embedding
  FROM (
    SELECT b.vec_id, b.embedding,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
),
pairs AS (
  SELECT {_DUCK_PAIR_COS} AS pc
  FROM topk a JOIN topk b ON a.vec_id < b.vec_id
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_pairs,
       avg(pc) AS mean_pairwise_cos,
       max(pc) AS max_pairwise_cos,
       CAST(coalesce(sum(CASE WHEN pc >= {DIVERSITY_DUP_BAR} THEN 1 END), 0)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS redundant_share
FROM pairs
"""


# ---------------------------------------------------------------------------
# q308 — BATCHED multi-query kNN: Q query vectors answered in ONE
# corpus scan (broadcast the query frame, score every (query, corpus)
# pair, per-query WindowGroupLimit top-K) — the serving-side shape
# that actually runs at scale: per-query scans (q25/q26) cost Q corpus
# passes, the batch costs one. Query ids are data-derived (lowest
# BATCH_Q vec_ids); self-matches excluded; the q26 exact ranking key
# per query partition.
# Scale: corpus scans once; the window is PARTITIONED by query (no
# single-partition sort); output is Q*K rows.
# ---------------------------------------------------------------------------
BATCH_Q = 5


def q308_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = (
        emb.orderBy("vec_id")
        .limit(BATCH_Q)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
    )
    scored = emb.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.select(
            "query_id",
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("query_id", "rn")
    )


Q308_SQL = f"""
WITH queries AS (
  SELECT vec_id AS query_id, embedding AS q_embedding
  FROM embeddings ORDER BY vec_id LIMIT {BATCH_Q}
),
scored AS (
  SELECT q.query_id, b.vec_id,
         round(list_sum([ CAST(q.q_embedding[k] AS DOUBLE)
                          * CAST(b.embedding[k] AS DOUBLE)
                          for k in generate_series(1, {EMB_DIM}) ])
               / (sqrt(list_sum([ CAST(q.q_embedding[k] AS DOUBLE)
                                  * CAST(q.q_embedding[k] AS DOUBLE)
                                  for k in generate_series(1, {EMB_DIM}) ]))
                  * sqrt(list_sum([ CAST(b.embedding[k] AS DOUBLE)
                                    * CAST(b.embedding[k] AS DOUBLE)
                                    for k in generate_series(1, {EMB_DIM}) ]))),
               4) AS cos_sim
  FROM embeddings b, queries q
  WHERE b.vec_id != q.query_id
)
SELECT query_id, vec_id, cos_sim, rn
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id)
                 AS BIGINT) AS rn
  FROM scored
) WHERE rn <= {K}
ORDER BY query_id, rn
"""


# ---------------------------------------------------------------------------
# q320 — ENGINE-PORTABLE hyperplane-LSH ANN top-k: the ANN family's
# first hash-graded member (q46's multiprobe structure rebuilt on the
# q302/q284 portable-integer playbook). The reference's core operation
# is ANN retrieval (hnswlib, app.py:73-76; k=13 at app.py:409); q46
# proves the Spark plan shape but its buckets come from seeded Spark
# rand(), so only this integer-exact variant can be graded through a
# second engine.
# Pipeline: (1) int8-quantize each vector (q299's exact BIGINT codes,
# zero-max-guarded); (2) ANN_TABLES=2 independent tables of
# ANN_PLANES=8 signed hyperplanes whose ±1 components are pinned
# Python-LCG constants embedded verbatim in BOTH the Spark plan and
# the SQL twin — plane dot products are pure int64 sums, so each
# 8-bit sign bucket is bit-identical across engines; (3) per table,
# multiprobe the query's bucket plus every Hamming-1 and Hamming-2
# neighbor (1+8+28 = 37 probes), candidates = union over tables;
# (4) exact cosine re-rank with the q26 ranking key
# (round(cos,4) DESC, vec_id).
# Scale shape: codes+buckets are scan-side projections (one pass,
# nothing shuffles); the probe list is a 74-row broadcast; candidates
# are ~2 * |corpus| * 37/2^8 ≈ 30% of the corpus at 8 planes — at
# 100 TB raise ANN_PLANES with log2(corpus) so bucket occupancy stays
# constant and the probed fraction shrinks exponentially, trading
# recall back via more tables (the L/b Pareto, q46's sweep). Measured
# (QUALITY.md): planted-cluster recall@13 = 1.000 at 32% scan — the
# best Pareto point in the ANN family table — and fixture recall 0.77
# at 30% scan, ABOVE the isotropic recall≈scan bound because int8
# sign buckets correlate with cosine direction. q321 grades the
# fixture recall of THIS configuration cross-engine.
# ---------------------------------------------------------------------------
ANN_PLANES = 8
ANN_TABLES = 2
ANN_PROBE_FLIPS = (
    [0]
    + [1 << p for p in range(ANN_PLANES)]
    + [
        (1 << a) | (1 << b)
        for a in range(ANN_PLANES)
        for b in range(a + 1, ANN_PLANES)
    ]
)


def _ann_sign_matrices() -> list[list[list[int]]]:
    """ANN_TABLES matrices of ANN_PLANES x EMB_DIM ±1 hyperplane
    components from one continuous pinned 64-bit LCG stream — plain
    Python ints, embedded as literals in both engines (no
    cross-engine RNG contract needed)."""
    s = 0x5DEECE66D
    tables = []
    for _ in range(ANN_TABLES):
        mat = []
        for _ in range(ANN_PLANES):
            row = []
            for _ in range(EMB_DIM):
                s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
                row.append(1 if (s >> 63) & 1 else -1)
            mat.append(row)
        tables.append(mat)
    return tables


def _hyperplane_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket): one 8-bit portable sign bucket per
    (vector, table) over int8 codes — long form, 2 rows/vector.

    Arrow/numpy twin of the declarative form (the _ivf_assign r12
    lesson): the 2x8 interpreted HOF dot chains dominate q320/q360's
    wall; one int64 matmul per table is bit-identical — bucket bit p
    is set iff code . plane_p >= 0, integer arithmetic throughout.
    The DuckDB oracle keeps the declarative chain (_duck_bucket_expr)
    so the cross-engine grade still exercises the integer math.
    """
    codes = _int8_codes(emb).select("vec_id", "code")
    tables = _ann_sign_matrices()

    def bucketize(batches):
        import numpy as np
        import pandas as pd

        mats = [np.array(m, dtype=np.int64).T for m in tables]  # dim x p
        weights = (1 << np.arange(ANN_PLANES)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["code"].tolist(), dtype=np.int64)
            ids = pdf["vec_id"].astype("int64").to_numpy()
            frames = []
            for t, P in enumerate(mats):
                buckets = ((C @ P) >= 0).astype(np.int64) @ weights
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "tbl": np.full(len(ids), t, dtype=np.int32),
                            "bucket": buckets,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return codes.mapInPandas(
        bucketize, "vec_id bigint, tbl int, bucket bigint"
    )


def q320_portable_hyperplane_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # localCheckpoint: the bucket projection (2 tables x 8 plane dots
    # over the int8 codes) feeds BOTH the probe side and
    # the candidate side — materialized once instead of twice (the
    # q346 r12 lesson applied here; output unchanged, lineage only)
    bucketed = _hyperplane_buckets(emb).localCheckpoint()
    # The probe side renames `tbl` -> `p_tbl` so the candidate join
    # carries no duplicated column name: the previous form joined on
    # bucketed["tbl"] == probes["tbl"] over a self-derived DataFrame
    # and leaned on plan-id ambiguous-self-join resolution (fragile
    # across resolver changes — r11 ADVICE).
    probes = (
        bucketed.where(F.col("vec_id") == BINARY_Q_ID)
        .select(
            F.col("tbl").alias("p_tbl"),
            F.explode(
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(f))
                        for f in ANN_PROBE_FLIPS
                    ]
                )
            ).alias("probe"),
        )
    )
    cand = (
        bucketed.where(F.col("vec_id") != BINARY_Q_ID)
        .join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe"))
            & (F.col("tbl") == F.col("p_tbl")),
        )
        .select("vec_id")
        .dropDuplicates(["vec_id"])
    )
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        cand.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


def _duck_bucket_expr(mat: list[list[int]]) -> str:
    parts = []
    for p, row in enumerate(mat):
        signs = "[" + ", ".join(str(s) for s in row) + "]"
        parts.append(
            f"CASE WHEN list_sum([code[k] * ({signs}[k])"
            f" for k in generate_series(1, {EMB_DIM})]) >= 0"
            f" THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(parts)


def _duck_bucketed_cte() -> str:
    tables = _ann_sign_matrices()
    selects = [
        f"SELECT vec_id, {t} AS tbl,"
        f" CAST({_duck_bucket_expr(mat)} AS BIGINT) AS bucket FROM codes"
        for t, mat in enumerate(tables)
    ]
    return "\n  UNION ALL\n  ".join(selects)


_DUCK_PROBE_FLIPS = ", ".join(str(f) for f in ANN_PROBE_FLIPS)

Q320_CTES = f"""
codes AS (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
bucketed AS (
  {_duck_bucketed_cte()}
),
probes AS (
  SELECT tbl, xor(bucket, f.flip) AS probe
  FROM bucketed, (SELECT unnest([{_DUCK_PROBE_FLIPS}]) AS flip) f
  WHERE vec_id = {BINARY_Q_ID}
),
cand AS (
  SELECT DISTINCT c.vec_id
  FROM bucketed c
  JOIN probes p ON c.tbl = p.tbl AND c.bucket = p.probe
  WHERE c.vec_id != {BINARY_Q_ID}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
ann AS (
  SELECT vec_id, cos_sim,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
              AS BIGINT) AS rn
  FROM (
    SELECT c.vec_id,
           round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
             AS cos_sim
    FROM cand c
    JOIN embeddings b ON b.vec_id = c.vec_id, q
  )
)"""

Q320_SQL = f"""
WITH {Q320_CTES}
SELECT vec_id, cos_sim, rn FROM ann WHERE rn <= {K} ORDER BY rn
"""


# ---------------------------------------------------------------------------
# q321 — hyperplane-ANN recall eval, cross-engine graded: overlap of
# q320's multiprobe top-k with the exact-cosine top-k for the same
# query (q285's pattern for the binary-code family). Both engines
# compute identical integer buckets, identical candidate sets, and
# identical round-4 rankings, so the recall NUMBER itself is
# hash-graded — the "rows-only recall floor" the other ANN ops carry
# in QUALITY.md becomes a driver-verified fact for this one.
# Scale shape: two bounded top-k frames joined on vec_id.
# ---------------------------------------------------------------------------
def q321_hyperplane_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ann = q320_portable_hyperplane_ann(spark, sf_dir).select("vec_id")
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    w = Window.orderBy(F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).desc(), F.col("vec_id"))
    exact = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    return ann.join(exact, "vec_id").agg(
        F.lit(K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        (F.count(F.lit(1)) / F.lit(float(K))).alias("recall"),
    )


Q321_SQL = f"""
WITH {Q320_CTES},
exact AS (
  SELECT vec_id
  FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(count(*) AS DOUBLE) / {float(K)} AS recall
FROM (SELECT vec_id FROM ann WHERE rn <= {K}) a
JOIN exact USING (vec_id)
"""


# ---------------------------------------------------------------------------
# q325 — ENGINE-PORTABLE IVF ANN top-k: the ANN family's second
# hash-graded INDEX STRUCTURE (q320 = hyperplane-LSH hash buckets;
# this = inverted-file cells — the q49/q175 production shape made
# cross-engine exact). Pivots are IVF_CELLS pinned ±1 vectors from a
# fresh LCG stream; cell assignment = argmax of the int64 code·pivot
# dot with first-index tie-break, so every engine computes identical
# cells from identical integer arithmetic. Probe = the IVF_NPROBE
# cells closest to the query (qdot DESC, cell ASC), exact round-4
# cosine re-rank on the float embeddings, k = 13 (app.py:409).
# The Spark side runs the pinned pivots through the SAME kernels as
# trained pivots (q369): a (cell, cent) relation, _assign_to_pivots'
# argmin of |P|^2 - 2*code·P and _probe_rank's (L2 ASC, cell) order.
# Every ±1 pivot has |P|^2 = EMB_DIM, so argmin-L2 IS argmax-dot with
# the same first-index tie-break, and (L2 ASC, cell) IS (qdot DESC,
# cell) — the oracle's dot formulation, computed exactly.
# Scale shape: assignment is one Arrow pass over the codes against a
# broadcast pivot row (no shuffle); the probe list is a 4-row
# broadcast; candidates ~ nprobe/cells of the corpus. At 100 TB the
# pivots come from MLlib KMeans (q49) and cells scale ~sqrt(N); THIS
# op pins them so a second engine can grade candidate generation — same playbook
# that took MinHash from rows-only (q44) to hash-graded (q302).
# Measured (QUALITY.md): fixture recall@13 0.692 at 28% scan (sf0.01)
# / 0.462 at 25% scan (sf0.1) — above the isotropic recall~scan bound
# but below q320 (data-blind ±1 pivots tile the sphere more coarsely
# than 2x8 hyperplane bits; trained-KMeans pivots close that gap at
# scale). Planted corpus 12/13 = 0.923 at 32% scan (one cluster
# member straddles a cell boundary; nprobe=6 recovers it at 44% scan
# — the classic IVF nprobe/recall dial, swept in the numpy test).
# q326 grades the recall number cross-engine.
# ---------------------------------------------------------------------------
IVF_CELLS = 16
IVF_NPROBE = 4


def _ivf_pivots_n(n_cells: int) -> list[list[int]]:
    """n_cells x EMB_DIM pinned ±1 pivot vectors from one continuous
    LCG stream (seed differs from _ann_sign_matrices, so the two
    portable indexes are independent). The first IVF_CELLS rows are
    the q325 pivots — a larger cell count EXTENDS the same stream, so
    the scaled index (q366) shares the production seed."""
    s = 0x2545F4914F6CDD1D % (1 << 64)
    out = []
    for _ in range(n_cells):
        row = []
        for _ in range(EMB_DIM):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1 if (s >> 63) & 1 else -1)
        out.append(row)
    return out


def _pinned_pivots(
    spark: SparkSession, n_cells: int = IVF_CELLS
) -> DataFrame:
    """(cell, cent array<bigint>): the first ``n_cells`` pinned pivots
    as a relation — the shape trained_pivots returns, so pinned and
    trained cells share one assigner and one probe."""
    return spark.createDataFrame(
        list(enumerate(_ivf_pivots_n(n_cells))),
        "cell bigint, cent array<bigint>",
    )


def _assign_to_pivots(codes: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): argmin-L2 cell of every code against a (cell,
    cent) pivot relation, first cell on ties (np.argmin). The pivot
    table collapses to one sorted array column, broadcast-crossJoined,
    and one Arrow pass computes the int64 argmin of |P|^2 - 2*code·P
    (|code|^2 is constant per row, so ties and order match full L2)."""
    pv = cents.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("cell", "cent"))),
            lambda s: s["cent"],
        ).alias("pv")
    )

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            P = np.array(
                [list(r) for r in pdf["pv"].iloc[0]], dtype=np.int64
            )
            C = np.array(pdf["code"].tolist(), dtype=np.int64)
            d = (P * P).sum(axis=1)[None, :] - 2 * (C @ P.T)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cell": np.argmin(d, axis=1).astype(np.int64),
                }
            )

    return codes.crossJoin(F.broadcast(pv)).mapInPandas(
        assign, "vec_id bigint, cell bigint"
    )


def _probe_rank(qcode: DataFrame, cents: DataFrame) -> DataFrame:
    """(cell, pr): every pivot cell ranked by int64 squared L2 to the
    one-row query ``code``, ties to the lower cell. Callers keep
    ``pr <= nprobe``."""
    dist = F.aggregate(
        F.zip_with(
            F.col("code"), F.col("cent"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.orderBy(F.col("dist").asc(), "cell")
    return (
        qcode.select("code")
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("cell").cast("bigint").alias("cell"), dist.alias("dist")
        )
        .withColumn("pr", F.row_number().over(w))
        .select("cell", "pr")
    )


def _ivf_candidates(codes: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id): every corpus vector but BINARY_Q_ID whose cell is one
    of the query's IVF_NPROBE probed cells."""
    probed = (
        _probe_rank(codes.where(F.col("vec_id") == BINARY_Q_ID), cents)
        .where(F.col("pr") <= IVF_NPROBE)
        .select("cell")
    )
    return (
        _assign_to_pivots(codes, cents)
        .where(F.col("vec_id") != BINARY_Q_ID)
        .join(F.broadcast(probed), "cell")
        .select("vec_id")
    )


def _ivf_assign(emb: DataFrame, n_cells: int = IVF_CELLS) -> DataFrame:
    """(vec_id, cell) over the first ``n_cells`` pinned pivots. The
    DuckDB oracle keeps the declarative dot form (Q325_ASSIGN_CTES),
    so cross-engine equality still grades the integer chain itself."""
    codes = _int8_codes(emb).select("vec_id", "code")
    return _assign_to_pivots(codes, _pinned_pivots(emb.sparkSession, n_cells))


def _ivf_ann(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Top-K of BINARY_Q_ID over its probed cells, exact round-4
    cosine re-rank — q325 (pinned cents) and q369 (trained cents)."""
    cand = _ivf_candidates(_int8_codes(emb).select("vec_id", "code"), cents)
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        cand.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


def q325_portable_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivf_ann(emb, _pinned_pivots(spark))


def _duck_ivf_dots_n(n_cells: int) -> str:
    """DuckDB list of the n_cells integer dot products."""
    parts = []
    for row in _ivf_pivots_n(n_cells):
        signs = "[" + ", ".join(str(s) for s in row) + "]"
        parts.append(
            f"list_sum([code[k] * ({signs}[k])"
            f" for k in generate_series(1, {EMB_DIM})])"
        )
    return "[" + ", ".join(parts) + "]"


Q325_ASSIGN_CTES = f"""
codes AS (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
dots AS (
  SELECT vec_id, {_duck_ivf_dots_n(IVF_CELLS)} AS ds FROM codes
),
assigned AS (
  SELECT vec_id, CAST(list_position(ds, list_max(ds)) - 1 AS BIGINT) AS cell
  FROM dots
)"""

Q325_CTES = f"""{Q325_ASSIGN_CTES},
probed AS (
  SELECT CAST(cell AS BIGINT) AS cell FROM (
    SELECT u.cell, u.qdot,
           row_number() OVER (ORDER BY u.qdot DESC, u.cell) AS pr
    FROM (SELECT unnest(generate_series(0, {IVF_CELLS - 1})) AS cell,
                 unnest(ds) AS qdot
          FROM dots WHERE vec_id = {BINARY_Q_ID}) u
  ) WHERE pr <= {IVF_NPROBE}
),
cand AS (
  SELECT a.vec_id FROM assigned a JOIN probed USING (cell)
  WHERE a.vec_id != {BINARY_Q_ID}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
ann AS (
  SELECT vec_id, cos_sim,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
              AS BIGINT) AS rn
  FROM (
    SELECT c.vec_id,
           round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
             AS cos_sim
    FROM cand c
    JOIN embeddings b ON b.vec_id = c.vec_id, q
  )
)"""

Q325_SQL = f"""
WITH {Q325_CTES}
SELECT vec_id, cos_sim, rn FROM ann WHERE rn <= {K} ORDER BY rn
"""


# ---------------------------------------------------------------------------
# q326 — IVF-ANN recall eval, cross-engine graded (q321's pattern for
# the q325 index): overlap of the IVF top-13 with the exact-cosine
# top-13 — the recall of the SECOND portable index structure becomes a
# driver-verified number instead of a QUALITY.md self-claim.
# ---------------------------------------------------------------------------
def q326_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ann = q325_portable_ivf_ann(spark, sf_dir).select("vec_id")
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    w = Window.orderBy(
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).desc(),
        F.col("vec_id"),
    )
    exact = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    return ann.join(exact, "vec_id").agg(
        F.lit(K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        (F.count(F.lit(1)) / F.lit(float(K))).alias("recall"),
    )


Q326_SQL = f"""
WITH {Q325_CTES},
exact AS (
  SELECT vec_id
  FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(count(*) AS DOUBLE) / {float(K)} AS recall
FROM (SELECT vec_id FROM ann WHERE rn <= {K}) a
JOIN exact USING (vec_id)
"""


# ---------------------------------------------------------------------------
# q341 — quantization rank-stability: for QRS_N pinned anchor vectors,
# the overlap between the float-cosine top-10 and the INT8-cosine
# top-10 (cosine computed over q299's exact integer codes). q299
# showed the int8 prefilter loses nothing when an exact re-rank
# follows; this op measures the harder claim — how stable the RANKING
# itself is if the pipeline served int8 scores directly (the memory-
# bound regime at 100 TB). Per-anchor overlap is the quantization-QA
# gate a serving rollout checks before dropping the float copy.
# Scale: anchors are a QRS_N-row broadcast; both rankings are
# WindowGroupLimit top-k frames per anchor — corpus scanned twice
# (float + code), never shuffled on rows.
# ---------------------------------------------------------------------------
QRS_ANCHORS = [0, 1, 2, 3, 4]
QRS_K = 10


def q341_quantization_rank_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors_f = emb.where(F.col("vec_id").isin(QRS_ANCHORS)).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_emb")
    )
    wf = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_f").desc(), "vec_id"
    )
    top_f = (
        emb.crossJoin(F.broadcast(anchors_f))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "vec_id",
            F.round(V.cosine(F.col("a_emb"), F.col("embedding")), 4).alias(
                "cos_f"
            ),
        )
        .withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") <= QRS_K)
        .select("anchor_id", "vec_id")
    )
    codes = _int8_codes(emb).select("vec_id", "code")
    a_codes = codes.where(F.col("vec_id").isin(QRS_ANCHORS)).select(
        F.col("vec_id").alias("anchor_id"), F.col("code").alias("a_code")
    )
    dot8 = F.aggregate(
        F.zip_with(F.col("a_code"), F.col("code"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )

    def norm8(c):
        return F.sqrt(
            F.aggregate(
                F.zip_with(c, c, lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).cast("double")
        )

    w8 = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_8").desc(), "vec_id"
    )
    top_8 = (
        codes.crossJoin(F.broadcast(a_codes))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "vec_id",
            F.round(
                dot8.cast("double")
                / (norm8(F.col("a_code")) * norm8(F.col("code"))),
                4,
            ).alias("cos_8"),
        )
        .withColumn("rn", F.row_number().over(w8))
        .where(F.col("rn") <= QRS_K)
        .select("anchor_id", "vec_id")
    )
    return (
        top_f.join(top_8, ["anchor_id", "vec_id"])
        .groupBy("anchor_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
            F.round(F.count(F.lit(1)) / F.lit(float(QRS_K)), 4).alias(
                "overlap_frac"
            ),
        )
        .orderBy("anchor_id")
    )


_QRS_IDS = ", ".join(str(a) for a in QRS_ANCHORS)

_DUCK_PAIR_COS_F = (
    "round(list_sum([CAST(a.embedding[k] AS DOUBLE)"
    " * CAST(b.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM})])"
    " / (sqrt(list_sum([CAST(a.embedding[k] AS DOUBLE)"
    " * CAST(a.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM})]))"
    " * sqrt(list_sum([CAST(b.embedding[k] AS DOUBLE)"
    " * CAST(b.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM})]))), 4)"
)

_DUCK_PAIR_COS_8 = (
    "round(CAST(list_sum([a.code[k] * b.code[k]"
    f" for k in generate_series(1, {EMB_DIM})]) AS DOUBLE)"
    " / (sqrt(CAST(list_sum([a.code[k] * a.code[k]"
    f" for k in generate_series(1, {EMB_DIM})]) AS DOUBLE))"
    " * sqrt(CAST(list_sum([b.code[k] * b.code[k]"
    f" for k in generate_series(1, {EMB_DIM})]) AS DOUBLE))), 4)"
)

Q341_SQL = f"""
WITH codes AS (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
top_f AS (
  SELECT anchor_id, vec_id FROM (
    SELECT a.vec_id AS anchor_id, b.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_DUCK_PAIR_COS_F} DESC, b.vec_id) AS rn
    FROM embeddings a, embeddings b
    WHERE a.vec_id IN ({_QRS_IDS}) AND b.vec_id != a.vec_id
  ) WHERE rn <= {QRS_K}
),
top_8 AS (
  SELECT anchor_id, vec_id FROM (
    SELECT a.vec_id AS anchor_id, b.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_DUCK_PAIR_COS_8} DESC, b.vec_id) AS rn
    FROM codes a, codes b
    WHERE a.vec_id IN ({_QRS_IDS}) AND b.vec_id != a.vec_id
  ) WHERE rn <= {QRS_K}
)
SELECT anchor_id,
       CAST(count(*) AS BIGINT) AS n_overlap,
       round(count(*) / {float(QRS_K)!r}, 4) AS overlap_frac
FROM top_f JOIN top_8 USING (anchor_id, vec_id)
GROUP BY anchor_id
ORDER BY anchor_id
"""


# ---------------------------------------------------------------------------
# q342 — deterministic contrastive-negative sampling: for each QRS
# anchor, draw QRS_K negatives among vectors with a DIFFERENT label by
# portable hash priority (mix(vec_id * 8 + anchor) — stable per
# (anchor, candidate), so the training table is reproducible across
# engines, retries, and epochs), and emit each negative's float cosine
# as the hardness readout. This is the negative-sampling table a
# contrastive training pipeline materializes next to the embeddings;
# label-aware exclusion prevents false negatives (q213's cross-label
# audit is the upstream check).
# Scale: label filter + priority projection scan-side, per-anchor
# WindowGroupLimit top-k; the cosine join touches QRS_N x QRS_K rows.
# ---------------------------------------------------------------------------
def q342_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import mix_spark

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    anchors = emb.where(F.col("vec_id").isin(QRS_ANCHORS)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
    )
    pri = F.expr(mix_spark("vec_id * 8 + anchor_id"))
    w = Window.partitionBy("anchor_id").orderBy(pri.asc(), F.col("vec_id"))
    return (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("label") != F.col("a_label"))
        .withColumn("priority", pri.cast("bigint"))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= QRS_K)
        .select(
            "anchor_id",
            "rn",
            F.col("vec_id").alias("neg_id"),
            F.col("label").cast("bigint").alias("neg_label"),
            F.round(V.cosine(F.col("a_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy("anchor_id", "rn")
    )


def _q342_sql() -> str:
    from ..functions.hashing import mix_duck

    pri = mix_duck("b.vec_id * 8 + a.vec_id")
    return f"""
SELECT anchor_id, rn, neg_id, neg_label, cos_sim FROM (
  SELECT a.vec_id AS anchor_id,
         CAST(row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {pri}, b.vec_id) AS BIGINT) AS rn,
         b.vec_id AS neg_id,
         CAST(b.label AS BIGINT) AS neg_label,
         {_DUCK_PAIR_COS_F} AS cos_sim
  FROM embeddings a, embeddings b
  WHERE a.vec_id IN ({_QRS_IDS}) AND b.label != a.label
) WHERE rn <= {QRS_K}
ORDER BY anchor_id, rn
"""


Q342_SQL = _q342_sql()


# ---------------------------------------------------------------------------
# q344 — SemDeDup threshold curve: before committing to an embedding-
# dedup threshold (q42 pins tau=0.25; q224 runs the IVF-blocked
# SemDeDup), sweep it — per candidate tau, the count of label-blocked
# pairs at round-4 cosine >= tau and the docs that would be removed
# under the keep-smaller-id policy (distinct larger members; an upper
# bound on transitive-cluster removal, stated as such). The q230/q307
# advisor pattern applied to the embedding family: the curve's knee is
# the threshold decision. Taus span the fixture's isotropic cosine
# range ([0.23, 0.40] true-neighbor band, QUALITY.md).
# Scale: ONE label-blocked pair pass (q42's bounded-block shape,
# Arrow-scored, guarded by _guard_label_blocks' broadcast assert_true
# cap on the largest block) feeds every tau via a broadcast cross
# join — the sweep adds no second pair scan. q346 is the production
# variant: the same curve blocked on q325's IVF cells, whose size is
# bounded by construction.
# ---------------------------------------------------------------------------
SEMDEDUP_TAUS = [0.2, 0.25, 0.3, 0.35, 0.4]


def q344_semdedup_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _guard_label_blocks(
        load(spark, sf_dir, "embeddings"), "q344_semdedup_threshold_curve"
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("label").alias("label_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
    )
    cos = V.cosine_arrow()
    pairs = (
        a.join(
            b,
            (F.col("label_a") == F.col("label_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_b",
            F.round(cos(F.col("emb_a"), F.col("emb_b")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= min(SEMDEDUP_TAUS))
        .localCheckpoint()
    )
    taus = spark.createDataFrame([(t,) for t in SEMDEDUP_TAUS], "tau double")
    n_docs = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    swept = pairs.crossJoin(F.broadcast(taus)).where(
        F.col("cos_sim") >= F.col("tau")
    )
    return (
        swept.groupBy("tau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("id_b").cast("bigint").alias("docs_removed"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tau",
            "n_pairs",
            "docs_removed",
            F.round(
                F.col("docs_removed") / F.col("n_docs").cast("double"), 4
            ).alias("removed_frac"),
        )
        .orderBy("tau")
    )


Q344_SQL = f"""
WITH pairs AS (
  SELECT b.vec_id AS id_b,
         round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4)
        >= {min(SEMDEDUP_TAUS)}
),
taus AS (SELECT unnest([{", ".join(str(t) for t in SEMDEDUP_TAUS)}]) AS tau),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM embeddings)
SELECT tau,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id_b) AS BIGINT) AS docs_removed,
       round(count(DISTINCT id_b) / CAST(nd.n_docs AS DOUBLE), 4)
         AS removed_frac
FROM pairs, taus, nd
WHERE cos_sim >= tau
GROUP BY tau, nd.n_docs
ORDER BY tau
"""


# ---------------------------------------------------------------------------
# q346 — SemDeDup threshold curve at its REAL blocking structure (r11
# verdict item 5): q344 sweeps the dedup threshold inside label blocks
# (a fixture proxy — labels don't exist on an uncurated crawl and can
# skew arbitrarily); this op runs the identical curve inside PORTABLE
# IVF CELLS, the actual SemDeDup recipe (Abbas et al. 2023: cluster
# with k-means, dedup within clusters). Cells come from _ivf_assign
# — pinned ±1 pivots over the int8 codes, one shared LCG stream,
# bit-identical across engines — so the production blocking structure
# itself is hash-graded.
#
# r14 DE-WEAK (VERDICT r13 item 1): the r12/r13 version pinned 16
# cells, and the synthetic-decade sweep measured its within-cell pair
# scan quadratic (2.25 s -> 31.09 s for 10x vectors, tail alpha 1.14)
# because pair mass grows (N/16)^2. The graded op is now a CURVE OVER
# CELL COUNTS: cells ~ sqrt(N) via the pinned integer ladder
# _semdedup_rungs (powers of two, capped at SEMDEDUP_MAXC so the
# oracle's pivot literal is bounded), PLUS the historical 16-cell
# rung wherever its quadratic block mass fits the pinned affordability
# bound (N <= SEMDEDUP_CELL16_MAX_N, i.e. <= 1M within-cell pair
# candidates). The ladder is a pure integer function of count(*), so
# the DuckDB oracle derives the identical rungs from the same count —
# the scaled blocking stays hash-graded end-to-end, and at the
# synthetic decade only the ~sqrt(N) rung runs, bounding per-cell
# pair counts ~constant (tail alpha measured in SCALING.md).
# Scale: cell size is bounded BY CONSTRUCTION (~N/cells; at 100 TB
# cells come from trained MLlib KMeans pivots with k ~ sqrt(N), q49/
# q224 — this op grades the portable mechanism), and the
# _guard_blocks assert_true cap still backstops a degenerate pivot
# set. One pair pass per rung, broadcast tau sweep — q344's shape.
# ---------------------------------------------------------------------------
SEMDEDUP_CELL_CAP = 200_000  # ~sqrt(100TB-scale N); degenerate-pivot backstop
SEMDEDUP_MAXC = 256  # pivot-stream bound: the oracle embeds this many literals
SEMDEDUP_CELL16_MAX_N = 4096  # 16-cell rung affordable while N^2/16 <= 1M


def _semdedup_rungs(n_docs: int) -> list[int]:
    """Cell-count ladder for a corpus of ``n_docs`` vectors: the
    smallest power of two >= sqrt(N) (clamped to [32, SEMDEDUP_MAXC]),
    preceded by the historical 16-cell rung while its (N/16)^2 block
    mass stays affordable. Pure integer rule — the oracle reproduces
    it from count(*) with a CASE ladder."""
    if n_docs <= 1024:
        scaled = 32
    elif n_docs <= 4096:
        scaled = 64
    elif n_docs <= 16384:
        scaled = 128
    else:
        scaled = SEMDEDUP_MAXC
    rungs = [16] if n_docs <= SEMDEDUP_CELL16_MAX_N else []
    return rungs + [scaled]


def _semdedup_tau_curve(
    spark: SparkSession,
    emb: DataFrame,
    n_cells: int,
    name: str,
    pivots: DataFrame | None = None,
) -> DataFrame:
    """One rung of the SemDeDup curve: within-cell pair scan at
    ``n_cells`` cells, swept over SEMDEDUP_TAUS. Shared by q346 (rung
    ladder) and q366 (fixed scaled rung). ``pivots``: an optional
    (cell, cent) relation — e.g. trained_pivots' seeded-Lloyd's table
    — in place of the first ``n_cells`` pinned pivots, so the
    SemDeDup cells adapt to the corpus."""
    if pivots is not None:
        # the pivot relation defines the cell count — refuse a caller
        # who believes a different n_cells is in force (the guard name
        # and pair-mass reasoning would silently describe the wrong
        # granularity otherwise)
        n_pivots = pivots.count()
        if n_pivots != n_cells:
            raise ValueError(
                f"{name}: pivots relation has {n_pivots} cells but "
                f"n_cells={n_cells} was requested"
            )
    else:
        pivots = _pinned_pivots(spark, n_cells)
    cells = _assign_to_pivots(
        _int8_codes(emb).select("vec_id", "code"), pivots
    )
    # localCheckpoint the cell assignment ONCE: it feeds the guard,
    # BOTH pair-join sides and n_docs — without it the numpy code
    # scan recomputes 4x (measured 22.8 s at sf0.1 in BENCH_r12's
    # first record; ~4x cheaper materialized).
    assigned = emb.join(cells, "vec_id").localCheckpoint()
    withcell = _guard_blocks(assigned, "cell", name, SEMDEDUP_CELL_CAP)

    # r16 PERF (guide §2.3 shuffle fewer bytes, §2.4 partition-local
    # work, §4.2 Arrow): the within-cell pair scan was a row self-join
    # on cell — BOTH float arrays crossed the Exchange and every pair
    # paid a per-row Arrow call (q27's pre-r15 shape). One grouped
    # numpy stage per cell now computes the gram matrix in 512-row
    # blocks, prefilters at min(tau) - 1e-3, and rescores survivors
    # with the exact cosine_arrow cumsum arithmetic — the prefilter
    # margin (1e-3) exceeds the BLAS-vs-cumsum float64 association
    # error (~dim * eps ~ 1e-13) plus the 4-dp rounding quantum
    # (5e-5) by >10x, so no pair that rounds to >= min(tau) can be
    # pruned. Outputs verified bit-identical for q346 AND q366 at
    # sf0.001/0.01/0.1 + the synthetic decade.
    thr = min(SEMDEDUP_TAUS) - 1e-3

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_b": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        # exact per-row norm: the cosine_arrow cumsum arithmetic
        nrm = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
        out = []
        for s in range(0, len(ids), 512):
            rows = np.arange(s, min(s + 512, len(ids)))
            G = X[rows] @ X.T
            cosap = G / (nrm[rows][:, None] * nrm[None, :])
            cm = (cosap >= thr) & (ids[None, :] > ids[rows][:, None])
            ii, jj = np.nonzero(cm)
            if not len(ii):
                continue
            gi = rows[ii]
            A, B = X[gi], X[jj]
            dot = np.cumsum(A * B, axis=1)[:, -1]
            out.append(
                pd.DataFrame(
                    {"id_b": ids[jj], "cos_raw": dot / (nrm[gi] * nrm[jj])}
                )
            )
        if not out:
            return empty
        return pd.concat(out, ignore_index=True)

    pairs = (
        withcell.select("vec_id", "embedding", "cell")
        .groupBy("cell")
        .applyInPandas(cell_pairs, "id_b bigint, cos_raw double")
        .select("id_b", F.round(F.col("cos_raw"), 4).alias("cos_sim"))
        .where(F.col("cos_sim") >= min(SEMDEDUP_TAUS))
        .localCheckpoint()
    )
    taus = spark.createDataFrame([(t,) for t in SEMDEDUP_TAUS], "tau double")
    # n_docs counts the GUARDED frame (the cell join is 1:1, so the
    # count equals emb's) — this keeps the assert_true cap visible in
    # the final plan after `pairs` truncates its lineage at the
    # checkpoint; the guard also fires eagerly when the checkpoint
    # materializes the pair join itself.
    n_docs = withcell.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    swept = pairs.crossJoin(F.broadcast(taus)).where(
        F.col("cos_sim") >= F.col("tau")
    )
    return (
        swept.groupBy("tau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("id_b").cast("bigint").alias("docs_removed"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tau",
            "n_pairs",
            "docs_removed",
            F.round(
                F.col("docs_removed") / F.col("n_docs").cast("double"), 4
            ).alias("removed_frac"),
        )
    )


def q346_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # one driver-side count to size the rung ladder — exactly what
    # production SemDeDup does (choose KMeans k from corpus size); at
    # 100 TB this is a parquet-footer count, and the graph/store
    # fixpoint ops already set the driver-action precedent.
    n = emb.count()
    out = None
    for nc in _semdedup_rungs(n):
        curve = _semdedup_tau_curve(
            spark, emb, nc, "q346_semdedup_cells"
        ).select(F.lit(nc).cast("bigint").alias("n_cells"), "*")
        out = curve if out is None else out.unionByName(curve)
    return out.orderBy("n_cells", "tau")


Q346_SQL = f"""
WITH codes AS (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
dots AS (
  SELECT vec_id, {_duck_ivf_dots_n(SEMDEDUP_MAXC)} AS ds FROM codes
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM embeddings),
rungs AS (
  SELECT unnest(list_concat(
    CASE WHEN n_docs <= {SEMDEDUP_CELL16_MAX_N}
         THEN [CAST(16 AS BIGINT)] ELSE CAST([] AS BIGINT[]) END,
    [CAST(CASE WHEN n_docs <= 1024 THEN 32
               WHEN n_docs <= 4096 THEN 64
               WHEN n_docs <= 16384 THEN 128
               ELSE {SEMDEDUP_MAXC} END AS BIGINT)]
  )) AS n_cells FROM nd
),
assigned AS MATERIALIZED (
  SELECT r.n_cells, d.vec_id,
         CAST(list_position(ds[1:r.n_cells], list_max(ds[1:r.n_cells])) - 1
              AS BIGINT) AS cell
  FROM dots d, rungs r
),
pairs AS (
  SELECT aa.n_cells, ab.vec_id AS id_b,
         round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
  FROM assigned aa
  JOIN assigned ab
    ON aa.n_cells = ab.n_cells AND aa.cell = ab.cell
   AND aa.vec_id < ab.vec_id
  JOIN embeddings a ON a.vec_id = aa.vec_id
  JOIN embeddings b ON b.vec_id = ab.vec_id
  WHERE round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4)
        >= {min(SEMDEDUP_TAUS)}
),
taus AS (SELECT unnest([{", ".join(str(t) for t in SEMDEDUP_TAUS)}]) AS tau)
SELECT n_cells, tau,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id_b) AS BIGINT) AS docs_removed,
       round(count(DISTINCT id_b) / CAST(nd.n_docs AS DOUBLE), 4)
         AS removed_frac
FROM pairs, taus, nd
WHERE cos_sim >= tau
GROUP BY n_cells, tau, nd.n_docs
ORDER BY n_cells, tau
"""


# ---------------------------------------------------------------------------
# q347 — ENGINE-PORTABLE GRAPH ANN (r11 verdict item 6): the last
# rows-only ANN family member (q214 NN-descent / the reference's
# hnswlib index, app.py:73-76) gets the q320/q325 treatment — a
# pinned, integer-deterministic twin whose candidate generation a
# second engine reproduces bit-for-bit, so the recall number itself
# becomes driver-graded (q348) instead of a QUALITY.md self-claim.
#
# Three phases, all on q299's int8 codes (int64 dot = the portable
# similarity; fixture embeddings are unit-norm so dot ranking tracks
# cosine ranking):
#   1. INIT — each node's NNG_R starting neighbors are ring offsets
#      (u + j*37) mod (max_id+1), semi-joined to existing ids: no RNG,
#      no global sort, identical on both engines.
#   2. REFINE — NNG_ROUNDS rounds of NN-descent: candidates(u) =
#      out-neighbors ∪ in-neighbors ∪ neighbors-of-neighbors, keep
#      the top NNG_R by (code dot DESC, v ASC). This is Dong et al.'s
#      NN-descent with the full-join candidate rule, round count
#      pinned small so the oracle unrolls it as CTEs.
#   3. SEARCH — NSW-style beam search toward the query: from pinned
#      entry ids, NNG_HOPS hops of expand-neighbors / keep the
#      NNG_BEAM best by query dot; the visited set is exact-cosine
#      re-ranked to the reference's k=13.
# Scale: edges are N*R rows (shuffle key u); the per-round two-hop
# candidate set is N*R^2 (bounded by the pinned R, never N^2); the
# beam is a <=NNG_BEAM-row broadcast per hop; re-rank touches only
# the visited set. At 100 TB: R and rounds grow logarithmically, the
# beam stays tiny, and the graph build is the one batch-heavy stage —
# exactly how a distributed HNSW/NSG build behaves.
# ---------------------------------------------------------------------------
# Measured (config sweep, r12): sf0.01 recall@13 = 0.692 at 32.5%
# scan — the same regime as q325's IVF (0.692 at 28%); sf0.1 = 0.077
# at 9.4% scan, i.e. AT the isotropic information bound (recall ~
# scan fraction; the fixture corpus is isotropic unit vectors, the
# worst case for graph navigability — see q320's note). The planted-
# cluster test in test_round12_ops.py shows the graph search
# recovering real cluster structure when it exists.
NNG_R = 6
NNG_ROUNDS = 2
NNG_BEAM = 16
NNG_HOPS = 4
NNG_ENTRIES = [1, 7, 19, 37, 61, 89, 127, 157, 199, 241, 283, 331]
NNG_STRIDE = 37


def _nng_code_dot(code_a, code_b):
    """Declarative int64 code dot — the reference arithmetic the
    DuckDB oracle mirrors. The hot paths (_nng_score, the qd scan) use
    V.int_dot_arrow(), which is bit-identical; this form is retained
    as the equivalence-test reference."""
    return F.aggregate(
        F.zip_with(code_a, code_b, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _nng_topr(scored: DataFrame) -> DataFrame:
    """Keep the NNG_R best out-neighbors per u by (dot DESC, v ASC).

    r16 PERF (guide §2.2, §2.4): was a row_number window —
    Exchange(u) + a FULL partition sort per refine round. Now ONE
    hash aggregate: array_sort ascending on struct(-dot, v) IS
    (dot DESC, v ASC) — integer arithmetic throughout, so the tie
    rule is preserved exactly — and slice keeps the NNG_R best.
    Map-side partial aggregation replaces the partition sort; the
    per-group sort touches <= ~NNG_R*(NNG_R+2) structs. collect_set
    also makes the (u, v)-dedup contract explicit (identical pairs
    collapse; callers pre-dedup so this is belt-and-braces, not a
    semantics change). Edge list verified bit-identical vs the window
    form at sf0.001/0.01/0.1 + the synthetic decade; test-locked in
    test_round16_ops."""
    top = scored.groupBy("u").agg(
        F.slice(
            F.array_sort(
                F.collect_set(
                    F.struct(
                        (-F.col("dot")).alias("nd"), F.col("v").alias("v")
                    )
                )
            ),
            1,
            NNG_R,
        ).alias("top")
    )
    return top.select("u", F.explode(F.col("top").getField("v")).alias("v"))


def _nng_score(cand: DataFrame, codes: DataFrame) -> DataFrame:
    # r15 PERF: the candidate mass is N*(R^2+2R) pairs per refine
    # round, each paying the interpreted zip_with/aggregate fold (no
    # codegen) — a per-pair term that grows with N (the _ivf_assign
    # PERF NOTE, third instance). One Arrow batch product-sum per task
    # is bit-identical — pure int64 arithmetic, order-free — so
    # ranking and oracle hashes are unchanged (equivalence vs
    # _nng_code_dot test-locked in test_round15_ops).
    idot = V.int_dot_arrow()
    # narrow the payload BEFORE the pair joins (guide: shuffle fewer
    # bytes): _int8_codes values are in [-127, 127] by construction,
    # so the array<bigint> -> array<tinyint> cast is exact, ships 1/8
    # the bytes per pair, and drops the code relation under the
    # broadcast threshold; int_dot_arrow widens back to int64 before
    # multiplying, so the dot is unchanged.
    # CALLER CONTRACT (ADVICE r15): ``codes`` must be an _int8_codes
    # output (values in [-127, 127]) — a wider code would silently
    # wrap under the non-ANSI tinyint cast. The range invariant is
    # test-locked (test_round15_ops asserts _int8_codes bounds and
    # this function's equivalence to the _nng_code_dot reference).
    i8 = lambda c: c.cast("array<tinyint>")  # noqa: E731
    cu = codes.select(F.col("vec_id").alias("u"), i8(F.col("code")).alias("cu"))
    cv = codes.select(F.col("vec_id").alias("v"), i8(F.col("code")).alias("cv"))
    return (
        cand.join(cu, "u")
        .join(cv, "v")
        .select("u", "v", idot(F.col("cu"), F.col("cv")).alias("dot"))
    )


def _nng_graph(codes: DataFrame) -> DataFrame:
    """The refined NNG_R-NN graph as an (u, v) edge list."""
    ids = codes.select("vec_id")
    mx = ids.agg((F.max("vec_id") + 1).alias("_n"))
    init = (
        ids.crossJoin(F.broadcast(mx))
        .select(
            F.col("vec_id").alias("u"),
            F.explode(
                F.array(
                    *[
                        (F.col("vec_id") + F.lit(j * NNG_STRIDE))
                        % F.col("_n")
                        for j in range(1, NNG_R + 1)
                    ]
                )
            ).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .join(ids.select(F.col("vec_id").alias("v")), "v", "semi")
    )
    g = _nng_topr(_nng_score(init, codes)).localCheckpoint()
    for _ in range(NNG_ROUNDS):
        fwd = g
        rev = g.select(F.col("v").alias("u"), F.col("u").alias("v"))
        a = g.select(F.col("u").alias("u"), F.col("v").alias("_m"))
        b = g.select(F.col("u").alias("_m"), F.col("v").alias("v"))
        hop = a.join(b, "_m").select("u", "v").where(F.col("u") != F.col("v"))
        cand = fwd.unionByName(rev).unionByName(hop).dropDuplicates(["u", "v"])
        g = _nng_topr(_nng_score(cand, codes)).localCheckpoint()
    return g


def _nng_visited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-search visited set (vec_id) for BINARY_Q_ID's query."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # r16 PERF (guide §1.2 don't compute twice): materialize the int8
    # code table ONCE — it feeds every per-round cu/cv broadcast in
    # the graph build plus the qd scan below, and each broadcast used
    # to re-run the parquet scan + Arrow quantization (6+ passes per
    # query). Values unchanged; lineage truncation only.
    codes = _int8_codes(emb).select("vec_id", "code").localCheckpoint()
    g = _nng_graph(codes)
    qc = codes.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("code").alias("qcode")
    )
    # materialized once: qd feeds every hop's expand join and the
    # beam re-rank (NNG_HOPS re-derivations otherwise)
    qd = (
        codes.where(F.col("vec_id") != BINARY_Q_ID)
        .select("vec_id", F.col("code").cast("array<tinyint>").alias("code"))
        .crossJoin(F.broadcast(qc))
        .select(
            "vec_id",
            V.int_dot_arrow()(F.col("code"), F.col("qcode")).alias("qd"),
        )
        .localCheckpoint()
    )
    beam = qd.where(
        F.col("vec_id").isin([int(e) for e in NNG_ENTRIES])
    ).select("vec_id", "qd")
    visited = beam.select("vec_id")
    wb = Window.orderBy(F.col("qd").desc(), F.col("vec_id"))
    for _ in range(NNG_HOPS):
        expand = (
            g.join(
                F.broadcast(beam.select(F.col("vec_id").alias("u"))), "u"
            )
            .select(F.col("v").alias("vec_id"))
            .join(qd, "vec_id")
            .select("vec_id", "qd")
        )
        visited = visited.unionByName(
            expand.select("vec_id")
        ).dropDuplicates(["vec_id"])
        beam = (
            beam.unionByName(expand)
            .dropDuplicates(["vec_id"])
            .withColumn("_rn", F.row_number().over(wb))
            .where(F.col("_rn") <= NNG_BEAM)
            .select("vec_id", "qd")
        )
    return visited


def _graph_ann_topk(emb: DataFrame, visited: DataFrame) -> DataFrame:
    """Exact-cosine top-K re-rank of a beam-search visited set."""
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        visited.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


def q347_portable_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _graph_ann_topk(emb, _nng_visited(spark, sf_dir))


def _nng_duck_ctes() -> str:
    """DuckDB mirror of _nng_graph + _nng_visited, rounds unrolled."""
    code_dot = (
        "list_sum([cu.code[k] * cv.code[k]"
        f" for k in generate_series(1, {EMB_DIM})])"
    )
    offsets = ", ".join(
        f"(vec_id + {j * NNG_STRIDE}) % mxn"
        for j in range(1, NNG_R + 1)
    )
    ctes = [
        f"""ids AS (SELECT vec_id FROM codes),
mxn AS (SELECT max(vec_id) + 1 AS mxn FROM ids),
init AS (
  SELECT i.vec_id AS u, t.v
  FROM ids i, mxn, unnest([{offsets}]) AS t(v)
  WHERE t.v != i.vec_id AND t.v IN (SELECT vec_id FROM ids)
),
g0 AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT s.u, s.v,
           row_number() OVER (PARTITION BY s.u
                              ORDER BY {code_dot} DESC, s.v) AS rn
    FROM init s JOIN codes cu ON cu.vec_id = s.u
    JOIN codes cv ON cv.vec_id = s.v
  ) WHERE rn <= {NNG_R}
)"""
    ]
    for r in range(1, NNG_ROUNDS + 1):
        p = f"g{r - 1}"
        ctes.append(
            f"""cand{r} AS (
  SELECT u, v FROM {p}
  UNION
  SELECT v AS u, u AS v FROM {p}
  UNION
  SELECT a.u, b.v FROM {p} a JOIN {p} b ON a.v = b.u AND a.u != b.v
),
g{r} AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT s.u, s.v,
           row_number() OVER (PARTITION BY s.u
                              ORDER BY {code_dot} DESC, s.v) AS rn
    FROM cand{r} s JOIN codes cu ON cu.vec_id = s.u
    JOIN codes cv ON cv.vec_id = s.v
  ) WHERE rn <= {NNG_R}
)"""
        )
    gf = f"g{NNG_ROUNDS}"
    qdot = (
        "list_sum([c.code[k] * qc.code[k]"
        f" for k in generate_series(1, {EMB_DIM})])"
    )
    entries = ", ".join(str(e) for e in NNG_ENTRIES)
    ctes.append(
        f"""qd AS MATERIALIZED (
  SELECT c.vec_id, {qdot} AS qd
  FROM codes c, (SELECT code FROM codes WHERE vec_id = {BINARY_Q_ID}) qc
  WHERE c.vec_id != {BINARY_Q_ID}
),
b0 AS MATERIALIZED (
  SELECT vec_id, qd FROM qd WHERE vec_id IN ({entries})
)"""
    )
    vis_parts = ["SELECT vec_id FROM b0"]
    for h in range(1, NNG_HOPS + 1):
        p = f"b{h - 1}"
        ctes.append(
            f"""x{h} AS MATERIALIZED (
  SELECT qd.vec_id, qd.qd
  FROM {gf} g JOIN {p} ON g.u = {p}.vec_id
  JOIN qd ON qd.vec_id = g.v
),
b{h} AS MATERIALIZED (
  SELECT vec_id, qd FROM (
    SELECT vec_id, qd,
           row_number() OVER (ORDER BY qd DESC, vec_id) AS rn
    FROM (SELECT vec_id, qd FROM {p} UNION SELECT vec_id, qd FROM x{h})
  ) WHERE rn <= {NNG_BEAM}
)"""
        )
        vis_parts.append(f"SELECT vec_id FROM x{h}")
    visited_sql = "\n  UNION\n  ".join(vis_parts)
    ctes.append(
        f"""visited AS MATERIALIZED (
  {visited_sql}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
ann AS (
  SELECT vec_id, cos_sim,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
              AS BIGINT) AS rn
  FROM (
    SELECT c.vec_id,
           round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
             AS cos_sim
    FROM visited c
    JOIN embeddings b ON b.vec_id = c.vec_id, q
  )
)"""
    )
    return ",\n".join(ctes)


Q347_CTES = f"""
codes AS MATERIALIZED (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
{_nng_duck_ctes()}"""

Q347_SQL = f"""
WITH {Q347_CTES}
SELECT vec_id, cos_sim, rn FROM ann WHERE rn <= {K} ORDER BY rn
"""


# ---------------------------------------------------------------------------
# q348 — graph-ANN recall eval, cross-engine graded (q321/q326's
# pattern for the q347 index): overlap of the beam-search top-13 with
# the exact-cosine top-13, plus the visited-set size — recall AND scan
# fraction of the third portable index structure become driver-graded
# numbers, completing the ANN family's migration from rows-only
# QUALITY.md floors to hash-graded facts.
# ---------------------------------------------------------------------------
def q348_graph_ann_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # build the NN-descent graph + beam search ONCE: the visited set
    # feeds both the top-k re-rank and the scan-fraction count (the
    # previous form ran the heaviest stage twice — r12 ADVICE)
    visited = _nng_visited(spark, sf_dir).localCheckpoint()
    ann = _graph_ann_topk(emb, visited).select("vec_id")
    n_visited = visited.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_visited")
    )
    n_corpus = emb.where(F.col("vec_id") != BINARY_Q_ID).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus")
    )
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    w = Window.orderBy(
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).desc(),
        F.col("vec_id"),
    )
    exact = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    return (
        ann.join(exact, "vec_id")
        .agg(
            F.lit(K).cast("bigint").alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            (F.count(F.lit(1)) / F.lit(float(K))).alias("recall"),
        )
        .crossJoin(F.broadcast(n_visited))
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "k",
            "n_common",
            "recall",
            "n_visited",
            F.round(
                F.col("n_visited") / F.col("n_corpus").cast("double"), 4
            ).alias("scan_frac"),
        )
    )


Q348_SQL = f"""
WITH {Q347_CTES},
exact AS (
  SELECT vec_id
  FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n_visited FROM visited),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM embeddings
       WHERE vec_id != {BINARY_Q_ID}),
common AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common
  FROM (SELECT vec_id FROM ann WHERE rn <= {K}) a
  JOIN exact USING (vec_id)
)
SELECT CAST({K} AS BIGINT) AS k,
       common.n_common,
       CAST(common.n_common AS DOUBLE) / {float(K)} AS recall,
       nv.n_visited,
       round(nv.n_visited / CAST(nc.n_corpus AS DOUBLE), 4) AS scan_frac
FROM common, nv, nc
"""


# ---------------------------------------------------------------------------
# q349 — IVF nprobe/recall curve, hash-graded: the classic ANN tuning
# dial (how much recall does each extra probed cell buy?) as a
# driver-verified table instead of a QUALITY.md sweep. For each
# nprobe in the sweep, the top-13 among rows whose cell ranks within
# the first `nprobe` probe cells is compared to the exact top-13;
# the curve's knee picks the production nprobe (q325 pins 4 — this op
# is the evidence for that choice). Pattern: q344/q346's broadcast
# sweep applied to q325's index — the corpus is SCORED ONCE (one scan,
# one checkpoint), every nprobe reads the same scored frame, so the
# sweep adds no extra scans. The full-cells row (nprobe = IVF_CELLS)
# doubles as a self-check: its recall is 1.0 by construction.
# Scale: scoring is the eval's one corpus pass; per-nprobe top-k are
# WindowGroupLimit frames partitioned by nprobe (5 bounded groups).
# ---------------------------------------------------------------------------
IVF_NPROBE_SWEEP = [1, 2, 4, 8, IVF_CELLS]


def q349_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = _int8_codes(emb).select("vec_id", "code")
    cents = _pinned_pivots(spark)
    assigned = _assign_to_pivots(codes, cents)
    prank = _probe_rank(codes.where(F.col("vec_id") == BINARY_Q_ID), cents)
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        assigned.where(F.col("vec_id") != BINARY_Q_ID)
        .join(F.broadcast(prank), "cell")
        .join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "pr",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
        .localCheckpoint()
    )
    wx = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    exact = (
        scored.withColumn("rn", F.row_number().over(wx))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    nps = spark.createDataFrame(
        [(n,) for n in IVF_NPROBE_SWEEP], "nprobe bigint"
    )
    swept = scored.crossJoin(F.broadcast(nps)).where(
        F.col("pr") <= F.col("nprobe")
    )
    wk = Window.partitionBy("nprobe").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    topk = swept.withColumn("rn", F.row_number().over(wk)).where(
        F.col("rn") <= K
    )
    ncand = swept.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand")
    )
    common = (
        topk.join(exact, "vec_id")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    ntot = scored.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        ncand.join(common, "nprobe", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            "nprobe",
            "n_cand",
            F.round(F.col("n_cand") / F.col("n_total").cast("double"), 4)
            .alias("scan_frac"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / F.lit(float(K))
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


Q349_SQL = f"""
WITH {Q325_ASSIGN_CTES},
prank AS (
  SELECT CAST(cell AS BIGINT) AS cell, pr FROM (
    SELECT u.cell, row_number() OVER (ORDER BY u.qdot DESC, u.cell) AS pr
    FROM (SELECT unnest(generate_series(0, {IVF_CELLS - 1})) AS cell,
                 unnest(ds) AS qdot
          FROM dots WHERE vec_id = {BINARY_Q_ID}) u
  )
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
scored AS MATERIALIZED (
  SELECT a.vec_id, p.pr,
         round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4) AS cos_sim
  FROM assigned a
  JOIN prank p USING (cell)
  JOIN embeddings b ON b.vec_id = a.vec_id, q
  WHERE a.vec_id != {BINARY_Q_ID}
),
exact AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= {K}
),
nps AS (SELECT unnest([{", ".join(str(n) for n in IVF_NPROBE_SWEEP)}])
               AS nprobe),
swept AS MATERIALIZED (
  SELECT nprobe, vec_id, cos_sim FROM scored, nps WHERE pr <= nprobe
),
topk AS (
  SELECT nprobe, vec_id FROM (
    SELECT nprobe, vec_id,
           row_number() OVER (PARTITION BY nprobe
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM swept
  ) WHERE rn <= {K}
),
ncand AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_cand
          FROM swept GROUP BY nprobe),
common AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_common
  FROM topk JOIN exact USING (vec_id) GROUP BY nprobe
),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM scored)
SELECT CAST(ncand.nprobe AS BIGINT) AS nprobe,
       ncand.n_cand,
       round(ncand.n_cand / CAST(ntot.n_total AS DOUBLE), 4) AS scan_frac,
       CAST(coalesce(common.n_common, 0) AS BIGINT) AS n_common,
       CAST(coalesce(common.n_common, 0) AS DOUBLE) / {float(K)} AS recall
FROM ncand LEFT JOIN common ON ncand.nprobe = common.nprobe, ntot
ORDER BY nprobe
"""


# ---------------------------------------------------------------------------
# q351 — hubness audit (k-occurrence histogram): in high-dimensional
# retrieval a few "hub" vectors appear in an outsized share of other
# points' k-NN lists while many "antihubs" appear in none — the
# classic curse-of-dimensionality pathology (Radovanović et al. 2010)
# that silently skews ANN recall, kNN classification (q237), and
# embedding-dedup candidate counts. This op measures it: for HUB_A
# pinned anchor queries, compute each anchor's exact top-HUB_K
# neighbors, count how often every corpus vector occurs across those
# lists (its k-occurrence N_k), and emit the N_k histogram including
# the occ=0 antihub row. A healthy isotropic corpus shows a thin
# binomial-ish histogram; a long tail = hub pathology, and the
# downstream ops should switch to cosine re-centering or mutual-kNN.
#
# Plan (r15 rewrite): the prior shape broadcast the anchors but scored
# all HUB_A x N pairs through the interpreted higher-order-function
# cosine and shuffled every scored row into a HUB_A-partition window —
# linear, but with the sweep's worst constant (decade: 25.5 s). Now the
# q27 discipline: corpus blocks (vec_id % HUB_BLOCKS) each receive the
# anchor set via a broadcast replicate; per block ONE float64 gram
# matmul prunes to the per-anchor local top-HUB_K plus a 2e-4 margin
# band (>> matmul-vs-cumsum fp error + the 1e-4 rounding quantum, so a
# locally pruned row is strictly rounded-below >= HUB_K rows of its own
# block and can never reach the global top-k), surviving pairs are
# rescored with THE EXACT cosine_arrow cumsum arithmetic
# (functions/vectors.py), and only ~HUB_BLOCKS x HUB_A x (HUB_K + band)
# rows reach the global rounded re-rank. Emitted cos_sim is
# bit-identical; the oracle SQL is unchanged.
# Scale: anchors are a HUB_A-row broadcast; scoring is one corpus
# scan x HUB_A inside numpy (bounded); the shuffle carries candidates,
# not the corpus. Never N^2. The answer is block-count-invariant
# (asserted in tests), so at production scale HUB_BLOCKS grows with N
# (~ N*dim*8 / executor-batch bytes) to keep each numpy block bounded.
# ---------------------------------------------------------------------------
HUB_A = 50
HUB_K = 10
HUB_BLOCKS = 32


def q351_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.withColumn(
        "blk", (F.col("vec_id") % HUB_BLOCKS).cast("int")
    ).withColumn("side", F.lit(0))
    blocks = spark.range(HUB_BLOCKS).select(
        F.col("id").cast("int").alias("blk")
    )
    anchors = (
        emb.where(F.col("vec_id") < HUB_A)
        .crossJoin(F.broadcast(blocks))
        .withColumn("side", F.lit(1))
    )
    both = corpus.unionByName(anchors)

    def block_topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "a_id": pd.Series(dtype="int64"),
                "vec_id": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        cp = pdf[pdf["side"] == 0]
        ap = pdf[pdf["side"] == 1].sort_values("vec_id")
        if not len(cp) or not len(ap):
            return empty
        C = np.stack(cp["embedding"].to_numpy()).astype(np.float64)
        A = np.stack(ap["embedding"].to_numpy()).astype(np.float64)
        c_ids = cp["vec_id"].to_numpy().astype("int64")
        a_ids = ap["vec_id"].to_numpy().astype("int64")
        # float64 matmul gram — PRUNER only (error ~1e-12 << margin)
        sims = (A @ C.T) / (
            np.sqrt(np.einsum("ij,ij->i", A, A))[:, None]
            * np.sqrt(np.einsum("ij,ij->i", C, C))[None, :]
        )
        sims[a_ids[:, None] == c_ids[None, :]] = -np.inf
        k = min(HUB_K, sims.shape[1])
        kth = np.partition(sims, sims.shape[1] - k, axis=1)[:, sims.shape[1] - k]
        ii, jj = np.nonzero(sims >= (kth[:, None] - 2e-4))
        if not len(ii):
            return empty
        # exact rescore: the cosine_arrow cumsum arithmetic, verbatim
        Ai, Cj = A[ii], C[jj]
        dot = np.cumsum(Ai * Cj, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(Ai * Ai, axis=1)[:, -1])
        nc = np.sqrt(np.cumsum(Cj * Cj, axis=1)[:, -1])
        return pd.DataFrame(
            {"a_id": a_ids[ii], "vec_id": c_ids[jj], "cos": dot / (na * nc)}
        )

    cand = both.groupBy("blk").applyInPandas(
        block_topk, "a_id bigint, vec_id bigint, cos double"
    )
    scored = cand.select(
        "a_id", "vec_id", F.round("cos", 4).alias("cos_sim")
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    topk = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= HUB_K
    )
    nk = topk.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("occ")
    )
    hist = nk.groupBy("occ").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    n_total = emb.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    n_appearing = nk.agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    antihub = (
        n_total.crossJoin(n_appearing)
        .select(
            F.lit(0).cast("bigint").alias("occ"),
            (F.col("nt") - F.col("na")).cast("bigint").alias("n_vectors"),
        )
    )
    return antihub.unionByName(hist).orderBy("occ")


Q351_SQL = f"""
WITH anchors AS (
  SELECT vec_id AS a_id, embedding AS a_emb FROM embeddings
  WHERE vec_id < {HUB_A}
),
topk AS (
  SELECT a_id, vec_id FROM (
    SELECT a.a_id, b.vec_id,
           row_number() OVER (
             PARTITION BY a.a_id
             ORDER BY round(
               list_sum([ CAST(a.a_emb[k] AS DOUBLE)
                          * CAST(b.embedding[k] AS DOUBLE)
                          for k in generate_series(1, {EMB_DIM}) ])
               / (sqrt(list_sum([ CAST(a.a_emb[k] AS DOUBLE)
                                  * CAST(a.a_emb[k] AS DOUBLE)
                                  for k in generate_series(1, {EMB_DIM}) ]))
                  * sqrt(list_sum([ CAST(b.embedding[k] AS DOUBLE)
                                    * CAST(b.embedding[k] AS DOUBLE)
                                    for k in generate_series(1, {EMB_DIM}) ]))),
               4) DESC, b.vec_id) AS rn
    FROM anchors a JOIN embeddings b ON b.vec_id != a.a_id
  ) WHERE rn <= {HUB_K}
),
nk AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS occ FROM topk GROUP BY vec_id
),
hist AS (
  SELECT occ, CAST(count(*) AS BIGINT) AS n_vectors FROM nk GROUP BY occ
)
SELECT CAST(0 AS BIGINT) AS occ,
       CAST((SELECT count(*) FROM embeddings)
            - (SELECT count(*) FROM nk) AS BIGINT) AS n_vectors
UNION ALL
SELECT occ, n_vectors FROM hist
ORDER BY occ
"""


# ---------------------------------------------------------------------------
# q357 — cross-lingual near-duplicate detection: embedding pairs that
# are semantically near-identical but carry DIFFERENT document
# languages — the translated-duplicate signature that inflates
# multilingual training corpora (the same article crawled in two
# languages contributes near-zero new information to a multilingual
# model but double the tokens; mC4/CCMatrix-era curation prunes it).
# Blocking = q325's IVF cells (q346's production structure); language
# comes from the 1:1 documents join (vec_id <-> doc_id, the q197
# contract). q213 is the labels-disagree mislabel audit; this is the
# lang-disagree CURATION op over the real document metadata, with the
# pair list itself as output (feeds a keep-one-language policy).
# Scale: q346's bounded cell-blocked pair pass + two id->lang lookups.
# ---------------------------------------------------------------------------
XLING_TAU = 0.25


def q357_crosslingual_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lang = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    # q346's materialization note applies here too: one checkpoint of
    # the assignment feeds both pair-join sides.
    withcell = (
        emb.join(_ivf_assign(emb), "vec_id")
        .join(lang, "vec_id")
        .localCheckpoint()
    )
    a = withcell.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("cell").alias("cell_a"),
        F.col("lang").alias("lang_a"),
    )
    b = withcell.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("cell").alias("cell_b"),
        F.col("lang").alias("lang_b"),
    )
    cos = V.cosine_arrow()
    return (
        a.join(
            b,
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(F.col("lang_a") != F.col("lang_b"))
        .select(
            "id_a",
            "id_b",
            "lang_a",
            "lang_b",
            F.round(cos(F.col("emb_a"), F.col("emb_b")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= XLING_TAU)
        .orderBy("id_a", "id_b")
    )


Q357_SQL = f"""
WITH {Q325_ASSIGN_CTES},
wc AS (
  SELECT a.vec_id, a.cell, d.lang
  FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
)
SELECT aa.vec_id AS id_a, ab.vec_id AS id_b,
       aa.lang AS lang_a, ab.lang AS lang_b,
       round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
FROM wc aa
JOIN wc ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
           AND aa.lang != ab.lang
JOIN embeddings a ON a.vec_id = aa.vec_id
JOIN embeddings b ON b.vec_id = ab.vec_id
WHERE round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4)
      >= {XLING_TAU}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# q359 — mutual-kNN consistency: over the q351 anchor set, the share
# of directed kNN edges that are MUTUAL (a in top-k of b AND b in
# top-k of a). Mutual-kNN is the standard symmetrization gate before
# kNN-graph clustering / label propagation and the complement of
# q351's hubness histogram: low mutuality = asymmetric neighborhoods
# = hubs dominating lists. Edges are computed within the pinned
# anchor subset so the audit is EXACT and bounded (HUB_A^2 pairs,
# anchors broadcast) — the same trade q351 makes.
# Scale: one HUB_A x HUB_A scored block, per-anchor WindowGroupLimit
# top-k, one self-join on reversed edges, one-row aggregate.
# ---------------------------------------------------------------------------
MUTUAL_K = 5


def q359_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = emb.where(F.col("vec_id") < HUB_A)
    a = anchors.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("emb_a")
    )
    b = anchors.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("emb_b")
    )
    scored = (
        a.join(F.broadcast(b), F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(V.cosine(F.col("emb_a"), F.col("emb_b")), 4).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    edges = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MUTUAL_K)
        .select("src", "dst")
        .localCheckpoint()
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = edges.join(rev, ["src", "dst"], "semi")
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_mutual = mutual.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutual")
    )
    return (
        n_edges.crossJoin(n_mutual)
        .select(
            F.lit(HUB_A).cast("bigint").alias("n_anchors"),
            F.lit(MUTUAL_K).cast("bigint").alias("k"),
            "n_edges",
            "n_mutual",
            F.round(
                F.col("n_mutual") / F.col("n_edges").cast("double"), 4
            ).alias("mutual_frac"),
        )
    )


Q359_SQL = f"""
WITH anchors AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {HUB_A}
),
edges AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(
               list_sum([ CAST(a.embedding[k] AS DOUBLE)
                          * CAST(b.embedding[k] AS DOUBLE)
                          for k in generate_series(1, {EMB_DIM}) ])
               / (sqrt(list_sum([ CAST(a.embedding[k] AS DOUBLE)
                                  * CAST(a.embedding[k] AS DOUBLE)
                                  for k in generate_series(1, {EMB_DIM}) ]))
                  * sqrt(list_sum([ CAST(b.embedding[k] AS DOUBLE)
                                    * CAST(b.embedding[k] AS DOUBLE)
                                    for k in generate_series(1, {EMB_DIM}) ]))),
               4) DESC, b.vec_id) AS rn
    FROM anchors a JOIN anchors b ON a.vec_id != b.vec_id
  ) WHERE rn <= {MUTUAL_K}
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_mutual
  FROM edges e
  WHERE EXISTS (SELECT 1 FROM edges r
                WHERE r.src = e.dst AND r.dst = e.src)
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT CAST({HUB_A} AS BIGINT) AS n_anchors,
       CAST({MUTUAL_K} AS BIGINT) AS k,
       n.n_edges, m.n_mutual,
       round(m.n_mutual / CAST(n.n_edges AS DOUBLE), 4) AS mutual_frac
FROM n, m
"""


# ---------------------------------------------------------------------------
# q360 — ANN ensemble recall: union the candidate sets of the two
# cheap portable indexes (q320 hyperplane buckets + q325 IVF cells),
# exact-rerank once, and grade recall@13 against the exact top-13 —
# the production multi-index trick (several cheap diverse indexes
# whose candidate UNION beats any one of them at the same total scan
# budget; Chroma/hnswlib serve one index, a batch engine can afford
# several). Driver-graded: ensemble recall AND the per-index/union
# candidate counts, so the diversity benefit (union < sum => overlap,
# recall(union) >= max(individual)) is a verified number.
# Scale: both candidate generators are the scan-side projections
# documented at q320/q325; the union is id-only; one re-rank.
# ---------------------------------------------------------------------------
def q360_ann_ensemble_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # hyperplane candidates (q320's generator)
    bucketed = _hyperplane_buckets(emb)
    probes = (
        bucketed.where(F.col("vec_id") == BINARY_Q_ID)
        .select(
            F.col("tbl").alias("p_tbl"),
            F.explode(
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(f))
                        for f in ANN_PROBE_FLIPS
                    ]
                )
            ).alias("probe"),
        )
    )
    cand_h = (
        bucketed.where(F.col("vec_id") != BINARY_Q_ID)
        .join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe"))
            & (F.col("tbl") == F.col("p_tbl")),
        )
        .select("vec_id")
        .dropDuplicates(["vec_id"])
    )
    # IVF candidates (q325's generator)
    cand_i = _ivf_candidates(
        _int8_codes(emb).select("vec_id", "code"), _pinned_pivots(spark)
    )
    union = cand_h.unionByName(cand_i).dropDuplicates(["vec_id"])
    n_h = cand_h.agg(F.count(F.lit(1)).cast("bigint").alias("n_hyperplane"))
    n_i = cand_i.agg(F.count(F.lit(1)).cast("bigint").alias("n_ivf"))
    n_u = union.agg(F.count(F.lit(1)).cast("bigint").alias("n_union"))
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        union.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    topk = (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    wx = Window.orderBy(
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).desc(),
        F.col("vec_id"),
    )
    exact = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .withColumn("rn", F.row_number().over(wx))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    common = topk.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    return (
        common.crossJoin(F.broadcast(n_h))
        .crossJoin(F.broadcast(n_i))
        .crossJoin(F.broadcast(n_u))
        .select(
            F.lit(K).cast("bigint").alias("k"),
            "n_hyperplane",
            "n_ivf",
            "n_union",
            "n_common",
            (F.col("n_common") / F.lit(float(K))).alias("recall"),
        )
    )


def _q360_sql() -> str:
    """Manual CTE assembly: Q320_CTES and Q325_CTES both define
    `codes`/`q`/`ann`, so the ensemble re-declares each stage once
    under unambiguous names."""
    return f"""
WITH codes AS MATERIALIZED (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
bucketed AS (
  {_duck_bucketed_cte()}
),
probes AS (
  SELECT tbl, xor(bucket, f.flip) AS probe
  FROM bucketed, (SELECT unnest([{_DUCK_PROBE_FLIPS}]) AS flip) f
  WHERE vec_id = {BINARY_Q_ID}
),
cand_h AS (
  SELECT DISTINCT c.vec_id
  FROM bucketed c
  JOIN probes p ON c.tbl = p.tbl AND c.bucket = p.probe
  WHERE c.vec_id != {BINARY_Q_ID}
),
dots AS (
  SELECT vec_id, {_duck_ivf_dots_n(IVF_CELLS)} AS ds FROM codes
),
assigned AS (
  SELECT vec_id, CAST(list_position(ds, list_max(ds)) - 1 AS BIGINT) AS cell
  FROM dots
),
probed AS (
  SELECT CAST(cell AS BIGINT) AS cell FROM (
    SELECT u.cell, u.qdot,
           row_number() OVER (ORDER BY u.qdot DESC, u.cell) AS pr
    FROM (SELECT unnest(generate_series(0, {IVF_CELLS - 1})) AS cell,
                 unnest(ds) AS qdot
          FROM dots WHERE vec_id = {BINARY_Q_ID}) u
  ) WHERE pr <= {IVF_NPROBE}
),
cand_i AS (
  SELECT a.vec_id FROM assigned a JOIN probed USING (cell)
  WHERE a.vec_id != {BINARY_Q_ID}
),
cand_u AS (
  SELECT vec_id FROM cand_h UNION SELECT vec_id FROM cand_i
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
topk AS (
  SELECT vec_id FROM (
    SELECT c.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC, c.vec_id) AS rn
    FROM cand_u c JOIN embeddings b ON b.vec_id = c.vec_id, q
  ) WHERE rn <= {K}
),
exact AS (
  SELECT vec_id FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC, b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
),
common AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common
  FROM topk JOIN exact USING (vec_id)
)
SELECT CAST({K} AS BIGINT) AS k,
       (SELECT CAST(count(*) AS BIGINT) FROM cand_h) AS n_hyperplane,
       (SELECT CAST(count(*) AS BIGINT) FROM cand_i) AS n_ivf,
       (SELECT CAST(count(*) AS BIGINT) FROM cand_u) AS n_union,
       common.n_common,
       CAST(common.n_common AS DOUBLE) / {float(K)} AS recall
FROM common
"""


Q360_SQL = _q360_sql()


# ---------------------------------------------------------------------------
# q362 — ENGINE-PORTABLE IVF-PQ ANN top-k: the LAST rows-only ANN
# index structure (q175, reference family hnswlib/Chroma app.py:73-76)
# given the q320/q325/q347 hash-graded treatment. Production IVF-PQ
# (Jégou et al., q175: seeded-KMeans codebooks) is rows-only because
# MLlib KMeans internals aren't SQL-expressible; THIS op pins every
# learned artifact so a second engine can grade the full candidate
# pipeline — coarse cells, PQ encoding, ADC scoring, shortlist,
# exact re-rank — end to end:
#   * coarse quantizer = q325's pinned ±1 IVF pivots (argmax int64
#     dot, first-index tie-break) over the q299 int8 codes;
#   * PQ codebooks = PPQ_M x PPQ_KSUB pinned ±PPQ_SCALE sub-vectors
#     from a fresh LCG stream. Constant-magnitude sign codebooks make
#     every centroid the SAME norm, so nearest-centroid reduces to
#     the sub-vector's dominant sign pattern — per-block sign
#     quantization, the data-blind analog of a trained codebook (at
#     100 TB you train per-block KMeans as in q175 and broadcast the
#     learned tables through the SAME plan);
#   * encode = per-block argmin of INT64 squared distance (exact
#     integer arithmetic, np.argmin first-min == DuckDB
#     list_position(ds, list_min(ds)) — the _ivf_assign contract);
#   * ADC = the asymmetric-distance lookup: the query's per-block
#     distance table (PPQ_M x PPQ_KSUB int64) is a ONE-ROW broadcast;
#     each candidate costs PPQ_M element_at lookups + an int64 sum —
#     the memory-bound scan geometry that makes PQ worth it (codes
#     are PPQ_M ints/vector; full floats fetched only for the
#     shortlist);
#   * shortlist = top PPQ_SHORTLIST by (adc ASC, vec_id) —
#     TakeOrderedAndProject, never a global sort — then the family's
#     exact round-4 cosine re-rank to k = 13 (app.py:409).
# Scale shape: one int8-code scan encodes (numpy mapInPandas,
# Arrow-batched), the probe list and ADC table are broadcast
# singletons, candidates ~ nprobe/cells of the corpus, and only
# shortlist rows touch float vectors. q363 grades recall + scan
# fraction cross-engine.
# ---------------------------------------------------------------------------
PPQ_M = 8  # sub-blocks (64 dims -> 8 dims per block)
PPQ_SUB = EMB_DIM // PPQ_M
PPQ_KSUB = 16  # centroids per sub-block (4-bit codes)
PPQ_SCALE = 64  # centroid entry magnitude (~E|int8 code|)
# ADC shortlist re-ranked exactly: swept offline at sf0.1 — 4*K/8*K
# reach recall 0.308, 12*K reaches the IVF candidate ceiling (0.462);
# beyond that only nprobe buys more. Constant-size vs the corpus.
PPQ_SHORTLIST = 12 * K


def _pq_codebooks() -> list[list[list[int]]]:
    """PPQ_M x PPQ_KSUB x PPQ_SUB pinned ±PPQ_SCALE codebooks from one
    continuous LCG stream (seed distinct from _ivf_pivots /
    _ann_sign_matrices, so the three portable indexes stay
    independent)."""
    s = 0x9E3779B97F4A7C15 % (1 << 64)
    books = []
    for _ in range(PPQ_M):
        block = []
        for _ in range(PPQ_KSUB):
            row = []
            for _ in range(PPQ_SUB):
                s = (s * 6364136223846793005 + 1442695040888963407) % (
                    1 << 64
                )
                row.append(PPQ_SCALE if (s >> 63) & 1 else -PPQ_SCALE)
            block.append(row)
        books.append(block)
    return books


def _pq_encode(codes: DataFrame) -> DataFrame:
    """(vec_id, pqc): per-block argmin-distance PQ codes over the int8
    codes — int64 numpy, bit-identical to the unrolled oracle SQL
    (np.argmin first occurrence == list_position(ds, list_min(ds)))."""
    books = _pq_codebooks()

    def encode(batches):
        import numpy as np
        import pandas as pd

        B = np.array(books, dtype=np.int64)  # (M, KSUB, SUB)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["code"].tolist(), dtype=np.int64)  # (n, dim)
            out = np.empty((len(pdf), PPQ_M), dtype=np.int64)
            for m in range(PPQ_M):
                blk = C[:, m * PPQ_SUB : (m + 1) * PPQ_SUB]
                d2 = ((blk[:, None, :] - B[m][None, :, :]) ** 2).sum(axis=2)
                out[:, m] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].astype("int64"), "pqc": list(out)}
            )

    return codes.mapInPandas(encode, "vec_id bigint, pqc array<bigint>")


def _pq_qtable(codes: DataFrame) -> DataFrame:
    """One-row (qt array<array<bigint>>): the query's per-block ADC
    distance table — squared int64 distance from each query sub-vector
    to each centroid. Same arithmetic as _pq_encode's distance matrix,
    kept as the full table instead of its argmin."""
    books = _pq_codebooks()

    def table(batches):
        import numpy as np
        import pandas as pd

        B = np.array(books, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["code"].tolist(), dtype=np.int64)
            rows = []
            for i in range(len(pdf)):
                qt = []
                for m in range(PPQ_M):
                    qb = C[i, m * PPQ_SUB : (m + 1) * PPQ_SUB]
                    qt.append(
                        ((B[m] - qb[None, :]) ** 2).sum(axis=1).tolist()
                    )
                rows.append(qt)
            yield pd.DataFrame({"qt": rows})

    return codes.mapInPandas(table, "qt array<array<bigint>>")


def q362_portable_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivfpq_ann(emb, _pinned_pivots(spark))


def _ivfpq_ann(emb: DataFrame, pivots: DataFrame) -> DataFrame:
    """The q362 IVF-PQ pipeline over a swappable COARSE quantizer:
    ``pivots`` is a (cell, cent) relation — _pinned_pivots for the
    graded q362, or e.g. trained_pivots' seeded-Lloyd's table. The PQ
    encode / ADC / shortlist / exact re-rank stages are shared, so at
    100 TB the trained coarse stage and the trained per-block
    codebooks (q175) broadcast through the SAME plan."""
    codes = _int8_codes(emb).select("vec_id", "code")
    cand = _ivf_candidates(codes, pivots)
    # PQ stage: encode candidates, ADC-score against the broadcast
    # one-row query table, shortlist by integer distance
    pq = _pq_encode(codes.join(cand, "vec_id"))
    qt = _pq_qtable(codes.where(F.col("vec_id") == BINARY_Q_ID))
    adc_col = None
    for m in range(PPQ_M):
        term = F.element_at(
            F.element_at("qt", m + 1),
            (F.element_at("pqc", m + 1) + F.lit(1)).cast("int"),
        )
        adc_col = term if adc_col is None else adc_col + term
    scored = pq.crossJoin(F.broadcast(qt)).select(
        "vec_id", adc_col.cast("bigint").alias("adc")
    )
    ws = Window.orderBy(F.col("adc").asc(), "vec_id")
    shortlist = (
        scored.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= PPQ_SHORTLIST)
        .select("vec_id")
    )
    # exact re-rank: floats touched only for the shortlist
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    exact = (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        exact.withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


def _pq_duck_ctes() -> str:
    """DuckDB mirror of the PQ stage: per-block distance lists (the
    SAME expressions serve candidate encoding via argmin and the query
    ADC table via the full list), unrolled over the pinned codebooks."""
    books = _pq_codebooks()
    ds_cols = []
    for m in range(PPQ_M):
        terms = []
        for j in range(PPQ_KSUB):
            cb = "[" + ", ".join(str(x) for x in books[m][j]) + "]"
            terms.append(
                f"list_sum([(code[{m * PPQ_SUB} + k] - ({cb}[k]))"
                f" * (code[{m * PPQ_SUB} + k] - ({cb}[k]))"
                f" for k in generate_series(1, {PPQ_SUB})])"
            )
        ds_cols.append("[" + ",\n      ".join(terms) + f"] AS ds{m}")
    pqc = ", ".join(
        f"CAST(list_position(ds{m}, list_min(ds{m})) - 1 AS BIGINT)"
        for m in range(PPQ_M)
    )
    tbl = ", ".join(f"ds{m}" for m in range(PPQ_M))
    ds_block = ",\n    ".join(ds_cols)
    return f"""pqd AS (
  SELECT vec_id,
    {ds_block}
  FROM codes
),
pq AS (SELECT vec_id, [{pqc}] AS pqc FROM pqd),
qt AS (SELECT [{tbl}] AS tbl FROM pqd WHERE vec_id = {BINARY_Q_ID}),
adc AS (
  SELECT p.vec_id,
         CAST(list_sum([t.tbl[m][p.pqc[m] + 1]
                        for m in generate_series(1, {PPQ_M})]) AS BIGINT)
           AS adc
  FROM pq p JOIN cand c USING (vec_id), qt t
),
short AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc, vec_id) AS srn
    FROM adc
  ) WHERE srn <= {PPQ_SHORTLIST}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
ann AS (
  SELECT vec_id, cos_sim,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
              AS BIGINT) AS rn
  FROM (
    SELECT c.vec_id,
           round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
             AS cos_sim
    FROM short c
    JOIN embeddings b ON b.vec_id = c.vec_id, q
  )
)"""


Q362_CTES = f"""{Q325_ASSIGN_CTES},
dots_q AS (SELECT ds FROM dots WHERE vec_id = {BINARY_Q_ID}),
probed AS (
  SELECT CAST(cell AS BIGINT) AS cell FROM (
    SELECT u.cell, u.qdot,
           row_number() OVER (ORDER BY u.qdot DESC, u.cell) AS pr
    FROM (SELECT unnest(generate_series(0, {IVF_CELLS - 1})) AS cell,
                 unnest(ds) AS qdot
          FROM dots_q) u
  ) WHERE pr <= {IVF_NPROBE}
),
cand AS (
  SELECT a.vec_id FROM assigned a JOIN probed USING (cell)
  WHERE a.vec_id != {BINARY_Q_ID}
),
{_pq_duck_ctes()}"""

Q362_SQL = f"""
WITH {Q362_CTES}
SELECT vec_id, cos_sim, rn FROM ann WHERE rn <= {K} ORDER BY rn
"""


# ---------------------------------------------------------------------------
# q363 — IVF-PQ recall eval, cross-engine graded (the q326/q348
# pattern for the q362 index): overlap of the ADC-shortlist top-13
# with the exact-cosine top-13, plus candidate-pool size and scan
# fraction — the recall of the LAST portable ANN index structure
# becomes a driver-verified number, closing the whole ANN family's
# migration from rows-only QUALITY.md floors to hash-graded facts.
# ---------------------------------------------------------------------------
def q363_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ann = q362_portable_ivfpq_ann(spark, sf_dir).select("vec_id")
    n_cand = _ivf_candidates(
        _int8_codes(emb).select("vec_id", "code"), _pinned_pivots(spark)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_corpus = emb.where(F.col("vec_id") != BINARY_Q_ID).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus")
    )
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    we = Window.orderBy(
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).desc(),
        F.col("vec_id"),
    )
    exact = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    return (
        ann.join(exact, "vec_id")
        .agg(
            F.lit(K).cast("bigint").alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            (F.count(F.lit(1)) / F.lit(float(K))).alias("recall"),
        )
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "k",
            "n_common",
            "recall",
            "n_cand",
            F.round(
                F.col("n_cand") / F.col("n_corpus").cast("double"), 4
            ).alias("scan_frac"),
        )
    )


Q363_SQL = f"""
WITH {Q362_CTES},
exact AS (
  SELECT vec_id
  FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM embeddings
       WHERE vec_id != {BINARY_Q_ID}),
common AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common
  FROM (SELECT vec_id FROM ann WHERE rn <= {K}) a
  JOIN exact USING (vec_id)
)
SELECT CAST({K} AS BIGINT) AS k,
       common.n_common,
       CAST(common.n_common AS DOUBLE) / {float(K)} AS recall,
       nc.n_cand,
       round(nc.n_cand / CAST(np.n_corpus AS DOUBLE), 4) AS scan_frac
FROM common, nc, np
"""


# ---------------------------------------------------------------------------
# q364 — PQ shortlist/recall curve, hash-graded: the ADC re-rank dial
# (q349's nprobe-curve pattern applied to the q362 index). For each
# shortlist size m*K in the sweep, the exact-cosine top-13 among the
# ADC top-(m*K) is compared to the exact top-13 over the whole corpus
# — how much recall each extra exactly-re-ranked candidate buys, the
# number that picks PPQ_SHORTLIST in production (this sweep is where
# the pinned 12*K came from: 4K/8K stall below the coarse-stage
# ceiling at sf0.1, 12K reaches it).
# Scale shape: ONE ADC pass over the candidate pool (localCheckpoint
# feeds every sweep branch), float vectors touched only for rows
# inside the LARGEST shortlist, per-m top-k are WindowGroupLimit
# frames over the bounded shortlist — the sweep adds no extra scans.
# ---------------------------------------------------------------------------
PQ_SHORTLIST_SWEEP = [2, 4, 8, 12, 20]  # multiples of K


def q364_pq_shortlist_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = _int8_codes(emb).select("vec_id", "code")
    cand = _ivf_candidates(codes, _pinned_pivots(spark))
    pq = _pq_encode(codes.join(cand, "vec_id"))
    qt = _pq_qtable(codes.where(F.col("vec_id") == BINARY_Q_ID))
    adc_col = None
    for m in range(PPQ_M):
        term = F.element_at(
            F.element_at("qt", m + 1),
            (F.element_at("pqc", m + 1) + F.lit(1)).cast("int"),
        )
        adc_col = term if adc_col is None else adc_col + term
    ws = Window.orderBy(F.col("adc").asc(), "vec_id")
    # one ADC pass, ranked once; only rows inside the largest sweep
    # shortlist carry float re-rank cost
    ranked = (
        pq.crossJoin(F.broadcast(qt))
        .select("vec_id", adc_col.cast("bigint").alias("adc"))
        .withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= max(PQ_SHORTLIST_SWEEP) * K)
        .localCheckpoint()
    )
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = ranked.join(emb, "vec_id").crossJoin(F.broadcast(qv)).select(
        "vec_id",
        "srn",
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
            "cos_sim"
        ),
    )
    we = Window.orderBy(
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).desc(),
        F.col("vec_id"),
    )
    exact = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    sweep = spark.createDataFrame(
        [(m * K,) for m in PQ_SHORTLIST_SWEEP], "shortlist bigint"
    )
    swept = scored.crossJoin(F.broadcast(sweep)).where(
        F.col("srn") <= F.col("shortlist")
    )
    wk = Window.partitionBy("shortlist").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    topk = swept.withColumn("rn", F.row_number().over(wk)).where(
        F.col("rn") <= K
    )
    nshort = swept.groupBy("shortlist").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_short")
    )
    common = (
        topk.join(exact, "vec_id")
        .groupBy("shortlist")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        nshort.join(common, "shortlist", "left")
        .select(
            "shortlist",
            "n_short",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / F.lit(float(K))
            ).alias("recall"),
        )
        .orderBy("shortlist")
    )


Q364_SQL = f"""
WITH {Q362_CTES},
ranked AS MATERIALIZED (
  SELECT vec_id, srn FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc, vec_id) AS srn
    FROM adc
  ) WHERE srn <= {max(PQ_SHORTLIST_SWEEP) * K}
),
scored AS MATERIALIZED (
  SELECT c.vec_id, c.srn,
         round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4) AS cos_sim
  FROM ranked c
  JOIN embeddings b ON b.vec_id = c.vec_id, q
),
exact AS (
  SELECT vec_id
  FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
),
sweep AS (SELECT unnest([{", ".join(str(m * K) for m in PQ_SHORTLIST_SWEEP)}])
                 AS shortlist),
swept AS MATERIALIZED (
  SELECT shortlist, vec_id, cos_sim FROM scored, sweep
  WHERE srn <= shortlist
),
topk AS (
  SELECT shortlist, vec_id FROM (
    SELECT shortlist, vec_id,
           row_number() OVER (PARTITION BY shortlist
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM swept
  ) WHERE rn <= {K}
),
nshort AS (SELECT shortlist, CAST(count(*) AS BIGINT) AS n_short
           FROM swept GROUP BY shortlist),
common AS (
  SELECT shortlist, CAST(count(*) AS BIGINT) AS n_common
  FROM topk JOIN exact USING (vec_id) GROUP BY shortlist
)
SELECT CAST(nshort.shortlist AS BIGINT) AS shortlist,
       nshort.n_short,
       CAST(coalesce(common.n_common, 0) AS BIGINT) AS n_common,
       coalesce(common.n_common, 0) / CAST({K} AS DOUBLE) AS recall
FROM nshort LEFT JOIN common USING (shortlist)
ORDER BY shortlist
"""


# ---------------------------------------------------------------------------
# q365 — multi-vector late-interaction retrieval (MaxSim, the ColBERT
# scoring rule; Khattab & Zaharia 2020): score(doc) = sum over query
# vectors of the MAX cosine against any of the doc's vectors. The one
# retrieval family the engine lacked — single-vector kNN (q25/q26),
# lexical BM25 (q83), hybrid RRF (q84) and cross-encoder rerank
# (q161) all exist; this adds the token-level interaction shape that
# dominates modern retrieval quality. Data model: the FIXTURES.md
# query vectors (vec_id < N_QUERY) are the query's multi-vector set;
# each label group (minus the query rows) is a multi-vector document.
# Scale shape: ONE corpus pass computes all |Q| cosines per row
# against a broadcast |Q|-row query frame (scan-side arithmetic, no
# UDF), then two partial-aggregating reduces (max per (label, q),
# sum per label) — shuffle keys are (label, q_id) then label, never
# a pair join; the final top-5 collapses to TakeOrderedAndProject.
# At 100 TB: |Q| is tokens-per-query (~32), docs are chunk groups —
# same plan, the broadcast stays tiny and the reduces stay partial.
# ---------------------------------------------------------------------------
MAXSIM_TOP = 5


def q365_maxsim_late_interaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    qs = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    per_q = (
        emb.where(F.col("vec_id") >= N_QUERY)
        .crossJoin(F.broadcast(qs))
        .select(
            "label",
            "q_id",
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).alias(
                "cos_sim"
            ),
        )
        .groupBy("label", "q_id")
        .agg(F.max("cos_sim").alias("best"))
    )
    scored = per_q.groupBy("label").agg(
        F.round(F.sum("best"), 4).alias("maxsim")
    )
    w = Window.orderBy(F.col("maxsim").desc(), "label")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= MAXSIM_TOP)
        .select(F.col("label").cast("bigint").alias("label"), "maxsim", "rn")
        .orderBy("rn")
    )


_DUCK_QE_DOT = (
    "list_sum([ CAST(qs.q_emb[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ])"
)
_DUCK_QE_NORM = (
    "sqrt(list_sum([ CAST(qs.q_emb[k] AS DOUBLE)"
    " * CAST(qs.q_emb[k] AS DOUBLE)"
    f" for k in generate_series(1, {EMB_DIM}) ]))"
)

Q365_SQL = f"""
WITH qs AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {N_QUERY}
),
per_q AS (
  SELECT b.label, qs.q_id,
         max(round({_DUCK_QE_DOT} / ({_DUCK_QE_NORM} * {_DUCK_BNORM}), 4))
           AS best
  FROM embeddings b, qs
  WHERE b.vec_id >= {N_QUERY}
  GROUP BY b.label, qs.q_id
),
scored AS (
  SELECT label, round(sum(best), 4) AS maxsim FROM per_q GROUP BY label
)
SELECT CAST(label AS BIGINT) AS label, maxsim,
       CAST(row_number() OVER (ORDER BY maxsim DESC, label) AS BIGINT) AS rn
FROM scored
QUALIFY rn <= {MAXSIM_TOP}
ORDER BY rn
"""


# ---------------------------------------------------------------------------
# q366 — SemDeDup at SCALED cell count (the q346 SCALING.md reading
# made executable): q346 pins IVF_CELLS=16 for oracle gradability,
# and the synthetic-decade sweep measured its within-cell pair scan
# growing ~(N/cells)^2 (tail alpha 1.2 at 10x — expected, documented).
# The documented production fix is "re-block with cells ~ sqrt(N)";
# THIS op runs the identical threshold curve with SEMDEDUP_SCALED
# cells drawn from the SAME pinned pivot stream (the first 16 of
# which are q325/q346's), so the scale path is itself hash-graded and
# the synthetic-decade sweep can measure the pair growth flattening
# (4x cells => ~16x fewer within-cell pairs at fixed N). At real
# scale the pivots come from MLlib KMeans (q49/q224) with k chosen
# ~sqrt(N); everything else in this plan is unchanged.
# Scale: one numpy code scan (64 int64 dots/row), capped pair join
# inside cells of ~N/64, broadcast tau sweep — q346's shape with the
# block size shrunk by construction.
# ---------------------------------------------------------------------------
SEMDEDUP_SCALED = 64


def q366_semdedup_scaled_cells(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _semdedup_tau_curve(
        spark, emb, SEMDEDUP_SCALED, "q366_semdedup_scaled_cells"
    ).orderBy("tau")


Q366_SQL = f"""
WITH codes AS (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
dots AS (
  SELECT vec_id, {_duck_ivf_dots_n(SEMDEDUP_SCALED)} AS ds FROM codes
),
assigned AS MATERIALIZED (
  SELECT vec_id, CAST(list_position(ds, list_max(ds)) - 1 AS BIGINT) AS cell
  FROM dots
),
pairs AS (
  SELECT ab.vec_id AS id_b,
         round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4) AS cos_sim
  FROM assigned aa
  JOIN assigned ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
  JOIN embeddings a ON a.vec_id = aa.vec_id
  JOIN embeddings b ON b.vec_id = ab.vec_id
  WHERE round({_DUCK_DOT} / ({_DUCK_NORM_A} * {_DUCK_NORM_B}), 4)
        >= {min(SEMDEDUP_TAUS)}
),
taus AS (SELECT unnest([{", ".join(str(t) for t in SEMDEDUP_TAUS)}]) AS tau),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM embeddings)
SELECT tau,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id_b) AS BIGINT) AS docs_removed,
       round(count(DISTINCT id_b) / CAST(nd.n_docs AS DOUBLE), 4)
         AS removed_frac
FROM pairs, taus, nd
WHERE cos_sim >= tau
GROUP BY tau, nd.n_docs
ORDER BY tau
"""


# ---------------------------------------------------------------------------
# q369/q370 — TRAINED portable IVF pivots (r15, VERDICT r14 item 5):
# the hash-graded ANN family's pivots were data-BLIND pinned ±1 LCG
# vectors (q325/q346/q362), whose recall on structured corpora sits at
# the isotropic-tiling ceiling, while the trained-KMeans siblings
# (q49/q224) were rows-only. This closes the gap with a PORTABLE
# seeded Lloyd's — the q302 portability discipline applied to
# TRAINING: pure int64 arithmetic end to end, so a second engine
# derives bit-identical pivots from the data itself.
#
#   init:    codes sorted by vec_id; centroid i = the code at rank
#            floor(i*N/CELLS) — deterministic, data-dependent, and a
#            one-line SQL join (no RNG to replicate cross-engine).
#   assign:  argmin_c ( |cent_c|^2 - 2*code·cent_c ) over int64 (the
#            |code|^2 term is constant per row, so ties and order
#            match the full squared L2), first-cell tie-break ==
#            np.argmin first occurrence == SQL row_number (dist, cell).
#   update:  element-wise integer mean floor(sum/count) (floor toward
#            -inf on both engines); an emptied cell CARRIES its
#            previous centroid. LLOYD_ITERS pinned iterations.
#
# The fit runs as ONE applyInPandas task over the int8 codes — 60k x
# 64 int64 at sf0.1 is ~30 MB and 5 numpy matmuls; at 100 TB the fit
# input is a fixed-size sample (q330's reservoir discipline) so this
# stays one bounded task, while everything downstream — the corpus
# cell assignment, probe, re-rank — is distributed and identical in
# shape to the graded q325 plan. The learned pivot table is a 16-row
# (cell, cent) relation like _pinned_pivots', so it runs through the
# SAME kernels (_assign_to_pivots, _probe_rank, _ivf_ann); _ivfpq_ann
# and _semdedup_tau_curve take it too (pivots=), so the IVF-PQ coarse
# stage and the q346/q366 SemDeDup cells train as well.
# q370 grades the recall cross-engine — the DuckDB oracle re-derives
# the pivots through LLOYD_ITERS unrolled CTE rounds of the same
# integer arithmetic, so the trained-index recall is a hash-verified
# number, not a QUALITY.md self-claim. Measured (QUALITY.md): on the
# planted structured corpus the trained pivots lift recall@13 above
# the data-blind q325 ceiling at comparable scan fraction.
# ---------------------------------------------------------------------------
LLOYD_ITERS = 5


def trained_pivots(
    emb: DataFrame, n_cells: int = IVF_CELLS, iters: int = LLOYD_ITERS
) -> DataFrame:
    """(cell, cent array<bigint>): portable seeded integer Lloyd's
    over the int8 codes (see block comment)."""
    codes = _int8_codes(emb).select("vec_id", "code")

    def fit(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        C = np.array(pdf["code"].tolist(), dtype=np.int64)
        n = len(C)
        idx = (np.arange(n_cells, dtype=np.int64) * n) // n_cells
        cents = C[idx].copy()
        for _ in range(iters):
            d = (cents * cents).sum(axis=1)[None, :] - 2 * (C @ cents.T)
            a = np.argmin(d, axis=1)
            for c in range(n_cells):
                members = C[a == c]
                if len(members):
                    cents[c] = members.sum(axis=0) // len(members)
        return pd.DataFrame(
            {
                "cell": np.arange(n_cells, dtype="int64"),
                "cent": [[int(x) for x in row] for row in cents],
            }
        )

    return codes.groupBy(F.lit(0).alias("_g")).applyInPandas(
        fit, "cell bigint, cent array<bigint>"
    )


def q369_trained_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivf_ann(emb, trained_pivots(emb).localCheckpoint())


def q370_trained_ivf_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@13 of the TRAINED IVF index vs the exact-cosine top-13 —
    the driver-graded row for the trained-pivot family (q326's pattern
    for q369)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ann = q369_trained_ivf_ann(spark, sf_dir).select("vec_id")
    qv = emb.where(F.col("vec_id") == BINARY_Q_ID).select(
        F.col("embedding").alias("q_emb")
    )
    w = Window.orderBy(
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 4).desc(),
        F.col("vec_id"),
    )
    exact = (
        emb.where(F.col("vec_id") != BINARY_Q_ID)
        .crossJoin(F.broadcast(qv))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("vec_id")
    )
    return ann.join(exact, "vec_id").agg(
        F.lit(K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        (F.count(F.lit(1)) / F.lit(float(K))).alias("recall"),
    )


# the one DuckDB int-L2 distance literal (codes c vs pivot table t) —
# shared by the Lloyd's training rounds AND the q369 assign/probe CTEs
# so the oracle's training distance can never desynchronize from its
# query-time distance
_Q369_DIST = (
    "list_sum([ (c.code[k] - t.cent[k]) * (c.code[k] - t.cent[k])"
    f" for k in generate_series(1, {EMB_DIM})])"
)


def _lloyd_ctes(n_cells: int, iters: int) -> str:
    """DuckDB mirror of trained_pivots: LLOYD_ITERS unrolled rounds of
    the integer assign/update, starting from the rank-strided init.
    cent{iters} is the final pivot relation."""
    dist = _Q369_DIST
    parts = [
        f"""codes AS MATERIALIZED (
  SELECT vec_id, {_DUCK_I8.format(e='embeddings')} AS code FROM embeddings
),
ranked AS (
  SELECT vec_id, code, row_number() OVER (ORDER BY vec_id) - 1 AS rk
  FROM codes
),
cent0 AS (
  SELECT CAST(i.cell AS BIGINT) AS cell, r.code AS cent
  FROM (SELECT unnest(generate_series(0, {n_cells - 1})) AS cell) i
  JOIN ranked r
    ON r.rk = (i.cell * (SELECT count(*) FROM codes)) // {n_cells}
)"""
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, t.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {dist} ASC, t.cell ASC) AS rn
    FROM codes c CROSS JOIN cent{it - 1} t
  ) WHERE rn = 1
),
cent{it} AS MATERIALIZED (
  SELECT p.cell, coalesce(m.cent, p.cent) AS cent
  FROM cent{it - 1} p LEFT JOIN (
    SELECT cell, list(v ORDER BY k) AS cent FROM (
      SELECT a.cell, ks.k,
             CAST(floor(CAST(sum(c.code[ks.k]) AS DOUBLE) / count(*))
                  AS BIGINT) AS v
      FROM a{it} a
      JOIN codes c USING (vec_id)
      CROSS JOIN generate_series(1, {EMB_DIM}) ks(k)
      GROUP BY a.cell, ks.k
    ) GROUP BY cell
  ) m ON m.cell = p.cell
)"""
        )
    return ",\n".join(parts)


Q369_CTES = f"""{_lloyd_ctes(IVF_CELLS, LLOYD_ITERS)},
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, t.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_Q369_DIST} ASC, t.cell ASC) AS rn
    FROM codes c CROSS JOIN cent{LLOYD_ITERS} t
  ) WHERE rn = 1
),
probed AS (
  SELECT cell FROM (
    SELECT t.cell,
           row_number() OVER (ORDER BY {_Q369_DIST} ASC, t.cell ASC) AS pr
    FROM codes c CROSS JOIN cent{LLOYD_ITERS} t
    WHERE c.vec_id = {BINARY_Q_ID}
  ) WHERE pr <= {IVF_NPROBE}
),
cand AS (
  SELECT a.vec_id FROM assigned a JOIN probed USING (cell)
  WHERE a.vec_id != {BINARY_Q_ID}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {BINARY_Q_ID}),
ann AS (
  SELECT vec_id, cos_sim,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
              AS BIGINT) AS rn
  FROM (
    SELECT c.vec_id,
           round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
             AS cos_sim
    FROM cand c
    JOIN embeddings b ON b.vec_id = c.vec_id, q
  )
)"""

Q369_SQL = f"""
WITH {Q369_CTES}
SELECT vec_id, cos_sim, rn FROM ann WHERE rn <= {K} ORDER BY rn
"""

Q370_SQL = f"""
WITH {Q369_CTES},
exact AS (
  SELECT vec_id
  FROM (
    SELECT b.vec_id,
           row_number() OVER (
             ORDER BY round({_DUCK_QDOT} / ({_DUCK_QNORM} * {_DUCK_BNORM}), 4)
                        DESC,
                      b.vec_id) AS rn
    FROM embeddings b, q
    WHERE b.vec_id != {BINARY_Q_ID}
  ) WHERE rn <= {K}
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(count(*) AS DOUBLE) / {float(K)} AS recall
FROM (SELECT vec_id FROM ann WHERE rn <= {K}) a
JOIN exact USING (vec_id)
"""


QUERIES = {
    "q369_trained_ivf_ann": q369_trained_ivf_ann,
    "q370_trained_ivf_recall_eval": q370_trained_ivf_recall_eval,
    "q366_semdedup_scaled_cells": q366_semdedup_scaled_cells,
    "q362_portable_ivfpq_ann": q362_portable_ivfpq_ann,
    "q363_ivfpq_recall_eval": q363_ivfpq_recall_eval,
    "q364_pq_shortlist_curve": q364_pq_shortlist_curve,
    "q365_maxsim_late_interaction": q365_maxsim_late_interaction,
    "q346_semdedup_cells": q346_semdedup_cells,
    "q359_mutual_knn": q359_mutual_knn,
    "q360_ann_ensemble_recall": q360_ann_ensemble_recall,
    "q357_crosslingual_neardup": q357_crosslingual_neardup,
    "q351_hubness_audit": q351_hubness_audit,
    "q349_ivf_nprobe_curve": q349_ivf_nprobe_curve,
    "q347_portable_graph_ann": q347_portable_graph_ann,
    "q348_graph_ann_recall_eval": q348_graph_ann_recall_eval,
    "q325_portable_ivf_ann": q325_portable_ivf_ann,
    "q326_ivf_recall_eval": q326_ivf_recall_eval,
    "q341_quantization_rank_stability": q341_quantization_rank_stability,
    "q342_contrastive_negatives": q342_contrastive_negatives,
    "q344_semdedup_threshold_curve": q344_semdedup_threshold_curve,
    "q320_portable_hyperplane_ann": q320_portable_hyperplane_ann,
    "q321_hyperplane_recall_eval": q321_hyperplane_recall_eval,
    "q304_result_diversity": q304_result_diversity,
    "q308_batch_knn": q308_batch_knn,
    "q299_int8_rerank": q299_int8_rerank,
    "q25_knn_l2": q25_knn_l2,
    "q26_knn_cosine": q26_knn_cosine,
    "q27_similarity_join": q27_similarity_join,
    "q28_context_assembly": q28_context_assembly,
    "q42_cosine_neardup": q42_cosine_neardup,
    "q46_ann_lsh_topk": q46_ann_lsh_topk,
    "q77_user_filtered_knn": q77_user_filtered_knn,
    "q89_mmr_rerank": q89_mmr_rerank,
    "q130_range_search": q130_range_search,
    "q153_matryoshka_retention": q153_matryoshka_retention,
    "q169_threshold_curve": q169_threshold_curve,
    "q178_hard_negatives": q178_hard_negatives,
    "q197_vector_integrity": q197_vector_integrity,
    "q213_cross_label_audit": q213_cross_label_audit,
    "q237_knn_classify": q237_knn_classify,
    "q245_power_iteration": q245_power_iteration,
    "q263_spectral_gap": q263_spectral_gap,
    "q272_centroid_silhouette": q272_centroid_silhouette,
    "q284_binary_hamming_topk": q284_binary_hamming_topk,
    "q285_binary_recall_eval": q285_binary_recall_eval,
    "q255_effective_rank": q255_effective_rank,
}

ORACLE = {
    "q366_semdedup_scaled_cells": Q366_SQL,
    "q362_portable_ivfpq_ann": Q362_SQL,
    "q363_ivfpq_recall_eval": Q363_SQL,
    "q364_pq_shortlist_curve": Q364_SQL,
    "q365_maxsim_late_interaction": Q365_SQL,
    "q369_trained_ivf_ann": Q369_SQL,
    "q370_trained_ivf_recall_eval": Q370_SQL,
    "q346_semdedup_cells": Q346_SQL,
    "q359_mutual_knn": Q359_SQL,
    "q360_ann_ensemble_recall": Q360_SQL,
    "q357_crosslingual_neardup": Q357_SQL,
    "q351_hubness_audit": Q351_SQL,
    "q349_ivf_nprobe_curve": Q349_SQL,
    "q347_portable_graph_ann": Q347_SQL,
    "q348_graph_ann_recall_eval": Q348_SQL,
    "q320_portable_hyperplane_ann": Q320_SQL,
    "q321_hyperplane_recall_eval": Q321_SQL,
    "q325_portable_ivf_ann": Q325_SQL,
    "q326_ivf_recall_eval": Q326_SQL,
    "q341_quantization_rank_stability": Q341_SQL,
    "q342_contrastive_negatives": Q342_SQL,
    "q344_semdedup_threshold_curve": Q344_SQL,
    "q299_int8_rerank": Q299_SQL,
    "q304_result_diversity": Q304_SQL,
    "q308_batch_knn": Q308_SQL,
    "q25_knn_l2": Q25_SQL,
    "q26_knn_cosine": Q26_SQL,
    "q27_similarity_join": Q27_SQL,
    "q28_context_assembly": Q28_SQL,
    "q42_cosine_neardup": Q42_SQL,
    "q77_user_filtered_knn": Q77_SQL,
    "q89_mmr_rerank": Q89_SQL,
    "q130_range_search": Q130_SQL,
    "q153_matryoshka_retention": Q153_SQL,
    "q169_threshold_curve": Q169_SQL,
    "q178_hard_negatives": Q178_SQL,
    "q197_vector_integrity": Q197_SQL,
    "q213_cross_label_audit": Q213_SQL,
    "q237_knn_classify": Q237_SQL,
    "q245_power_iteration": Q245_SQL,
    "q263_spectral_gap": Q263_SQL,
    "q272_centroid_silhouette": Q272_SQL,
    "q284_binary_hamming_topk": Q284_SQL,
    "q285_binary_recall_eval": Q285_SQL,
    "q255_effective_rank": Q255_SQL,
}
