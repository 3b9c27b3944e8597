"""The workloads: what each one calls, and how its outputs are checked.

Every call into the package goes through the ``Tracer``, which only
records when the run is traced. Latencies are taken around the whole
operation with ``time.perf_counter``.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from inputs import MAX_ROUNDS, SLICE, Corpus, probe_ids, upload_texts

KINDS = ("ivfpq", "hyperplane", "graph")
TOP_K = 13
BATCH_STAGES = (
    "q93_gopher_quality",
    "q12_dedup_exact",
    "q302_portable_minhash",
    "q322_incremental_neardup",
    "q350_dsir_importance",
    "q366_semdedup_scaled_cells",
    "q347_portable_graph_ann",
    "q49_ann_ivf",
)
# q49 has no DuckDB twin: KMeans-seeded IVF, 5 queries x top-13
Q49_ROWS = 5 * TOP_K
UPLOADS_PER_ROUND = 24
REUPLOADS = 8  # files of the previous batch re-sent under new names
CHUNK_SIZE, CHUNK_OVERLAP = 1000, 200  # run_ingest_stream's defaults


@dataclass
class Loop:
    """What a workload's timed loop did."""

    unit_walls: list[float] = field(default_factory=list)  # round / pass
    traced_units: list[bool] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)  # per operation
    items: int = 0
    attempted: int = 0
    failed: int = 0
    digest: object = field(default_factory=hashlib.sha256)
    notes: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)


def run_units(loop: Loop, seconds: float, tracer, unit) -> None:
    """Whole rounds or passes until ``seconds`` of them are timed;
    ``unit(loop, i, traced)`` returns its timed wall. A traced run
    alternates untraced and traced units, starting untraced, and runs
    at least one of each."""
    i = 0
    while sum(loop.unit_walls) < seconds or (tracer.enabled and i < 2):
        traced = tracer.enabled and i % 2 == 1
        with tracer.only(traced):
            loop.unit_walls.append(unit(loop, i, traced))
        loop.traced_units.append(traced)
        i += 1


def stored_per_input_byte(dirs: list[str], input_bytes: int) -> float:
    """Bytes on disk under ``dirs`` per input byte."""
    stored = sum(
        os.path.getsize(os.path.join(d, f))
        for top in dirs
        for d, _, files in os.walk(top)
        for f in files
        if not f.startswith(".")
    )
    return stored / input_bytes


# ------------------------------------------------------ set-up, serve
def seed_indexes(spark, corpus: Corpus, root: str, loop: Loop, warm, also=None) -> None:
    """Seed each index kind with ``indexes.create_index`` and then warm
    it with ``warm(kind)``, one thread per kind, with ``also`` (if
    given) in a fourth. The kinds seed independently, so overlapping
    their driver-side work keeps the set-up inside the run budget; the
    warm-up keeps each kind's first-call cost (JIT, codegen, imports,
    which a serving process pays once) out of the timed units. Each
    task returns a failure message or None."""
    from concurrent.futures import ThreadPoolExecutor

    from generative_ai_vector_db_spark.operators import indexes
    from generative_ai_vector_db_spark.tables import load

    emb = load(spark, corpus.dir, "embeddings").where(f"vec_id < {corpus.n_seed}")

    def seed(kind: str):
        indexes.create_index(spark, root, kind, kind, emb)
        return warm(kind)

    tasks = [lambda k=k: seed(k) for k in KINDS]
    if also is not None:
        tasks.append(also)
    with ThreadPoolExecutor(len(tasks)) as pool:
        futures = [pool.submit(t) for t in tasks]
    for future in futures:
        loop.attempted += 1
        bad = future.result()
        if bad:
            loop.fail(bad)


def check_probe(rows, vectors: np.ndarray, qid: int) -> str | None:
    """None when a top-13 probe result is right, else the reason."""
    rows = sorted(rows, key=lambda r: r["rn"])
    ids = [int(r["vec_id"]) for r in rows]
    sims = [float(r["cos_sim"]) for r in rows]
    if [int(r["rn"]) for r in rows] != list(range(1, TOP_K + 1)):
        return f"rn is not 1..{TOP_K}: {[r['rn'] for r in rows]}"
    if len(set(ids)) != TOP_K or qid in ids:
        return f"ids not {TOP_K} distinct non-query ids: {ids}"
    if any(a < b for a, b in zip(sims, sims[1:])):
        return f"cos_sim increases down the list: {sims}"
    q = vectors[qid].astype("float64")
    v = vectors[ids].astype("float64")
    exact = v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    worst = float(np.max(np.abs(np.round(exact, 4) - np.array(sims))))
    if worst > 1e-4 + 1e-9:
        return f"cos_sim off the numpy cosine by {worst:.6f}"
    return None


class Serve:
    """Closed loop, one client: top-13 probes round-robin over the
    three index kinds; a round is one probe per kind. A traced round
    also times one ``index_kind`` catalog read per kind."""

    def __init__(self, spark, tracer, corpus: Corpus, root: str, seed: int):
        self.spark, self.tracer, self.corpus, self.root = spark, tracer, corpus, root
        ids = probe_ids(corpus, seed, 10_000)
        self.warm_ids = dict(zip(KINDS, ids))
        self.qids = iter(ids[len(KINDS):])

    def _probe(self, kind: str, qid: int):
        """One checked probe: (latency, rows, failure message or None)."""
        from pyspark.sql import functions as F

        from generative_ai_vector_db_spark.operators import indexes
        from generative_ai_vector_db_spark.tables import load

        spark, tr = self.spark, self.tracer
        t0 = time.perf_counter()
        q, _ = tr.frame("tables.load", lambda: load(spark, self.corpus.dir, "embeddings"))
        q = q.where(F.col("vec_id") == qid)
        _, rows = tr.frame(
            f"serve.{kind}",
            lambda: indexes.query_index(spark, self.root, kind, q, qid),
            lambda df: df.collect(),
        )
        latency = time.perf_counter() - t0
        bad = check_probe([r.asDict() for r in rows], self.corpus.vectors, qid)
        return latency, rows, bad and f"serve.{kind} q={qid}: {bad}"

    def warm(self, kind: str):
        """Set-up: one checked probe of a freshly seeded kind."""
        return self._probe(kind, self.warm_ids[kind])[2]

    def round(self, loop: Loop, i: int, traced: bool) -> float:
        from generative_ai_vector_db_spark.operators import indexes

        n0 = len(loop.latencies)
        for kind in KINDS:
            qid = next(self.qids)
            loop.attempted += 1
            loop.items += 1
            try:
                latency, rows, bad = self._probe(kind, qid)
            except Exception:
                loop.fail(f"serve.{kind} q={qid}: {traceback.format_exc()}")
                continue
            loop.latencies.append(latency)
            if bad:
                loop.fail(bad)
            for r in sorted(rows, key=lambda r: r["rn"]):
                loop.digest.update(f"{kind},{qid},{r['vec_id']},{r['cos_sim']:.4f};".encode())
            if traced:
                self.tracer.call(
                    f"serve.{kind}.catalog",
                    lambda: indexes.index_kind(self.spark, self.root, kind),
                )
        return sum(loop.latencies[n0:])

    def finish(self, loop: Loop) -> None:
        loop.notes["bytes_stored_per_input_byte"] = stored_per_input_byte(
            [self.root], self.corpus.n_seed * self.corpus.vectors.shape[1] * 4
        )


# -------------------------------------------------------------- ingest
class Ingest:
    """The upload path. Set-up lands batch 0 in the store and absorbs
    held-out slice 0 into each index (the warm-up); timed round n drops
    UPLOADS_PER_ROUND new files plus REUPLOADS files of batch n-1 under
    new names into the uploads dir, runs ``run_ingest_stream``, then
    absorbs held-out slice n into each index with
    ``indexes.append_index``. A traced round also sends its files
    through the staged parse -> chunk -> embed -> append calls, outside
    its timing."""

    def __init__(self, spark, tracer, corpus: Corpus, root: str, work: str, seed: int):
        from generative_ai_vector_db_spark.operators.chunker import recursive_chunks

        self.spark, self.tracer, self.corpus, self.root, self.work = (
            spark, tracer, corpus, root, work,
        )
        self.uploads = os.path.join(work, "uploads")
        self.store = os.path.join(work, "store")
        self.checkpoint = os.path.join(work, "ingest-checkpoint")
        self.bodies = upload_texts(corpus, seed, MAX_ROUNDS * UPLOADS_PER_ROUND)
        self.chunks = [len(recursive_chunks(b, CHUNK_SIZE, CHUNK_OVERLAP)) for b in self.bodies]
        self.uploaded_bytes = 0
        self.indexed = {kind: corpus.n_seed for kind in KINDS}
        self.rows = self.sources = 0
        self.files_sent = self.files_skipped = 0
        os.makedirs(self.uploads)

    def _batch(self, n: int) -> list[tuple[str, int]]:
        """(file name, body index) of upload batch n."""
        new = [(f"b{n}_{j}.txt", n * UPLOADS_PER_ROUND + j) for j in range(UPLOADS_PER_ROUND)]
        if n == 0:
            return new
        again = [(f"b{n}_again_{j}.txt", (n - 1) * UPLOADS_PER_ROUND + j) for j in range(REUPLOADS)]
        return new + again

    def _land(self, files, extra_dir: str | None = None) -> None:
        for name, k in files:
            for d in (self.uploads, extra_dir):
                if d:
                    with open(os.path.join(d, name), "w", encoding="utf-8") as f:
                        f.write(self.bodies[k])
            self.uploaded_bytes += len(self.bodies[k].encode("utf-8"))

    def _stream(self) -> None:
        from generative_ai_vector_db_spark.streaming.ingest_stream import run_ingest_stream

        self.tracer.call(
            "ingest.stream",
            lambda: run_ingest_stream(self.spark, self.uploads, self.store, self.checkpoint),
        )

    def _slice(self, n: int):
        from generative_ai_vector_db_spark.tables import load

        lo = self.corpus.n_seed + n * SLICE
        emb, _ = self.tracer.frame(
            "tables.load", lambda: load(self.spark, self.corpus.dir, "embeddings")
        )
        return emb.where(f"vec_id >= {lo} AND vec_id < {lo + SLICE}")

    def _absorb(self, kind: str, held_out) -> None:
        from generative_ai_vector_db_spark.operators import indexes

        self.tracer.call(
            f"ingest.absorb.{kind}",
            lambda: indexes.append_index(self.spark, self.root, kind, held_out),
        )
        self.indexed[kind] += SLICE

    def _check_index(self, kind: str) -> str | None:
        from generative_ai_vector_db_spark.operators import indexes

        counts = {
            r["component"]: r["n_rows"]
            for r in indexes.describe_index(self.spark, self.root, kind).collect()
        }
        if counts.get("vectors") != self.indexed[kind]:
            return f"ingest.absorb.{kind}: {counts}, want {self.indexed[kind]} vectors"
        return None

    def _check_store(self, n: int, files) -> list[str]:
        stored = self.spark.read.parquet(self.store)
        rows, sources = stored.count(), stored.select("source").distinct().count()
        n_new = min(len(files), UPLOADS_PER_ROUND)
        want = sum(self.chunks[k] for _, k in files[:n_new])
        skipped = len(files) - (sources - self.sources)
        bad = []
        if rows - self.rows != want:
            bad.append(f"ingest batch {n}: {rows - self.rows} rows, want {want}")
        if skipped != len(files) - n_new:
            bad.append(f"ingest batch {n}: {skipped} files skipped, want {len(files) - n_new}")
        if n > 0:
            self.files_sent += len(files)
            self.files_skipped += skipped
        self.rows, self.sources = rows, sources
        return bad

    def setup(self) -> str | None:
        """Land batch 0, so the first timed round already dedups
        against a stored batch."""
        self._land(self._batch(0))
        self._stream()
        return "; ".join(self._check_store(0, self._batch(0))) or None

    def warm(self, kind: str) -> str | None:
        """Set-up: absorb held-out slice 0 into a freshly seeded kind."""
        self._absorb(kind, self._slice(0))
        return self._check_index(kind)

    def round(self, loop: Loop, i: int, traced: bool) -> float:
        n = i + 1  # batch 0 and slice 0 belong to the set-up
        if n >= MAX_ROUNDS:
            raise RuntimeError(f"more than {MAX_ROUNDS - 1} ingest rounds; raise MAX_ROUNDS")
        files = self._batch(n)
        round_dir = os.path.join(self.work, f"batch{n}")
        os.makedirs(round_dir)
        self._land(files, round_dir)
        held_out = self._slice(n)
        loop.attempted += 1
        t0 = time.perf_counter()
        try:
            self._stream()
            for kind in KINDS:
                self._absorb(kind, held_out)
        except Exception:
            loop.fail(f"ingest round {n}: {traceback.format_exc()}")
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        loop.latencies.append(wall)
        loop.items += len(files)
        for bad in self._check_store(n, files) + [self._check_index(k) for k in KINDS]:
            if bad:
                loop.fail(bad)
        loop.digest.update(f"{n}:{self.rows},{self.sources};".encode())
        if traced:
            self._staged(loop, round_dir, files)
        return wall

    def _staged(self, loop: Loop, round_dir: str, files) -> None:
        """The round's files through the pipeline's public stages one
        at a time, each materialized so the next one's span holds only
        its own work."""
        from pyspark.sql import functions as F

        from generative_ai_vector_db_spark.operators.chunker import chunk_udf
        from generative_ai_vector_db_spark.operators.store import append_vectors
        from generative_ai_vector_db_spark.sources.embedding_stage import embed_text
        from generative_ai_vector_db_spark.sources.loaders import parse_files, scan_directory

        tr, spark = self.tracer, self.spark
        _, parsed = tr.frame(
            "ingest.parse",
            lambda: parse_files(scan_directory(spark, round_dir)),
            lambda df: df.localCheckpoint(),
        )
        _, chunks = tr.frame(
            "ingest.chunk",
            lambda: parsed.select(
                "filename",
                F.posexplode(chunk_udf(CHUNK_SIZE, CHUNK_OVERLAP)("text")).alias(
                    "chunk_index", "chunk_text"
                ),
            ),
            lambda df: df.localCheckpoint(),
        )
        _, embedded = tr.frame(
            "ingest.embed",
            lambda: embed_text(chunks, text_col="chunk_text"),
            lambda df: df.localCheckpoint(),
        )
        staged = os.path.join(round_dir + "-staged")
        tr.call("ingest.append", lambda: append_vectors(embedded, staged))
        want = sum(self.chunks[k] for _, k in files)
        got = spark.read.parquet(staged).count()
        if got != want:
            loop.fail(f"ingest staged: {got} rows, want {want}")

    def finish(self, loop: Loop) -> None:
        loop.notes["dedup_skipped_frac"] = self.files_skipped / max(self.files_sent, 1)
        vector_bytes = max(self.indexed.values()) * self.corpus.vectors.shape[1] * 4
        loop.notes["bytes_stored_per_input_byte"] = stored_per_input_byte(
            [self.store, self.root], self.uploaded_bytes + vector_bytes
        )


# --------------------------------------------------------------- batch
def _canon(v) -> str:
    """One cell as the oracle comparison renders it: floats to 4 dp,
    null and NaN alike, arrays element-wise."""
    if v is None:
        return "N"
    if isinstance(v, (float, np.floating)):
        return "N" if math.isnan(v) else f"{round(float(v), 4):.4f}"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame's values."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256(",".join(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB twins of the batch stages over one corpus, computed once
    per run (every pass reads a byte-identical copy of the corpus)."""

    def __init__(self, corpus_dir: str, sql: dict[str, str]):
        self.corpus_dir, self.sql, self.cache = corpus_dir, sql, {}

    def digest(self, name: str) -> str:
        if name not in self.cache:
            import duckdb

            con = duckdb.connect()
            try:
                con.sql("SET threads TO 4")
                for t in ("documents", "embeddings"):
                    path = os.path.join(self.corpus_dir, f"{t}.parquet")
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
                self.cache[name] = frame_digest(con.sql(self.sql[name]).df())
            finally:
                con.close()
        return self.cache[name]


def check_q49(pdf) -> str | None:
    if len(pdf) != Q49_ROWS:
        return f"{len(pdf)} rows, want {Q49_ROWS}"
    for qid, g in pdf.groupby("q_id"):
        g = g.sort_values("rn")
        if list(g["rn"]) != list(range(1, TOP_K + 1)) or qid in set(g["vec_id"]):
            return f"q_id {qid}: bad ranks or self match"
        if not g["dist"].is_monotonic_increasing:
            return f"q_id {qid}: dist decreases down the list"
    return None


def batch(spark, tracer, corpus: Corpus, work: str, registry, oracle_sql, seconds: float, loop: Loop) -> None:
    """One pass runs every stage in order, each written to a noop sink.
    Each pass reads its own copy of the corpus: the fitted-model cache
    in ``mllib_index`` is keyed by (application, corpus path), so a new
    path makes every pass pay the KMeans fit the way a batch build
    does. Outputs are checked after each pass, outside its timing."""
    from generative_ai_vector_db_spark.tables import load

    oracle = Oracle(corpus.dir, oracle_sql)

    def one_pass(loop: Loop, i: int, traced: bool) -> float:
        pass_dir = os.path.join(work, f"pass{i}")
        shutil.copytree(corpus.dir, pass_dir)
        frames = {}
        n0 = len(loop.latencies)
        for name in BATCH_STAGES:
            loop.attempted += 1
            t0 = time.perf_counter()
            try:
                frames[name], _ = tracer.frame(
                    f"batch.{name}",
                    lambda: registry[name](spark, pass_dir),
                    lambda df: df.write.format("noop").mode("overwrite").save(),
                )
            except Exception:
                loop.fail(f"batch.{name}: {traceback.format_exc()}")
            loop.latencies.append(time.perf_counter() - t0)
        loop.items += corpus.n_docs
        wall = sum(loop.latencies[n0:])
        if traced:
            for table in ("documents", "embeddings"):
                tracer.frame("tables.load", lambda: load(spark, pass_dir, table))
        _check_pass(frames, oracle, loop)
        return wall

    run_units(loop, seconds, tracer, one_pass)


def _check_pass(frames: dict, oracle: Oracle, loop: Loop) -> None:
    for name, df in frames.items():
        pdf = df.toPandas()
        got = frame_digest(pdf)
        loop.digest.update(f"{name}:{got};".encode())
        if name in oracle.sql:
            if got != oracle.digest(name):
                loop.fail(f"batch.{name}: digest differs from the DuckDB twin")
        else:
            bad = check_q49(pdf)
            if bad:
                loop.fail(f"batch.{name}: {bad}")
