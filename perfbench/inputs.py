"""Seeded inputs for the benchmark.

Everything the program sees is generated here from the workload seed:
a small source corpus shaped like the sf0.1 fixture (a 32-word
vocabulary, 10-100 word documents, five languages, 20 sources,
isotropic 64-d unit vectors in 10 labels), expanded by the package's
own ``sources.synthetic.write_synthetic_decade``; then the probe ids,
the held-out vector slice and the upload files are drawn with the same
seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch index chunk"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

SRC_DOCS = 500
DOC_FACTOR = 5  # 2,500 documents
SRC_VECS = 480
EMB_FACTOR = 1  # 480 vectors: 280 seed the indexes, 200 are held out
SLICE = 20  # held-out vectors absorbed per ingest round
MAX_ROUNDS = 10  # slice 0 warms the indexes up; rounds 1-9 are timed
HELD_OUT = SLICE * MAX_ROUNDS


@dataclass(frozen=True)
class Corpus:
    dir: str  # documents.parquet + embeddings.parquet
    vectors: np.ndarray  # (n, 64) float32, row i is vec_id i
    n_docs: int

    @property
    def n_seed(self) -> int:
        """Vectors with vec_id < n_seed seed the indexes."""
        return len(self.vectors) - HELD_OUT


def _write_source(src_dir: str, rng: np.random.RandomState) -> None:
    import pandas as pd

    os.makedirs(src_dir)
    lens = rng.randint(10, 101, SRC_DOCS)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(SRC_DOCS, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, SRC_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(SRC_DOCS)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    docs.to_parquet(os.path.join(src_dir, "documents.parquet"), index=False)
    x = rng.standard_normal((SRC_VECS, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(SRC_VECS, dtype="int64"),
            "embedding": [v.astype("float32").tolist() for v in x],
            "label": rng.randint(0, 10, SRC_VECS).astype("int32"),
        }
    )
    emb.to_parquet(os.path.join(src_dir, "embeddings.parquet"), index=False)


def make_corpus(work_dir: str, seed: int) -> Corpus:
    """Write the seeded corpus under ``work_dir/corpus``."""
    import pyarrow.parquet as pq

    from generative_ai_vector_db_spark.sources.synthetic import (
        write_synthetic_decade,
    )

    rng = np.random.RandomState(seed)
    src = os.path.join(work_dir, "source")
    _write_source(src, rng)
    out = write_synthetic_decade(
        os.path.join(work_dir, "corpus"),
        src_dir=src,
        doc_factor=DOC_FACTOR,
        emb_factor=EMB_FACTOR,
        seed=seed,
    )
    emb = pq.read_table(os.path.join(out, "embeddings.parquet")).to_pandas()
    vectors = np.stack(emb.sort_values("vec_id")["embedding"].to_numpy())
    return Corpus(out, vectors.astype("float32"), SRC_DOCS * DOC_FACTOR)


def probe_ids(corpus: Corpus, seed: int, n: int) -> list[int]:
    """Seeded probe vec_ids drawn from the indexed (seed) vectors."""
    rng = np.random.RandomState(seed + 1)
    return [int(v) for v in rng.randint(0, corpus.n_seed, n)]


def upload_texts(corpus: Corpus, seed: int, n_files: int) -> list[str]:
    """Seeded upload file bodies: each joins five generated documents
    as paragraphs, so a file spans several 1,000-char chunks."""
    import pyarrow.parquet as pq

    texts = (
        pq.read_table(os.path.join(corpus.dir, "documents.parquet"))
        .column("text")
        .to_pylist()
    )
    rng = np.random.RandomState(seed + 2)
    picks = rng.choice(len(texts), size=(n_files, 5), replace=False)
    bodies = ["\n\n".join(texts[i] for i in row) for row in picks]
    if len(set(bodies)) != len(bodies):
        raise ValueError("upload bodies must be distinct to count dedup")
    return bodies
