"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of ``(seed, parameters)``: numpy's
PCG64 generator drives every draw, so one seed always yields the same
parquet bytes' worth of rows. The engine only ever sees the parquet
directory written here, in the schemas of ``FIXTURES.md`` (``documents``
and ``embeddings``).

Value domains copy the repository's synthetic test tables (the same
vocabularies and ranges), so every registered query and its DuckDB
oracle run on these files unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Word vocabulary of the synthetic ``documents.text`` column.
VOCAB = (
    "a the data spark stream batch query table row column key value "
    "hash sort merge join group agg filter scan window order part line "
    "customer vector big small fast slow"
).split()

LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EMB_DIM = 64
EMB_LABELS = 10


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def trigrams(text: str) -> set[tuple[str, ...]]:
    """Distinct word 3-grams, the shingles the engine's near-dup
    operators use (lower-cased, space-split)."""
    toks = text.lower().split(" ")
    return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}


def jaccard3(a: str, b: str) -> float:
    sa, sb = trigrams(a), trigrams(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


@dataclass
class Docs:
    """Generated documents plus the ground truth the checks need."""

    doc_id: np.ndarray
    text: list[str]
    #: doc_id of an injected copy → doc_id of its source document.
    copy_of: dict[int, int] = field(default_factory=dict)


def documents(
    seed: int,
    n_docs: int,
    near_dup_share: float,
    exact_dup_share: float,
    first_id: int = 0,
    stream: int = 2,
) -> Docs:
    """``n_docs`` documents of 8-100 vocabulary words. A share of them
    are injected copies of an earlier original: exact copies, or near
    copies with one word replaced (3-gram Jaccard with the source is
    mostly >= 0.8). Copies always carry a larger ``doc_id`` than their
    source, and originals are independent draws."""
    rng = np.random.default_rng([seed, stream])
    n_near = int(round(n_docs * near_dup_share))
    n_exact = int(round(n_docs * exact_dup_share))
    n_orig = n_docs - n_near - n_exact
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for length in rng.integers(8, 101, n_orig):
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), length)]))
    kinds = np.array([1] * n_near + [2] * n_exact)
    rng.shuffle(kinds)
    copy_of: dict[int, int] = {}
    # Each copy is inserted at a random position after its source;
    # copies get negative placeholder ids until the final numbering.
    ids = list(range(n_orig))
    out_text = list(texts)
    src_idx = rng.integers(0, n_orig, len(kinds))
    for kind, src in zip(kinds, src_idx):
        words = texts[src].split(" ")
        if kind == 1:
            pos = int(rng.integers(0, len(words)))
            shift = int(rng.integers(1, len(VOCAB)))
            words[pos] = VOCAB[(VOCAB.index(words[pos]) + shift) % len(VOCAB)]
        copy_key = -(len(copy_of) + 1)
        pos_out = int(rng.integers(ids.index(src) + 1, len(ids) + 1))
        ids.insert(pos_out, copy_key)
        out_text.insert(pos_out, " ".join(words))
        copy_of[copy_key] = int(src)
    # Assign increasing doc_ids in output order, so every copy's id is
    # larger than its source's.
    final_id = {old: first_id + i for i, old in enumerate(ids)}
    return Docs(
        doc_id=np.array([final_id[i] for i in ids], dtype="int64"),
        text=out_text,
        copy_of={final_id[c]: final_id[s] for c, s in copy_of.items()},
    )


def documents_table(docs: Docs, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = len(docs.text)
    return pa.table(
        {
            "doc_id": docs.doc_id,
            "text": docs.text,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 5}" for i in range(n)],
            "n_chars": np.array([len(t) for t in docs.text], dtype="int64"),
        }
    )


def embeddings_table(seed: int, n_vecs: int, near_dup_share: float) -> pa.Table:
    """Unit-norm 64-d vectors from a 10-component Gaussian mixture;
    ``near_dup_share`` of them are a jittered copy of an earlier vector
    (cosine similarity with the source around 0.99)."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.12, size=(n_vecs, EMB_DIM))
    n_dup = int(round(n_vecs * near_dup_share))
    dup_rows = rng.choice(np.arange(1, n_vecs), size=n_dup, replace=False)
    for row in dup_rows:
        src = int(rng.integers(0, row))
        vecs[row] = vecs[src] + rng.normal(scale=0.01, size=EMB_DIM)
        labels[row] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": emb,
            "label": labels.astype("int32"),
        }
    )


def corpus_tables(
    out_dir: str,
    seed: int,
    n_docs: int,
    doc_near_dup_share: float,
    doc_exact_dup_share: float,
    n_vecs: int,
    vec_near_dup_share: float,
) -> dict[str, int]:
    """Write ``documents`` and ``embeddings``. Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    docs = documents(seed, n_docs, doc_near_dup_share, doc_exact_dup_share)
    _write(documents_table(docs, seed), os.path.join(out_dir, "documents.parquet"))
    _write(
        embeddings_table(seed, n_vecs, vec_near_dup_share),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {"documents": n_docs, "embeddings": n_vecs}


def stream_files(
    seed: int,
    n_files: int,
    rows_per_file: int,
    near_dup_share: float,
    exact_dup_share: float,
) -> tuple[list[pa.Table], Docs]:
    """The ingest stream: one ``(doc_id, text)`` table per arriving file,
    cut in doc_id order from one generated sequence, so a copy always
    arrives in the same file as its source or a later one."""
    docs = documents(seed, n_files * rows_per_file, near_dup_share, exact_dup_share, stream=5)
    files = []
    for i in range(n_files):
        sl = slice(i * rows_per_file, (i + 1) * rows_per_file)
        files.append(pa.table({"doc_id": docs.doc_id[sl], "text": docs.text[sl]}))
    return files, docs
