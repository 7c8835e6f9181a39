"""Seeded input files, generated in the driver and written with pyarrow.

Rows come from the same pure per-document functions that
``synth.synth_documents`` / ``synth.synth_text_corpus`` run inside
``mapInPandas`` — identical rows for a (seed, doc_id) — without a Spark
job, so set-up time measures generation and writing, not job start-up.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ])), nullable=False),
])

TEXT_ARROW = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("text", pa.string(), nullable=False),
    pa.field("lang", pa.string(), nullable=False),
    pa.field("source", pa.string(), nullable=False),
    pa.field("n_chars", pa.int64(), nullable=False),
])

VEC_ARROW = pa.schema([
    pa.field("vec_id", pa.int64(), nullable=False),
    pa.field("embedding", pa.list_(pa.float64())),
])


def _write(rows: list[dict], schema: pa.Schema, out_dir: str, files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        chunk = rows[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def kg_documents(seed: int, n_docs: int, out_dir: str, files: int,
                 skew_prob: float | None = None) -> set:
    """Write the interleaved documents table; return its planted
    (s, p, o) facts."""
    from imgfact_spark import synth

    kb = synth.build_kb(seed)
    skew_block = max(40, synth.KB_SIZE // 20)  # as synth_documents derives it
    skew = synth.SKEW_PROB if skew_prob is None else skew_prob
    rows, truth = [], set()
    for did in range(n_docs):
        spans, facts = synth._gen_one_doc(seed, did, kb, skew_block, skew)
        rows.append({
            "doc_id": f"doc_{did:09d}",
            "spans": [{"kind": k, "text": t, "media_ref": m, "offset": off}
                      for k, t, m, off in spans],
        })
        truth.update((s, p, o) for s, p, o, _ in facts)
    _write(rows, DOC_ARROW, out_dir, files)
    return truth


def text_corpus(seed: int, n_docs: int, out_dir: str, files: int,
                vocab_size: int = 30_000) -> None:
    from imgfact_spark import synth

    rows = []
    for did in range(n_docs):
        text, lang = synth._tc_one_doc(seed, did, vocab_size)
        rows.append({"doc_id": did, "text": text, "lang": lang,
                     "source": f"crawl{did % 20:02d}", "n_chars": len(text)})
    _write(rows, TEXT_ARROW, out_dir, files)


def clustered_embeddings(seed: int, n: int, dim: int, centers: int, n_queries: int):
    """Unit vectors scattered around seeded centres, and queries drawn
    near corpus points, so neighbours are structured, not random."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((centers, dim))
    vecs = c[rng.integers(centers, size=n)] + 0.35 * rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    q = vecs[rng.choice(n, size=n_queries, replace=False)] + 0.1 * rng.standard_normal((n_queries, dim))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return vecs, q


def write_vectors(vecs: np.ndarray, out_dir: str, files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n, dim = vecs.shape
    for i, idx in enumerate(np.array_split(np.arange(n), files)):
        emb = pa.ListArray.from_arrays(pa.array(np.arange(len(idx) + 1) * dim, pa.int32()),
                                       pa.array(vecs[idx].ravel()))
        table = pa.Table.from_arrays([pa.array(idx, pa.int64()), emb], schema=VEC_ARROW)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def exact_topk(vecs: np.ndarray, queries: np.ndarray, k: int) -> dict:
    """Exact cosine top-k neighbour ids per query (unit vectors)."""
    sims = queries @ vecs.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return {qid: {int(v) for v in row} for qid, row in enumerate(top)}
