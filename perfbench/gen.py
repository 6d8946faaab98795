"""Seeded input generators with their own ground truth.

Everything here is numpy + pyarrow + difflib: no Spark is involved, so
the truth a run is checked against is independent of the engine under
test. The same seed always gives the same files and the same truth.
"""

from __future__ import annotations

import difflib
import os
import string
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write_parts(table: pa.Table, path: str, parts: int) -> int:
    """Write ``table`` as ``parts`` parquet files under directory
    ``path`` (one scan partition per file); return bytes on disk."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    size = 0
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        size += os.path.getsize(f)
    return size


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    lens = rng.integers(lo, hi + 1, size=n)
    flat = rng.choice(letters, size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append("".join(flat[pos : pos + ln]))
        pos += ln
    return out


# --------------------------------------------------------------------------
# reconciliation pair
# --------------------------------------------------------------------------


@dataclass
class ReconTruth:
    missing_in_a: int  # rows of b whose id is absent from a
    missing_in_b: int  # rows of a whose id is absent from b
    differing_ids: set[str] = field(default_factory=set)
    bytes_on_disk: int = 0


def recon_pair(
    out_dir: str,
    seed: int,
    *,
    rows_a: int,
    rows_b: int,
    shared: int,
    drift_frac: float,
    threshold: float,
    parts: int,
) -> ReconTruth:
    """Two sources ``recon_a`` / ``recon_b`` (``id BIGINT, MODEL
    STRING``) under ``out_dir``.

    ``shared`` ids are in both; the rest of each side is missing from
    the other. A ``drift_frac`` share of the shared ids carry a changed
    check value: 45% a one-letter edit (difflib ratio ~0.9), 45% a
    fresh string (ratio well below 0.8), 5% a one-sided NULL and 5%
    NULL on both sides. Which of them the reference reports at
    ``threshold`` is decided here with difflib, the reference's own
    comparison.
    """
    rng = np.random.default_rng(seed)
    n_ids = rows_a + rows_b - shared
    key = rng.permutation(np.arange(1, 4 * n_ids + 1, dtype=np.int64))[:n_ids]
    ids = key.astype(str).astype(object)

    # layout of the id space: [0, shared) both, then a-only, then b-only
    a_idx = np.arange(0, rows_a)
    b_idx = np.concatenate([np.arange(0, shared), np.arange(rows_a, n_ids)])
    vocab = _words(rng, 4096, 10, 16)
    base = np.array(vocab, dtype=object)[rng.integers(0, len(vocab), size=n_ids)]
    val_a = base[a_idx].copy()
    val_b = base[b_idx].copy()  # b's first ``shared`` rows are the shared ids

    n_drift = int(shared * drift_frac)
    drift = rng.choice(shared, size=n_drift, replace=False)
    kinds = rng.random(n_drift)
    letters = string.ascii_lowercase
    for j, kind in zip(drift, kinds):
        v = val_a[j]
        if kind < 0.45:  # one-letter edit: above the fuzzy threshold
            p = int(rng.integers(0, len(v)))
            c = letters[(letters.index(v[p]) + 1 + int(rng.integers(0, 25))) % 26]
            val_b[j] = v[:p] + c + v[p + 1 :]
        elif kind < 0.9:  # fresh string: below the fuzzy threshold
            val_b[j] = _words(rng, 1, 10, 16)[0]
        elif kind < 0.95:  # one-sided NULL: always reported
            val_b[j] = None
        else:  # both NULL: never reported
            val_a[j] = None
            val_b[j] = None

    truth = ReconTruth(missing_in_a=rows_b - shared, missing_in_b=rows_a - shared)
    for j in drift:
        x, y = val_a[j], val_b[j]
        if x is None and y is None:
            continue
        if x == y:
            continue
        if x is None or y is None:
            ratio = 0.0
        else:
            ratio = difflib.SequenceMatcher(None, x, y).ratio()
        if ratio < threshold:
            truth.differing_ids.add(ids[j])

    def table(idx: np.ndarray, vals: np.ndarray, order: np.ndarray) -> pa.Table:
        cols = {"id": pa.array(key[idx]), "MODEL": pa.array(vals, type=pa.string())}
        return pa.table(cols).take(pa.array(order))

    # shuffle row order so shared / missing rows interleave in every file
    ta = table(a_idx, val_a, rng.permutation(rows_a))
    tb = table(b_idx, val_b, rng.permutation(rows_b))
    truth.bytes_on_disk = _write_parts(ta, os.path.join(out_dir, "recon_a.parquet"), parts)
    truth.bytes_on_disk += _write_parts(tb, os.path.join(out_dir, "recon_b.parquet"), parts)
    return truth


# --------------------------------------------------------------------------
# curation corpus
# --------------------------------------------------------------------------

LINE_TOKS = 12  # run_curation's line dedup splits docs into 12-token segments
KEEP_LANGS = ("en", "es", "de", "fr")
MIN_CHARS = 100


@dataclass
class CorpusTruth:
    docs: int
    exact_dup_losers: set[int] = field(default_factory=set)
    boilerplate_only: set[int] = field(default_factory=set)
    filtered_out: set[int] = field(default_factory=set)  # short or off-language
    boilerplate_docs: int = 0  # other docs carrying the boilerplate segment
    bytes_on_disk: int = 0


def corpus(
    out_dir: str,
    seed: int,
    *,
    docs: int,
    dim: int = 64,
    parts: int,
) -> CorpusTruth:
    """``documents`` + ``embeddings`` tables in the fixture layout.

    Planted: exact duplicates (the higher doc_id is the loser),
    near duplicates (two tokens changed), one 12-token boilerplate
    segment at a segment-aligned position in ~30% of docs (one hot
    line key), a few docs made only of that segment, short and
    off-language docs, and clusters of near-identical embedding
    vectors for semantic dedup.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_words(rng, 3000, 3, 9), dtype=object)
    boiler = " ".join(vocab[rng.integers(0, len(vocab), size=LINE_TOKS)])
    texts: list[str] = []
    langs = rng.choice(np.array(list(KEEP_LANGS) + ["zh"]), size=docs, p=[0.4, 0.2, 0.15, 0.15, 0.1])
    truth = CorpusTruth(docs=docs)
    for i in range(docs):
        r = rng.random()
        if i >= 10 and r < 0.06:  # exact duplicate of an earlier doc
            src = int(rng.integers(0, i))
            texts.append(texts[src])
            if texts[src] != boiler:
                truth.exact_dup_losers.add(i)
            continue
        if i >= 10 and r < 0.10:  # near duplicate: two tokens changed
            toks = texts[int(rng.integers(0, i))].split(" ")
            for p in rng.integers(0, len(toks), size=2):
                toks[p] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            continue
        if r < 0.12:  # boilerplate only: every segment is the hot line
            texts.append(boiler)
            truth.boilerplate_only.add(i)
            continue
        n_seg = int(rng.integers(2, 7))
        toks = list(vocab[rng.integers(0, len(vocab), size=n_seg * LINE_TOKS)])
        if rng.random() < 0.30:
            s = int(rng.integers(0, n_seg)) * LINE_TOKS
            toks[s : s + LINE_TOKS] = boiler.split(" ")
        if r > 0.97:  # short: under the min_chars filter
            toks = toks[:5]
        texts.append(" ".join(toks))
    # an exact duplicate of a boilerplate-only doc is itself boilerplate-only
    for i, t in enumerate(texts):
        if t == boiler:
            truth.boilerplate_only.add(i)
        elif boiler in t:
            truth.boilerplate_docs += 1
    n_chars = np.array([len(t) for t in texts], dtype=np.int64)
    for i in range(docs):
        if n_chars[i] < MIN_CHARS or langs[i] not in KEEP_LANGS:
            truth.filtered_out.add(i)

    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs.astype(object), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(docs)], type=pa.string()),
            "n_chars": pa.array(n_chars),
        }
    )
    # embeddings: random unit-ish vectors, 15% of them replaced by a
    # tiny perturbation of a cluster head (semantic duplicates)
    vecs = rng.standard_normal((docs, dim)).astype(np.float32)
    heads = rng.choice(docs, size=max(1, docs // 40), replace=False)
    dup = rng.random(docs) < 0.15
    for i in np.nonzero(dup)[0]:
        h = heads[int(rng.integers(0, len(heads)))]
        if h != i:
            vecs[i] = vecs[h] + 0.01 * rng.standard_normal(dim).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(docs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=docs).astype(np.int32)),
        }
    )
    truth.bytes_on_disk = _write_parts(documents, os.path.join(out_dir, "documents.parquet"), parts)
    truth.bytes_on_disk += _write_parts(embeddings, os.path.join(out_dir, "embeddings.parquet"), parts)
    return truth
