"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng`` seeded with the
workload seed, writes plain parquet files with pyarrow (no Spark), and
returns an :class:`Inputs` record: the file paths the workload reads,
the ground truth the verifier needs, the realized input properties and
a SHA-256 over the generated content.  The program under test only
ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# token-window chunker defaults of ``chunk_map_in_pandas``
CHUNK_WINDOW = 20
CHUNK_MIN_CHARS = 50


@dataclass
class Inputs:
    paths: dict[str, str]
    truth: dict = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    content_hash: str = ""


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 2..9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(2, 10, size=n)
        chars = letters[rng.integers(0, 26, size=int(lens.sum()))]
        pos = 0
        for ln in lens:
            words.setdefault("".join(chars[pos : pos + ln]), None)
            pos += ln
    return np.array(list(words)[:size], dtype=object)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _hash(h, *arrays) -> None:
    for a in arrays:
        if a.dtype == object:
            h.update("\x1e".join(a.tolist()).encode())
        else:
            h.update(np.ascontiguousarray(a).tobytes())


def _quantiles(x: np.ndarray) -> dict:
    q = np.percentile(x, [50, 90, 99])
    return {
        "p50": float(q[0]),
        "p90": float(q[1]),
        "p99": float(q[2]),
        "max": float(x.max()),
    }


# ---------------------------------------------------------------- #
# etl_dedup: heavy-tailed document corpus                          #
# ---------------------------------------------------------------- #


def documents(seed: int, out_dir: str, n_docs: int, n_files: int = 8) -> Inputs:
    """Documents ``(doc_id, filename, filesize, text)``.

    Word counts follow a log-normal law (median 120, sigma 1.1, capped
    at 30x the median), so a few documents are an order of magnitude
    larger than the rest, and 5% of documents have only 3..8 words, so
    their single chunk falls under the 50-character filter.  The counts
    are the law's quantiles at evenly spaced probabilities, dealt to
    documents in seeded order: every seed has the same size
    distribution (and so the same total work and tail), while the
    seed decides which document is large and what it says.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, 5000)
    probs = _zipf_probs(len(vocab), 1.05)
    n_short = n_docs // 20
    p = (np.arange(n_docs - n_short) + 0.5) / (n_docs - n_short)
    z = np.array([NormalDist().inv_cdf(q) for q in p])
    sizes = np.exp(np.log(120) + 1.1 * z)
    sizes = np.clip(sizes, 20, 3600).astype(np.int64)
    short = 3 + np.arange(n_short, dtype=np.int64) % 6
    n_words = rng.permutation(np.concatenate([sizes, short]))
    word_ids = rng.choice(len(vocab), size=int(n_words.sum()), p=probs)
    ends = np.cumsum(n_words)
    starts = ends - n_words
    texts = np.array(
        [" ".join(vocab[word_ids[a:b]]) for a, b in zip(starts, ends)],
        dtype=object,
    )
    doc_id = np.arange(n_docs, dtype=np.int64)
    filename = np.array(
        [f"2024-{1 + i % 12:02d}-{1 + i % 28:02d}_doc_{i}.pdf" for i in doc_id],
        dtype=object,
    )
    filesize = np.array([len(t) for t in texts], dtype=np.int64)

    # realized chunk lengths of the token-window chunker, from the
    # word lengths alone
    wlen = np.array([len(w) for w in vocab], dtype=np.int64)[word_ids]
    chunk_lens = []
    for a, b in zip(starts, ends):
        for c in range(a, b, CHUNK_WINDOW):
            e = min(c + CHUNK_WINDOW, b)
            chunk_lens.append(int(wlen[c:e].sum()) + (e - c - 1))
    chunk_lens = np.array(chunk_lens)

    path = os.path.join(out_dir, "documents")
    _write(
        pa.table(
            {
                "doc_id": doc_id,
                "filename": pa.array(filename, pa.string()),
                "filesize": filesize,
                "text": pa.array(texts, pa.string()),
            }
        ),
        path,
        n_files,
    )
    h = hashlib.sha256()
    _hash(h, doc_id, filename, filesize, texts)
    kept = int((chunk_lens > CHUNK_MIN_CHARS).sum())
    return Inputs(
        paths={"documents": path},
        truth={"chunks_kept": kept},
        properties={
            "docs": n_docs,
            "words_per_doc": _quantiles(n_words),
            "bytes_per_doc": _quantiles(filesize),
            "size_p99_over_p50": float(
                np.percentile(filesize, 99) / np.percentile(filesize, 50)
            ),
            "chunks_raw": int(len(chunk_lens)),
            "short_chunk_share": float(1.0 - kept / len(chunk_lens)),
        },
        content_hash=h.hexdigest(),
    )


# ---------------------------------------------------------------- #
# etl_dedup: corpus with planted duplicate families                 #
# ---------------------------------------------------------------- #


def dedup_corpus(seed: int, out_dir: str, n_families: int, n_files: int = 8) -> Inputs:
    """Documents ``(doc_id, text)`` of 100 words, in families.

    Each family has one base document, 0..2 near copies (the last
    word replaced, so every pair in the family shares all but one
    3-shingle: Jaccard about 0.98) and 0..2 exact copies of a member
    (byte-identical, or with doubled inner spaces that text
    normalization and tokenization both erase).  A fifth of the
    families also get a decoy: a family of its own that shares the
    base's first 60 words (Jaccard about 0.42), so LSH proposes some
    pairs that verification must reject.  Families draw their other
    words independently, so no verified pair may cross families.  Doc
    ids are a seeded permutation, so families are not contiguous.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 5000)
    probs = _zipf_probs(len(vocab), 1.05)
    words = rng.choice(len(vocab), size=(n_families, 100), p=probs)
    # fixed shares dealt in seeded order: every seed plants the same
    # number of copies of each kind
    def dealt(shares):
        counts = [int(round(x * n_families)) for x in shares]
        counts[0] += n_families - sum(counts)
        return rng.permutation(np.repeat(np.arange(len(shares)), counts))

    n_near = dealt([0.4, 0.35, 0.25])
    n_exact = dealt([0.5, 0.3, 0.2])
    decoy = dealt([0.8, 0.2]) == 1

    texts: list[str] = []
    family: list[int] = []
    member: list[int] = []  # member index within the family
    for f in range(n_families):
        base = vocab[words[f]]
        members = [" ".join(base)]
        for _ in range(n_near[f]):
            w = base.copy()
            while True:
                rep = vocab[rng.choice(len(vocab), p=probs)]
                if rep != base[-1] and rep not in w[-3:]:
                    break
            w[-1] = rep
            cand = " ".join(w)
            if cand not in members:
                members.append(cand)
        for m, t in enumerate(members):
            texts.append(t)
            family.append(f)
            member.append(m)
        for _ in range(n_exact[f]):
            m = int(rng.integers(0, len(members)))
            t = members[m]
            if rng.random() < 0.5:
                parts = t.split(" ")
                k = int(rng.integers(1, len(parts)))
                t = " ".join(parts[:k]) + "  " + " ".join(parts[k:])
            texts.append(t)
            family.append(f)
            member.append(m)
        if decoy[f]:
            tail = vocab[rng.choice(len(vocab), size=40, p=probs)]
            texts.append(" ".join(list(base[:60]) + list(tail)))
            family.append(n_families + len(family))  # a family of its own
            member.append(0)

    n = len(texts)
    perm = rng.permutation(n)
    doc_id = np.empty(n, dtype=np.int64)
    doc_id[perm] = np.arange(n)  # row perm[j] gets id j
    family_arr = np.array(family, dtype=np.int64)
    member_arr = np.array(member, dtype=np.int64)
    texts_arr = np.array(texts, dtype=object)

    # exact-dedup survivor of a member = min id among its copies; the
    # planted near-duplicate pairs are all pairs of survivors within a
    # family
    survivor: dict[tuple[int, int], int] = {}
    for i in range(n):
        key = (family[i], member[i])
        survivor[key] = min(survivor.get(key, 1 << 62), int(doc_id[i]))
    by_family: dict[int, list[int]] = {}
    for (f, _m), sid in survivor.items():
        by_family.setdefault(f, []).append(sid)
    planted = set()
    for ids in by_family.values():
        ids.sort()
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                planted.add((ids[a], ids[b]))
    n_unique = len(by_family)
    family_of = np.empty(n, dtype=np.int64)
    family_of[doc_id] = family_arr

    path = os.path.join(out_dir, "corpus")
    order = np.argsort(doc_id)
    _write(
        pa.table(
            {
                "doc_id": doc_id[order],
                "text": pa.array(texts_arr[order], pa.string()),
            }
        ),
        path,
        n_files,
    )
    h = hashlib.sha256()
    _hash(h, doc_id[order], texts_arr[order])
    n_exact_copies = n - len(survivor)
    return Inputs(
        paths={"corpus": path},
        truth={
            "unique": n_unique,
            "exact_survivors": len(survivor),
            "planted_pairs": planted,
            "family_of": family_of,
        },
        properties={
            "docs": n,
            "families": n_unique,
            "decoys": int(decoy.sum()),
            "planted_duplicate_share": float(1.0 - n_unique / n),
            "exact_duplicate_share": float(n_exact_copies / n),
            "near_duplicate_share": float((len(survivor) - n_unique) / n),
            "planted_near_pairs": len(planted),
        },
        content_hash=h.hexdigest(),
    )


# ---------------------------------------------------------------- #
# search_serve: vectors + texts, query pools, refresh batches      #
# ---------------------------------------------------------------- #


@dataclass
class SearchSpec:
    n_docs: int
    dim: int = 64
    n_cells: int = 16
    words_per_doc: int = 30
    pool: int = 256
    zipf_s: float = 1.1
    n_requests: int = 4000
    n_batches: int = 24
    batch_rows: int = 8


def _clustered(rng, centers, n, spread=0.12):
    cell = rng.integers(0, len(centers), size=n)
    return centers[cell] + rng.normal(0.0, spread, size=(n, centers.shape[1]))


def search_corpus(seed: int, out_dir: str, spec: SearchSpec) -> Inputs:
    """Corpus ``(doc_id, text, embedding)`` with 64-d vectors around
    16 unit-norm centers (the IVF centroids), a pool of vector queries
    (perturbed corpus vectors) and one of 2-term text queries, a
    request sequence that picks pool entries by Zipf popularity, and
    change-feed batches of
    new documents whose texts carry a token that no other document
    has (so a read-your-writes query has one right answer)."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 5000)
    probs = _zipf_probs(len(vocab), 1.05)
    centers = rng.normal(size=(spec.n_cells, spec.dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def texts_for(n):
        ids = rng.choice(len(vocab), size=(n, spec.words_per_doc), p=probs)
        return np.array([" ".join(vocab[r]) for r in ids], dtype=object)

    emb = _clustered(rng, centers, spec.n_docs)
    texts = texts_for(spec.n_docs)
    doc_id = np.arange(spec.n_docs, dtype=np.int64)

    # query pools
    src = rng.integers(0, spec.n_docs, size=spec.pool)
    vq = emb[src] + rng.normal(0.0, 0.05, size=(spec.pool, spec.dim))
    mid = np.arange(30, 1500)  # mid-frequency terms: postings of useful size
    tq = [list(vocab[rng.choice(mid, size=2, replace=False)]) for _ in range(spec.pool)]
    # the traffic shape (which request repeats which pool entry) is a
    # property of the workload, not of the seed: the share of repeats
    # among a run's few requests then does not vary with the seed
    traffic = np.random.default_rng([0, 4])
    pop = _zipf_probs(spec.pool, spec.zipf_s)
    req_v = traffic.choice(spec.pool, size=spec.n_requests, p=pop)
    req_t = traffic.choice(spec.pool, size=spec.n_requests, p=pop)

    corpus_path = os.path.join(out_dir, "corpus")
    _write(
        pa.table(
            {
                "doc_id": doc_id,
                "text": pa.array(texts, pa.string()),
                "embedding": pa.array(list(emb), pa.list_(pa.float64())),
            }
        ),
        corpus_path,
        4,
    )
    h = hashlib.sha256()
    _hash(h, doc_id, texts, emb, vq, req_v, req_t)
    batches = []
    next_id = spec.n_docs
    for v in range(1, spec.n_batches + 1):
        ids = np.arange(next_id, next_id + spec.batch_rows, dtype=np.int64)
        next_id += spec.batch_rows
        be = _clustered(rng, centers, spec.batch_rows)
        bt = texts_for(spec.batch_rows)
        marks = [f"zq{seed}v{v}r{i}" for i in range(spec.batch_rows)]
        bt = np.array([f"{t} {m}" for t, m in zip(bt, marks)], dtype=object)
        bpath = os.path.join(out_dir, f"batch_v{v}")
        _write(
            pa.table(
                {
                    "doc_id": ids,
                    "text": pa.array(bt, pa.string()),
                    "embedding": pa.array(list(be), pa.list_(pa.float64())),
                }
            ),
            bpath,
            1,
        )
        _hash(h, ids, bt, be)
        batches.append({"path": bpath, "ids": ids, "emb": be, "marks": marks})
    return Inputs(
        paths={"corpus": corpus_path},
        truth={
            "centroids": centers,
            "emb": emb,
            "vq": vq,
            "tq": tq,
            "req_v": req_v,
            "req_t": req_t,
            "batches": batches,
        },
        properties={
            "docs": spec.n_docs,
            "dim": spec.dim,
            "cells": spec.n_cells,
            "query_pool": spec.pool,
            "zipf_s": spec.zipf_s,
            "batch_rows": spec.batch_rows,
        },
        content_hash=h.hexdigest(),
    )


def combined_hash(*inputs: Inputs) -> str:
    """SHA-256 over several generated inputs' content hashes."""
    return hashlib.sha256("".join(i.content_hash for i in inputs).encode()).hexdigest()


def repeat_share(seq) -> float:
    """Share of requests whose query already occurred earlier."""
    seen: set = set()
    rep = 0
    for q in seq:
        rep += q in seen
        seen.add(q)
    return rep / max(len(seq), 1)
