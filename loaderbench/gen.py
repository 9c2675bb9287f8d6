"""Seeded input generators for the loader and curation benchmark.

Two corpora, each a pure function of (seed, size parameters):

* ``gen_cells`` - a Tahoe-like single-cell corpus: one parquet file per
  plate, rows sorted by plate, each row carrying ``cell_id``, ``plate``,
  ``cell_line`` and (wide payload) 64-nonzero sparse ``genes`` /
  ``expressions`` arrays.
* ``gen_corpus`` - a word-bag document corpus with planted exact duplicates
  and one-word-edit near duplicates, the plants kept as ground truth.

Each generator writes ``manifest.json`` next to its files: row counts, file
bytes and digests, plate / class sizes, and the planted duplicate pairs.
The same arguments give byte-identical files and manifest.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENES = 62713        # Tahoe-100M gene count
NNZ = 64             # nonzeros per cell in the wide payload
PLATES = 14          # Tahoe-100M plate count
CELL_LINES = 50      # Tahoe-100M cell-line count
VOCAB = 20000        # corpus vocabulary size
ZIPF_S = 1.1         # class-size skew of the narrow corpus
SHARDS = 4           # parquet files of the document corpus


def _write(table, path):
    # fixed writer settings: the same table always gives the same bytes
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   row_group_size=1 << 20, write_statistics=True)


def _file_entry(path):
    with open(path, "rb") as f:
        data = f.read()
    return {"bytes": len(data), "sha256": hashlib.sha256(data).hexdigest()}


def _split_sizes(rng, n, parts, lo=0.8, hi=1.2):
    """`parts` positive sizes summing to n, each drawn around n/parts."""
    w = rng.uniform(lo, hi, parts)
    sizes = np.floor(n * w / w.sum()).astype(np.int64)
    sizes[-1] += n - sizes.sum()
    return sizes


def _zipf_labels(rng, n, k, s, floor):
    """n labels over k classes, Zipf(s) sized, every class at least `floor`."""
    p = 1.0 / np.arange(1, k + 1) ** s
    p /= p.sum()
    base = np.repeat(np.arange(k), floor)
    rest = rng.choice(k, size=n - len(base), p=p)
    labels = np.concatenate([base, rest])
    rng.shuffle(labels)
    return labels


def gen_cells(out_dir, seed, n_cells, wide=True, zipf=False):
    """Writes plate_00.parquet .. plate_13.parquet and manifest.json."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    plate_sizes = _split_sizes(rng, n_cells, PLATES)
    if zipf:
        lines = _zipf_labels(rng, n_cells, CELL_LINES, ZIPF_S,
                             floor=max(1, n_cells // (CELL_LINES * 200)))
    else:
        lines = rng.integers(0, CELL_LINES, n_cells)
    manifest = {"kind": "cells", "seed": seed, "rows": int(n_cells),
                "wide": wide, "zipf": zipf,
                "plate_sizes": {}, "class_sizes": {}, "files": {}}
    counts = np.bincount(lines, minlength=CELL_LINES)
    for c in range(CELL_LINES):
        manifest["class_sizes"][f"line_{c:02d}"] = int(counts[c])
    start = 0
    for p, size in enumerate(plate_sizes):
        size = int(size)
        ids = np.arange(start, start + size, dtype=np.int64)
        name = f"plate_{p:02d}"
        cols = {
            "cell_id": pa.array(ids),
            "plate": pa.array([name] * size, pa.string()),
            "cell_line": pa.array(
                [f"line_{c:02d}" for c in lines[start:start + size]],
                pa.string()),
        }
        if wide:
            # strictly increasing gene indices: cumulative positive gaps
            gaps = rng.integers(1, 2 * GENES // NNZ, (size, NNZ))
            genes = np.cumsum(gaps, axis=1).astype(np.int32) % GENES
            expr = np.round(rng.gamma(1.5, 2.0, (size, NNZ)), 3)
            offsets = pa.array(np.arange(0, (size + 1) * NNZ, NNZ,
                                         dtype=np.int32))
            cols["genes"] = pa.ListArray.from_arrays(
                offsets, pa.array(genes.ravel(), pa.int32()))
            cols["expressions"] = pa.ListArray.from_arrays(
                offsets, pa.array(expr.ravel().astype(np.float32)))
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(pa.table(cols), path)
        manifest["plate_sizes"][name] = size
        manifest["files"][f"{name}.parquet"] = _file_entry(path)
        start += size
    _dump(manifest, out_dir)
    return manifest


def _word(i):
    letters = "etaoinshrdlucmfwypvbgkqjxz"
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = letters[r] + s
    return s


def gen_corpus(out_dir, seed, n_docs, exact_rate=0.05, near_rate=0.05):
    """Writes corpus_00..03.parquet (doc_id, text) and manifest.json.

    Each planted duplicate copies a distinct original, so every planted
    pair is its own group; the member with the larger doc_id is the one a
    min-id-keeper dedup must remove."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_exact = int(n_docs * exact_rate)
    n_near = int(n_docs * near_rate)
    n_orig = n_docs - n_exact - n_near
    vocab = [_word(i) for i in range(VOCAB)]
    docs = []
    for _ in range(n_orig):
        docs.append(rng.integers(0, VOCAB, int(rng.integers(60, 140))))
    sources = rng.choice(n_orig, n_exact + n_near, replace=False)
    kinds = []
    for j, src in enumerate(sources):
        words = docs[src].copy()
        if j >= n_exact:
            pos = int(rng.integers(0, len(words)))
            words[pos] = (words[pos] + 1 + int(rng.integers(0, VOCAB - 1))) \
                % VOCAB
            kinds.append("near")
        else:
            kinds.append("exact")
        docs.append(words)
    doc_id = rng.permutation(n_docs).astype(np.int64)
    order = np.argsort(doc_id)
    text = [" ".join(vocab[w] for w in docs[i]) for i in order]
    files = {}
    # sharded by doc_id range, so the corpus is read in parallel
    for k in range(SHARDS):
        lo, hi = k * n_docs // SHARDS, (k + 1) * n_docs // SHARDS
        path = os.path.join(out_dir, f"corpus_{k:02d}.parquet")
        _write(pa.table({"doc_id": pa.array(doc_id[order][lo:hi]),
                         "text": pa.array(text[lo:hi], pa.string())}), path)
        files[os.path.basename(path)] = _file_entry(path)
    pairs = []
    for j, src in enumerate(sources):
        a, b = int(doc_id[src]), int(doc_id[n_orig + j])
        pairs.append([min(a, b), max(a, b), kinds[j]])
    pairs.sort()
    manifest = {"kind": "corpus", "seed": seed, "rows": int(n_docs),
                "exact_pairs": n_exact, "near_pairs": n_near,
                "files": files,
                "planted_pairs": pairs}
    _dump(manifest, out_dir)
    return manifest


def _dump(manifest, out_dir):
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
