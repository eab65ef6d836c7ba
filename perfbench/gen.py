"""Seeded input generators for the benchmark.

``write_tables`` writes the two query tables the workloads read,
``documents`` and ``embeddings``, as one parquet file each, with the
schemas of the engine's fixture tables.  ``write_read_pairs`` writes the
read-pair input of the two-stage pipeline.  The same seed always gives
the same bytes of input; the program under test only ever sees the files.

The query tables follow the fixture tables at scale factor 0.01.  The
figures next to each constant were measured on those tables (and on
sf0.1, where the shares are the same); ``python3 perfbench/gen.py
--describe DIR`` prints them for any directory of tables, so the
generated tables can be compared with a fixture directory directly.
"""

from __future__ import annotations

import argparse
import collections
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture sf0.01: 500 documents, 500 embeddings (sf0.1: 5,000 and 2,000).
TABLE_ROWS = {"documents": 500, "embeddings": 500}
# Fixture: 10 to 99 words per document, uniform (sf0.01 median 56, mean 54.3).
DOC_WORDS = (10, 99)
# Fixture: these 30 words, each at about 1/30 of all words, plus the marker.
VOCAB = (
    "a the big small fast slow data table row column key value join merge "
    "hash sort scan filter group agg window stream batch query spark order "
    "line part customer vector"
).split()
# Fixture: 25 of 500 documents (sf0.1: 250 of 5,000) are another
# document's text followed by the word "dup".
NEAR_DUP_FRAC = 0.05
DUP_MARKER = "dup"
# Fixture sf0.01: en 218, zh 75, es 73, de 70, fr 64 of 500.
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# Fixture: document i comes from source src{i % 20}.
SOURCES = 20
# Fixture: 64-d unit vectors with independent Gaussian directions.
# Pairwise cosine mean 0.000, sd 0.125; 59 pairs above 0.4 (the engine's
# pair threshold); nearest-neighbour cosine median 0.367.  Labels 0-9
# are not tied to the geometry (same-label cosine mean 0.002).
EMBED_DIM = 64
EMBED_LABELS = 10
EMBED_BASE_SEED = 20240101  # the fixed vector set every seed rotates


def _documents(rng: np.random.Generator, k: int) -> pa.Table:
    # The seed draws the content; the shape is fixed: every seed gives the
    # same word counts, the same number of near-duplicates and the same
    # language mix, so runs with different seeds do the same amount of work.
    span = DOC_WORDS[1] - DOC_WORDS[0] + 1
    lengths = rng.permutation(DOC_WORDS[0] + np.arange(k) * span // k)
    dups = set(rng.choice(np.arange(1, k), round(NEAR_DUP_FRAC * k), replace=False).tolist())
    texts: list[str] = []
    for i in range(k):
        if i in dups:
            texts.append(f"{texts[int(rng.integers(0, i))]} {DUP_MARKER}")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(lengths[i]))))
    langs = np.resize(np.repeat(LANGS, np.round(np.array(LANG_P) * k).astype(int)), k)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": rng.permutation(langs).tolist(),
            "source": [f"src{i % SOURCES}" for i in range(k)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, k: int) -> pa.Table:
    # The seed rotates one fixed set of unit vectors: coordinates change
    # with the seed, pairwise distances (so the neighbour graphs the ANN
    # queries build and walk) do not, and neither does the work they do.
    base = np.random.default_rng(EMBED_BASE_SEED).standard_normal((k, EMBED_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rotation, _ = np.linalg.qr(rng.standard_normal((EMBED_DIM, EMBED_DIM)))
    vec = (base @ rotation).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.permutation(np.arange(k) % EMBED_LABELS), pa.int32()),
        }
    )


MAKERS = {"documents": _documents, "embeddings": _embeddings}


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table for ``seed`` under ``out_dir``; returns rows per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (name, make) in enumerate(MAKERS.items()):
        table = make(np.random.default_rng([seed, i]), TABLE_ROWS[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def describe(data_dir: str) -> dict:
    """The statistics the constants above were set from, measured on the
    tables in ``data_dir``."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
    texts = docs["text"]
    words = np.array([len(t.split()) for t in texts])
    known = set(texts)
    marked = [t for t in texts if t.endswith(" " + DUP_MARKER)]
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pydict()
    vec = np.array(emb["embedding"], dtype=np.float64)
    cos = vec @ vec.T
    upper = cos[np.triu_indices(len(vec), 1)]
    np.fill_diagonal(cos, -2.0)
    return {
        "documents": len(texts),
        "words_min_median_max": [int(words.min()), float(np.median(words)), int(words.max())],
        "vocabulary": len({w for t in texts for w in t.split()} - {DUP_MARKER}),
        "near_dups": len(marked),
        "near_dups_of_a_document": sum(t[: -len(DUP_MARKER) - 1] in known for t in marked),
        "langs": dict(sorted(collections.Counter(docs["lang"]).items())),
        "sources": len(set(docs["source"])),
        "embeddings": len(vec),
        "dim": vec.shape[1],
        "cos_mean_sd": [round(float(upper.mean()), 3), round(float(upper.std()), 3)],
        "pairs_above_0.4": int((upper > 0.4).sum()),
        "nn_cos_median": round(float(np.median(cos.max(axis=1))), 3),
    }


# -- read pairs for the two-stage pipeline --------------------------------
#
# No measured run of the reference workflow ships with the repo, so the
# read-pair shape is chosen, not measured.  SAMPLES is the sample count of
# the 200k-pair probe that sized this workload.  ZIPF_S makes sample_00 a
# hot group (about a third of all pairs), the skew the per-sample
# applyInPandas stage has to absorb.  The two prune fractions give the
# Undetermined / empty-payload filter work on every run; the engine's
# read-pair fixture holds one row of each kind.  READ_LEN spans common
# short-read lengths.

READ_PAIRS = 5_000
SAMPLES = 24
ZIPF_S = 1.2  # sample popularity exponent: sample_00 is the hot group
UNDETERMINED_FRAC = 0.05
EMPTY_PAYLOAD_FRAC = 0.02
READ_LEN = (50, 150)


def read_pairs_table(seed: int) -> pa.Table:
    """``READ_PAIRS`` read pairs over ``SAMPLES`` samples with Zipf-skewed
    popularity, plus ``Undetermined`` reads and reads with an empty mate,
    which the pipeline's prune filter must drop.  The seed draws the
    content and the row order; the per-sample counts, the read lengths
    and the number of prunable pairs are the same for every seed."""
    rng = np.random.default_rng(seed)
    n = READ_PAIRS
    weights = 1.0 / np.arange(1, SAMPLES + 1) ** ZIPF_S
    names = np.array([f"sample_{i:02d}" for i in range(SAMPLES)] + ["Undetermined"])
    p = np.append(weights / weights.sum() * (1 - UNDETERMINED_FRAC), UNDETERMINED_FRAC)
    counts = np.floor(p * n).astype(int)
    counts[0] += n - counts.sum()
    sample = rng.permutation(np.repeat(names, counts))
    span = READ_LEN[1] - READ_LEN[0] + 1
    lens = rng.permutation(READ_LEN[0] + np.arange(2 * n) % span).reshape(2, n)
    # an empty mate on either side makes the pair prunable
    empty = rng.choice(n, round(EMPTY_PAYLOAD_FRAC * n), replace=False)
    side = rng.permutation(np.arange(len(empty)) % 2)
    lens[side, empty] = 0
    alphabet = np.frombuffer(b"ACGT", dtype=np.uint8)
    pool = alphabet[rng.integers(0, 4, READ_LEN[1] * 4096)].tobytes().decode()
    offs = rng.integers(0, len(pool) - READ_LEN[1], (2, n))
    seq1 = [pool[o : o + k] for o, k in zip(offs[0], lens[0])]
    seq2 = [pool[o : o + k] for o, k in zip(offs[1], lens[1])]
    return pa.table(
        {
            "sample": sample.tolist(),
            "read_id": [f"r{seed}_{i:07d}" for i in range(n)],
            "seq1": seq1,
            "qual1": ["I" * k for k in lens[0]],
            "seq2": seq2,
            "qual2": ["I" * k for k in lens[1]],
        }
    )


def expected_pipeline_output(pairs: pa.Table) -> tuple[list[str], int]:
    """(surviving samples, SAM rows) the pipeline must produce: the pairs
    that pass the prune filter each yield one SAM row per mate."""
    sample = np.array(pairs.column("sample").to_pylist())
    l1 = np.array([len(s) for s in pairs.column("seq1").to_pylist()])
    l2 = np.array([len(s) for s in pairs.column("seq2").to_pylist()])
    keep = (
        (np.char.lower(sample.astype(str)) != "undetermined")
        & ~np.char.startswith(sample.astype(str), "_")
        & (l1 >= 1)
        & (l2 >= 1)
    )
    return sorted(set(sample[keep].tolist())), int(2 * keep.sum())


def write_read_pairs(seed: int, path: str) -> dict:
    """Write the read pairs for ``seed`` to ``path`` (parquet) and return
    a summary of the input and of the output the pipeline must produce."""
    table = read_pairs_table(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    samples, sam_rows = expected_pipeline_output(table)
    return {
        "read_pairs": table.num_rows,
        "samples_generated": SAMPLES,
        "samples": samples,
        "sam_rows": sam_rows,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Print the statistics of a table directory.")
    ap.add_argument("--describe", required=True, metavar="DIR")
    print(json.dumps(describe(ap.parse_args().describe), indent=1))
