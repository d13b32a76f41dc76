"""Seeded inputs: the generated MapReduce text corpus and the query tables,
derived from the test data.

Everything here depends only on the seed and the size arguments, so the
same seed always gives byte-identical inputs.  The corpus generator knows
what it wrote, which gives the corpus an oracle that does not depend on
the program under test (``corpus_goldens``).
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- MapReduce corpus --------------------------------------------------------

_ASCII = "abcdefghijklmnopqrstuvwxyz"
_NON_ASCII = "éèüöäßñçøåœжлдяλπσ"
# Every separator is free of letters, so the tokenizer's runs of letters are
# exactly the generated words; digits and '_' are separators too.
_SEPARATORS = [
    " ", " ", " ", " ", " ", ", ", ". ", "\n", " -- ", "; ", ": ", "!\n",
    " 1999 ", "'", "_", " (", ") ", "42", "...", "\t", " 7-8 ", "? ",
]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: dict[str, None] = {}
    while len(words) < size:
        n = int(rng.integers(2, 11))
        chars = [
            _NON_ASCII[int(rng.integers(len(_NON_ASCII)))]
            if rng.random() < 0.03
            else _ASCII[int(rng.integers(len(_ASCII)))]
            for _ in range(n)
        ]
        words["".join(chars)] = None
    return list(words)


def _zipf_weights(n: int, s: float = 1.07, q: float = 2.7) -> np.ndarray:
    w = 1.0 / np.power(np.arange(n) + q, s)
    return w / w.sum()


def write_corpus(out_dir: str, seed: int, n_files: int, file_chars: int) -> dict[str, Counter]:
    """Write ``n_files`` text files of about ``file_chars`` characters.

    Words follow one Zipf law shared by all files (so posting lists span
    many files), each file also leans on its own slice of the tail, words
    appear lower-case, Capitalised or UPPER (the tokenizer is
    case-sensitive), and the last file holds separators only.  Returns
    the token counts of each file.
    """
    rng = np.random.default_rng(seed % 2**64)  # any int seed, negatives included
    vocab = np.array(_vocabulary(rng, 4000), dtype=object)
    weights = _zipf_weights(len(vocab))
    seps = np.array(_SEPARATORS, dtype=object)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, Counter] = {}
    for i in range(n_files):
        name = f"pg-{i:04d}.txt"
        if i == n_files - 1:
            text = "".join(rng.choice(seps, size=max(1, file_chars // 3)))
            counts[name] = Counter()
        else:
            n_tokens = file_chars // 7
            n_local = n_tokens // 5
            idx = np.concatenate([
                rng.choice(len(vocab), size=n_tokens - n_local, p=weights),
                rng.integers(0, 400, size=n_local) + (i * 211) % (len(vocab) - 400),
            ])
            rng.shuffle(idx)
            words = vocab[idx]
            case = rng.random(len(words))
            words = np.where(case < 0.12, np.char.capitalize(words.astype(str)).astype(object), words)
            words = np.where(case > 0.97, np.char.upper(words.astype(str)).astype(object), words)
            sep = rng.choice(seps, size=len(words))
            text = "".join(w + s for w, s in zip(words, sep))
            counts[name] = Counter(words.tolist())
        with open(os.path.join(out_dir, name), "w", encoding="utf-8", newline="") as fh:
            fh.write(text)
    return counts


def corpus_goldens(counts: dict[str, Counter]) -> dict[str, list[str]]:
    """Expected sorted output lines of wc and indexer over the corpus,
    derived from what the generator wrote."""
    total: Counter = Counter()
    postings: dict[str, list[str]] = defaultdict(list)
    for name in sorted(counts):
        total.update(counts[name])
        for word in counts[name]:
            postings[word].append(name)
    wc = sorted(f"{w} {c}" for w, c in total.items())
    indexer = sorted(f"{w} {len(fs)} {','.join(sorted(fs))}" for w, fs in postings.items())
    return {"wc": wc, "indexer": indexer}


# --- parquet tables ----------------------------------------------------------

# Unchanged copies of the repository's sf0.01 test data tables (TESTDATA.md).
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def derive_tables(out_dir: str, seed: int, names: list[str]) -> dict[str, int]:
    """Write a seeded row permutation of each table in ``names``.

    The rows are those of the test data, so key fan-outs, text lengths and
    vocabulary, and the planted near-duplicate documents keep their real
    shape.  The seed only reorders rows: that moves rows between input
    partitions but changes no query result.  Returns the row count of each
    table."""
    rng = np.random.default_rng(seed % 2**64)  # any int seed, negatives included
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        table = pq.read_table(os.path.join(TABLES_DIR, f"{name}.parquet"))
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        # One row group per file, like the source.
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows), compression="snappy")
        rows[name] = table.num_rows
    return rows
