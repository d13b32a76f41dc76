"""The MapReduce text corpus, and its deterministic stand-in.

The reference feeds 8 Project Gutenberg books (``pg-*.txt``, ~3.3 MB)
to every MapReduce correctness run.  ``corpus_glob`` names them when a
checkout of the reference sits beside this one, with all 8 books in its
``src/main/``.  When they are absent, it names the stand-in that
``write_text_corpus`` writes: 8 files of the same total size whose
tokens the tokenizer must get right in the same ways: Zipf-distributed
words, lower-case, Capitalised and UPPER variants, punctuation, digits
and underscores as separators, and non-ASCII letters inside words.

By construction the corpus keeps the properties the book tests check:
``the`` is the most frequent word, with well over 10,000 occurrences,
it occurs in every file, and there are more than 10,000 distinct words.
Same seed, same bytes; nothing is downloaded.  The stand-in is written
once per checkout (``fixtures.materialize``); later calls only check
that it exists.
"""

from __future__ import annotations

import glob
import os
import random
from collections import Counter

from .fixtures import materialize

N_FILES = 8
TOTAL_BYTES = 3_300_000

_ASCII = "abcdefghijklmnopqrstuvwxyz"
_NON_ASCII = "éèüöäßñçøåœжлдяλπσ"
# separators hold no letters, so the tokens are exactly the words written
_SEPARATORS = [" "] * 8 + [
    ", ", ". ", "\n", " -- ", "; ", ": ", "!\n", " 1999 ", "'", "_",
    " (", ") ", "42", "...", "\t", " 7-8 ", "? ", "\n\n",
]
_COMMON = ["the", "and", "of", "to", "a", "in", "that", "it", "was", "he"]

_BOOKS_GLOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
    "src",
    "main",
    "pg-*.txt",
)


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words = dict.fromkeys(_COMMON)
    while len(words) < size:
        n = rng.randint(2, 10)
        words[
            "".join(
                rng.choice(_NON_ASCII) if rng.random() < 0.03 else rng.choice(_ASCII)
                for _ in range(n)
            )
        ] = None
    return list(words)


def write_text_corpus(out_dir: str, seed: int = 6_5840) -> dict[str, Counter]:
    """Write ``pg-gen0.txt`` .. ``pg-gen7.txt`` into ``out_dir`` and
    return each file's token counts."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 20_000)
    cum, acc = [], 0.0
    for k in range(len(vocab)):
        acc += 1.0 / (k + 2.7) ** 1.07
        cum.append(acc)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, Counter] = {}
    for i in range(N_FILES):
        parts, size, tokens = [], 0, Counter()
        while size < TOTAL_BYTES // N_FILES:
            w = rng.choices(vocab, cum_weights=cum)[0]
            r = rng.random()
            if r < 0.12:
                w = w.capitalize()
            elif r > 0.97:
                w = w.upper()
            chunk = w + rng.choice(_SEPARATORS)
            parts.append(chunk)
            size += len(chunk.encode())
            tokens[w] += 1
        name = f"pg-gen{i}.txt"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8", newline="") as fh:
            fh.write("".join(parts))
        counts[name] = tokens
    return counts


def corpus_glob() -> str:
    """Glob of the 8-file corpus: the reference's books when all 8 are
    present, else the stand-in."""
    if len(glob.glob(_BOOKS_GLOB)) == N_FILES:
        return _BOOKS_GLOB
    return os.path.join(materialize("textcorpus", write_text_corpus), "pg-*.txt")
