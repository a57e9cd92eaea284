"""Seeded benchmark inputs, written as wordlist files.

The same seed gives byte-identical files; :func:`generate` returns the
sha256 of every file so two runs can be shown to have read the same
bytes. Words are 6-16 characters from ``[a-z0-9]``.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from pathlib import Path

from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS

ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
WORDLIST = "words.txt"  # the main wordlist's file name, and so its source name


@dataclass(frozen=True)
class Sizes:
    distinct: int  # distinct generated words in the main wordlist
    repeats: int = 0  # extra main-wordlist lines that repeat listed words
    batch_lines: int = 0  # the append batch: half new words, half main-list words
    forget: int = 0  # main-list words whose sha256 digests get forgotten
    vectors: bool = False  # plant the known-answer preimages in the main list
    queries: int = 100  # seeded lookup targets of each kind


@dataclass(frozen=True)
class Batch:
    path: Path
    new: list[str]  # words in no earlier input
    overlap: list[str]  # main-list words, so they gain this batch's source


@dataclass(frozen=True)
class Inputs:
    wordlist: Path
    lines: int  # lines in the main wordlist
    words: list[str]  # its distinct words
    batch: Batch
    forget: list[str]
    hits: list[str]  # main-list words to look up
    absent: list[str]  # words in no input, so their digests miss
    sha256: dict[str, str]  # file name -> sha256 of its bytes


def _fresh_words(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choices(ALPHABET, k=rng.randint(6, 16)))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def _write(path: Path, lines: list[str]) -> str:
    data = ("\n".join(lines) + "\n").encode()
    path.write_bytes(data)
    return hashlib.sha256(data).hexdigest()


def generate(directory: Path, sizes: Sizes, seed: int) -> Inputs:
    """Write the main wordlist and the append batch under ``directory``."""
    rng = random.Random(seed)
    directory.mkdir(parents=True, exist_ok=True)
    taken = set(VECTOR_DIGESTS)
    generated = _fresh_words(rng, sizes.distinct, taken)
    words = generated + (list(VECTOR_DIGESTS) if sizes.vectors else [])
    lines = words + rng.choices(generated, k=sizes.repeats)
    rng.shuffle(lines)
    wordlist = directory / WORDLIST
    sha = {wordlist.name: _write(wordlist, lines)}

    # overlap, forget and hit words are disjoint slices of one shuffled
    # pool: no forgotten word is expected to carry the batch's source or
    # to answer a lookup
    pool = rng.sample(generated, len(generated))
    half = sizes.batch_lines // 2
    if half + sizes.forget + sizes.queries > len(pool):
        raise ValueError(f"{sizes} asks for more words than it generates")
    new, overlap = _fresh_words(rng, half, taken), pool[:half]
    batch_lines = new + overlap
    rng.shuffle(batch_lines)
    path = directory / "batch.txt"
    sha[path.name] = _write(path, batch_lines)
    start = half
    return Inputs(
        wordlist=wordlist,
        lines=len(lines),
        words=words,
        batch=Batch(path, new, overlap),
        forget=pool[start : start + sizes.forget],
        hits=pool[len(pool) - sizes.queries :],
        absent=_fresh_words(rng, sizes.queries, taken),
        sha256=sha,
    )
