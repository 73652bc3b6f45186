"""Seeded, deterministic input generator for the benchmark workloads.

Each workload reads one ``documents`` table with the schema of the
engine's testdata (doc_id, text, lang, source, n_chars).  Everything is
drawn from ``numpy.random.default_rng([seed, workload, version])``, so
the same seed always writes byte-identical parquet and the program under
test only ever sees the generated files.

The text follows the shape of the engine's ``sf0.1`` testdata
``documents`` table (5 000 rows), measured once and fixed here because a
benchmark run may read nothing outside its own checkout:

- a document has 10-99 tokens, uniformly (measured: min 10, quartiles
  32 / 54 / 76, max 99 before the marker below);
- tokens are drawn uniformly from 30 distinct words whose letter counts
  match the measured vocabulary's (1, five of 3, nine of 4, nine of 5,
  five of 6, and 8; 4.5 letters a word on average);
- 5 % of the documents are near-duplicate copies: the text of a
  uniformly chosen original plus one marker token, ``dup`` (measured:
  250 of 5 000, 225 of them exactly that edit and 3-shingle Jaccard
  >= 0.9 to their original; two copies of one original are exact
  duplicates of each other, 8 such pairs measured);
- ``lang`` is en / zh / es / fr / de with the measured shares 41 / 15 /
  15 / 15 / 14 %, ``source`` is ``src<doc_id mod 20>`` and ``n_chars``
  is the text's length, as measured.

``pagerank_wiki``'s seed picks N in [4900, 5100].  The wiki link graph is
pure ``doc_id mod N`` arithmetic (``sources.wikicorpus``), so N reshapes
the graph while the work stays within a narrow band.  ``index_wiki`` has
the testdata's 5 000 documents.

Inputs are cached under ``<cache>/inputs/<GENERATOR_VERSION>/...``; bump
the version whenever the output of this module changes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = "g5"
WORKLOADS = ("pagerank_wiki", "index_wiki")
N_FILES = 8  # fixed, so the scan splits the same on any core count

WORD_LENGTHS = (1,) + (3,) * 5 + (4,) * 9 + (5,) * 9 + (6,) * 5 + (8,)
MIN_TOKENS, MAX_TOKENS = 10, 99
DUP_SHARE = 0.05
DUP_MARKER = "dup"
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARES = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
INDEX_DOCS = 5_000

_CONSONANTS = "bcfghjklmnprstvwz"
_VOWELS = "aeiou"


def vocabulary() -> list[str]:
    """30 distinct letters-only words with the lengths ``WORD_LENGTHS``."""
    words = []
    for k, n in enumerate(WORD_LENGTHS):
        # letters alternate consonant / vowel; the word's index picks the
        # first two letters, so words of equal length differ
        letters = [_CONSONANTS[k % len(_CONSONANTS)], _VOWELS[k % len(_VOWELS)]]
        while len(letters) < n:
            i = len(letters)
            pool = _CONSONANTS if i % 2 == 0 else _VOWELS
            letters.append(pool[(k * 7 + i * 3) % len(pool)])
        words.append("".join(letters[:n]))
    assert len(set(words)) == len(words) and DUP_MARKER not in words
    return words


def n_docs(workload: str, seed: int) -> int:
    if workload == "pagerank_wiki":
        return 4900 + seed % 201
    if workload == "index_wiki":
        return INDEX_DOCS
    raise ValueError(f"unknown workload {workload!r}")


def texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` document texts: originals plus ``DUP_SHARE`` near-duplicate
    copies at random positions."""
    words = np.array(vocabulary())
    is_copy = np.zeros(n, dtype=bool)
    is_copy[rng.choice(n, size=round(n * DUP_SHARE), replace=False)] = True
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    flat = rng.integers(0, len(words), size=int(lengths.sum()))
    out = [" ".join(w) for w in np.split(words[flat], np.cumsum(lengths)[:-1])]
    originals = np.flatnonzero(~is_copy)
    for i in np.flatnonzero(is_copy):
        out[i] = out[int(rng.choice(originals))] + " " + DUP_MARKER
    return out


def documents(workload: str, seed: int) -> pa.Table:
    """The workload's ``documents`` table for ``seed``."""
    n = n_docs(workload, seed)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload), 1])
    text = texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(text, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_SHARES)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def write_documents(table: pa.Table, out_dir: str) -> None:
    """Write ``table`` as ``N_FILES`` parquet parts under ``out_dir``."""
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(
            part, os.path.join(out_dir, f"part-{i:05d}.parquet"), compression="snappy"
        )


def input_dir(cache_dir: str, workload: str, seed: int) -> str:
    """Directory holding ``documents.parquet/`` for (workload, seed),
    generating it on first use.  The directory appears atomically, so an
    interrupted generation never leaves a partial input behind."""
    final = os.path.join(
        cache_dir, "inputs", GENERATOR_VERSION, workload, f"seed-{seed}"
    )
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_documents(documents(workload, seed), os.path.join(tmp, "documents.parquet"))
    os.rename(tmp, final)
    return final
