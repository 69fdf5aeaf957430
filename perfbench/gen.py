"""Seeded input generator for the benchmark.

Three kinds of input, all pure functions of their seed:

- the fixture (the catalog's ``documents`` table) at a fixed seed, so the
  result fingerprints kept in ``fingerprints.json`` apply to every run;
- the word-count corpus and its expected ``"%s, %d\\n"`` output, from the
  run's ``--seed``;
- the query order of each serving request, from the run's ``--seed``.

The program under test only ever receives the generated files. The
benchmark writes them in a child process,

    python3 perfbench/gen.py --workload mr-wordcount --seed 1 --out DIR

so that the generator's memory does not count in the driver's peak RSS.
"""

from __future__ import annotations

import argparse
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240101

# The benchmark's queries and stores read only the ``documents`` table of
# the engine's catalog; it is generated with the same schema and the same
# shape as the engine's test fixture (500 token-soup documents over a
# 30-word vocabulary, with planted near-duplicates).
FIXTURE_TABLES = ("documents",)
DOCUMENTS = 500
DUP_SHARE = 0.05
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.39, 0.16, 0.16, 0.15]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def documents(seed: int = FIXTURE_SEED) -> pa.Table:
    """The ``documents`` table (deterministic in ``seed``)."""
    rng = np.random.default_rng(seed)
    n = DOCUMENTS
    texts = [
        " ".join(DOC_VOCAB[w] for w in rng.integers(0, len(DOC_VOCAB), k))
        for k in rng.integers(10, 100, n)
    ]
    # Near-duplicates: a copy of another document plus one marker token.
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_fixture(out_dir: str, seed: int = FIXTURE_SEED) -> dict[str, int]:
    """Write the fixture as ``<out_dir>/<table>.parquet``; returns bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(documents(seed), path, compression="snappy")
    return {"documents": os.path.getsize(path)}


# ------------------------------------------------------ word-count corpus --

_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_JOINERS = (" ", " ", " ", " ", " ", ", ", ". ", "-", "'", "; ", " (", ") ")
_BLOCK = 1 << 18  # tokens drawn per block

# The word-count corpus of the timed job and the small one of the warm-up
# job. At 64 MB the data-proportional work (reading, tokenizing, combining,
# shuffling) is about a fifth of a 32-partition job on 4 cores; the rest is
# a fixed cost per task.
CORPUS_BYTES = 64_000_000
WARM_CORPUS_BYTES = 100_000


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    """Distinct ``[A-Za-z0-9]+`` tokens: mostly lowercase words, some
    capitalised or upper-case variants (counted separately, the tokenizer is
    case-sensitive) and some all-digit tokens."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        r = rng.random()
        if r < 0.05:
            w = str(rng.randrange(0, 10 ** rng.randint(1, 4)))
        else:
            w = "".join(rng.choice(_ALNUM[:26]) for _ in range(rng.randint(1, 10)))
            if r < 0.15:
                w = w.capitalize()
            elif r < 0.18:
                w = w.upper()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def write_corpus(path: str, seed: int, target_bytes: int, vocab: int = 20000) -> dict:
    """Write a Zipf-distributed text corpus of about ``target_bytes`` and
    return its size and expected word-count output.

    Tokens are separated by spaces and by the separators the tokenizer
    contract treats as delimiters (punctuation, hyphens, apostrophes), so
    the expected counts are simply the counts of the drawn tokens. Tokens
    are drawn in blocks by bisecting cumulative weights (a weighted draw
    that re-accumulates its weights per call takes minutes for tens of
    MB); the last block is cut at the first line end past the target."""
    words = _vocabulary(random.Random(seed), vocab)
    rng = np.random.default_rng(seed)
    word_arr = np.array(words, dtype=object)
    word_len = np.array([len(w) for w in words])
    joiners = np.array(_JOINERS, dtype=object)
    joiner_len = np.array([len(j) for j in _JOINERS])
    cum = np.cumsum(1.0 / np.arange(1, vocab + 1))
    counts = np.zeros(vocab, np.int64)
    written = 0
    with open(path, "w", encoding="ascii", newline="\n") as f:
        while written < target_bytes:
            tok = np.searchsorted(cum, rng.random(_BLOCK) * cum[-1], side="right")
            sep_idx = rng.integers(0, len(_JOINERS), _BLOCK)
            # Line ends: the last token of each 4-20 token line.
            ends = np.cumsum(rng.integers(4, 21, _BLOCK // 4)) - 1
            ends = ends[ends < _BLOCK]
            sep, sep_len = joiners[sep_idx], joiner_len[sep_idx]
            sep[ends], sep_len[ends] = "\n", 1
            n = int(ends[-1]) + 1
            size = np.cumsum(word_len[tok[:n]] + sep_len[:n])
            if size[-1] > target_bytes - written:
                n = int(ends[np.searchsorted(size[ends], target_bytes - written)]) + 1
            text = np.empty(2 * n, dtype=object)
            text[0::2], text[1::2] = word_arr[tok[:n]], sep[:n]
            f.write("".join(text))
            written += int(size[n - 1])
            counts += np.bincount(tok[:n], minlength=vocab)
    expected = "".join(f"{words[i]}, {counts[i]}\n" for i in sorted(range(vocab), key=words.__getitem__) if counts[i])
    return {"bytes": written, "expected": expected}


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write one workload's input files under ``out_dir``; returns their
    sizes. The word-count corpora come with their expected outputs."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "artifact-store":
        return {"fixture_bytes": write_fixture(os.path.join(out_dir, "fixture"))}
    info = {}
    for name, corpus_seed, size in (("corpus", seed, CORPUS_BYTES), ("warm", seed + 1, WARM_CORPUS_BYTES)):
        corpus = write_corpus(os.path.join(out_dir, f"{name}.txt"), corpus_seed, size)
        with open(os.path.join(out_dir, f"{name}-expected.txt"), "w") as f:
            f.write(corpus["expected"])
        info[f"{name}_bytes"] = corpus["bytes"]
    return info


def query_orders(names: list[str], seed: int, n: int) -> list[list[str]]:
    """``n`` seeded shuffles of ``names``: the query order of each serving
    request of one load."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Write one workload's inputs; print their sizes as JSON.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    print(json.dumps(write_inputs(args.workload, args.seed, args.out)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
