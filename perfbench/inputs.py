"""Seeded text corpus for the literal map -> gather -> reduce items.

``write_corpus`` writes a Zipf-vocabulary corpus, one file per map task,
and computes the expected reduce outputs (file count, per-file and total
word counts) itself, independently of the engine. The same seed always
gives byte-identical files. The corpus size is ``corpus`` in
workloads.json.

The query items read the engine's own sf0.01 fixture tables, kept under
``fixtures/``; nothing here generates tables.

Usage::

    python3 perfbench/inputs.py --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np


def write_corpus(
    out: str, seed: int, n_files: int, words_per_file: int, vocab: int = 5000, zipf_s: float = 1.1
) -> dict:
    """Write ``n_files`` text files of Zipf-distributed words and return
    the expected reduce outputs: file count, bytes, word count per file
    stem and in total. File lengths vary +-50% around
    ``words_per_file``; lines hold 12 words."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    weights = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    weights /= weights.sum()
    words = np.array([f"w{r:04d}" for r in range(vocab)])
    per_file: dict[str, int] = {}
    total_bytes = 0
    for i in range(n_files):
        n = int(rng.integers(words_per_file // 2, words_per_file * 3 // 2 + 1))
        ws = words[rng.choice(vocab, n, p=weights)]
        lines = [" ".join(ws[j : j + 12]) for j in range(0, n, 12)]
        data = ("\n".join(lines) + "\n").encode()
        stem = f"part-{i:04d}"
        with open(os.path.join(out, f"{stem}.txt"), "wb") as f:
            f.write(data)
        per_file[stem] = n
        total_bytes += len(data)
    return {
        "files": n_files,
        "bytes": total_bytes,
        "total_words": sum(per_file.values()),
        "words_per_file": per_file,
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as f:
        size = json.load(f)["corpus"]
    corpus = write_corpus(args.out, args.seed, size["files"], size["words_per_file"])
    corpus.pop("words_per_file")
    print(json.dumps(corpus))


if __name__ == "__main__":
    main()
