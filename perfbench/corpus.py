"""Seeded text corpus for the ``wordcount_corpus`` workload.

The reference engine counted words over 128 raw text files, each read
eight times.  This module writes such a corpus from a seed: Zipf-
distributed base words, each occurrence decorated with mixed case and
ASCII punctuation, plus a few punctuation-only tokens that normalize to
nothing.  Because every decoration is undone by the engine's normalizer
(strip ``\\p{Punct}``, ASCII lowercase), the exact expected count of
every word is known while the files are written.
"""

from __future__ import annotations

import os
import string

import numpy as np

N_FILES = 128
TOKENS_PER_LINE = 12
ZIPF_S = 1.1
PUNCT = string.punctuation  # the ASCII set Java's \p{Punct} matches
PUNCT_ONLY = ["--", "...", "&", "#", "(?)", "*"]


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase ASCII words, 2 to 10 letters."""
    words: list[str] = []
    seen: set[str] = set()
    letters = np.array(list(string.ascii_lowercase))
    while len(words) < size:
        lens = rng.integers(2, 11, size=size)
        chars = rng.integers(0, 26, size=(size, 10))
        for n, row in zip(lens, chars):
            w = "".join(letters[row[:n]])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return words


def decorate(word: str, case: int, lead: str, trail: str) -> str:
    """One surface form of ``word``: case 0 lower, 1 Capitalized,
    2 UPPER; ``lead``/``trail`` are punctuation (or empty)."""
    if case == 1:
        word = word.capitalize()
    elif case == 2:
        word = word.upper()
    return f"{lead}{word}{trail}"


def generate(seed: int, n_tokens: int, vocab_size: int) -> tuple[list[str], dict[str, int]]:
    """Return (file contents, expected count of each word in ONE read
    of the corpus).  Same seed, same arguments → same output."""
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng, vocab_size)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    idx = rng.choice(vocab_size, size=n_tokens, p=p / p.sum())
    case = rng.choice(3, size=n_tokens, p=[0.7, 0.2, 0.1])
    lead = np.where(rng.random(n_tokens) < 0.05, rng.integers(0, len(PUNCT), n_tokens), -1)
    trail = np.where(rng.random(n_tokens) < 0.15, rng.integers(0, len(PUNCT), n_tokens), -1)
    punct_only = rng.random(n_tokens) < 0.01
    sep_draw = rng.random(n_tokens)

    tokens: list[str] = []
    for i, c, a, b, po in zip(idx.tolist(), case.tolist(), lead.tolist(), trail.tolist(), punct_only.tolist()):
        if po:
            tokens.append(PUNCT_ONLY[i % len(PUNCT_ONLY)])
        else:
            tokens.append(decorate(vocab[i], c, PUNCT[a] if a >= 0 else "", PUNCT[b] if b >= 0 else ""))
    seps = [" " if d < 0.9 else ("  " if d < 0.97 else "\t") for d in sep_draw.tolist()]

    counts = np.bincount(idx[~punct_only], minlength=vocab_size)
    expected = {vocab[i]: int(n) for i, n in enumerate(counts.tolist()) if n}

    bounds = np.linspace(0, n_tokens, N_FILES + 1).astype(int)
    files = []
    for f in range(N_FILES):
        lines = []
        for s in range(bounds[f], bounds[f + 1], TOKENS_PER_LINE):
            e = min(s + TOKENS_PER_LINE, bounds[f + 1])
            parts = []
            for t in range(s, e):
                parts.append(tokens[t])
                if t + 1 < e:
                    parts.append(seps[t])
            lines.append("".join(parts))
        files.append("\n".join(lines) + "\n")
    return files, expected


def write(out_dir: str, files: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, text in enumerate(files):
        with open(os.path.join(out_dir, f"part_{i:03d}.txt"), "w", encoding="ascii") as f:
            f.write(text)


def count_reference(files: list[str]) -> dict[str, int]:
    """Word counts by the reference's own rules, token by token:
    split on ASCII whitespace, strip ASCII punctuation, lowercase,
    drop empties.  Independent of :func:`generate`'s bookkeeping, so
    the tests can check one against the other."""
    table = str.maketrans("", "", PUNCT)
    out: dict[str, int] = {}
    for text in files:
        for tok in text.split():
            w = tok.translate(table).lower()
            if w:
                out[w] = out.get(w, 0) + 1
    return out


def main(argv: list[str] | None = None) -> None:
    import argparse
    import json

    ap = argparse.ArgumentParser(description="write the seeded word-count corpus and its expected counts")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tokens", type=int, required=True)
    ap.add_argument("--vocab", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    files, expected = generate(args.seed, args.tokens, args.vocab)
    write(os.path.join(args.out, "corpus"), files)
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump({"tokens": sum(len(t.split()) for t in files), "counts": expected}, f)


if __name__ == "__main__":
    main()
