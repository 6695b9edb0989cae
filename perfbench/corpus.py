"""Seeded word-count corpus and its answer key.

One seed yields, byte for byte:

* ``shards/part-NNNNN.txt`` - the corpus as M text shards, one document
  per line (the reference job's input container);
* ``documents.parquet`` - the same lines as ``documents(doc_id, text)``
  in one file with ``ROW_GROUPS`` row groups, so the declarative scan
  splits across cores instead of collapsing onto one task;
* ``answer.tsv`` - word -> count under the reference tokenizer (lower,
  ``string.punctuation`` -> space, split on ``' '``, drop empties).

Each document is a single line, so the Catalyst tokenizer (which splits
the whole cell on ``' '``) and the reference mapper (which tokenizes
line by line) see identical tokens and must agree on every count.

The vocabulary is Zipf-ranked over ``VOCAB`` random words with a long
tail (well over 10^5 distinct keys survive the map-side combine), and
tokens carry mixed case and punctuation from ``string.punctuation`` so
the tokenizer does real work.
"""

from __future__ import annotations

import json
import os
import shutil
import string
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FORMAT_VERSION = 1
CORPUS_BYTES = 8 * 1024 * 1024  # text bytes, before the final partial line
SHARDS = 16  # M: shard files the reference job reads
REDUCERS = 8  # R: reduce partitions and output files of the reference job
ROW_GROUPS = 32  # >= 2 x cores up to 16 cores
VOCAB = 400_000
ZIPF_S = 1.0
ZIPF_Q = 2.7  # Zipf-Mandelbrot offset: flattens the head like real text
LINE_TOKENS = (40, 400)  # tokens per document line, uniform

_PUNCT_TABLE = str.maketrans(string.punctuation, " " * len(string.punctuation))

# Surface forms a base word takes, with their share of occurrences.  Some
# forms add a token (``'s`` -> ``s``), and the bare punctuation runs
# tokenize to nothing, exercising the reference's skip-empty rule.
_FORMS: tuple[tuple[str, float], ...] = (
    ("{w}", 0.55),
    ("{c}", 0.14),
    ("{u}", 0.03),
    ("{w},", 0.08),
    ("{w}.", 0.06),
    ("({w})", 0.02),
    ('"{c}"', 0.02),
    ("{w}'s", 0.03),
    ("{w}-{w}", 0.01),
    ("{c};", 0.02),
    ("#{u}!", 0.01),
    ("{w} --", 0.02),
    ("{w}:{w}", 0.01),
)


def reference_tokens(line: str) -> list[str]:
    """The reference mapper's tokenizer for one line."""
    line = line.strip().lower().translate(_PUNCT_TABLE)
    return [w for w in line.split(" ") if w]


def count_words(lines) -> Counter:
    counts: Counter = Counter()
    for line in lines:
        counts.update(reference_tokens(line))
    return counts


def _vocabulary(rng: np.random.Generator) -> list[str]:
    lengths = np.clip(rng.geometric(0.18, size=VOCAB * 2), 2, 14)
    letters = rng.integers(ord("a"), ord("z") + 1, size=int(lengths.sum()), dtype=np.uint8)
    buf = letters.tobytes().decode("ascii")
    ends = np.cumsum(lengths)
    starts = ends - lengths
    words = dict.fromkeys(buf[s:e] for s, e in zip(starts.tolist(), ends.tolist()))
    vocab = list(words)[:VOCAB]
    if len(vocab) < VOCAB:
        raise RuntimeError("vocabulary draw produced too few distinct words")
    # Frequent words are short, as in natural text (rank order = length).
    vocab.sort(key=len)
    return vocab


def generate_lines(seed: int, corpus_bytes: int = CORPUS_BYTES) -> list[str]:
    """The corpus as document lines; deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng), dtype=object)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = 1.0 / (ranks + ZIPF_Q) ** ZIPF_S
    p /= p.sum()

    # Tokens average well over 5 bytes with their separator; draw
    # enough and cut at the byte budget below.
    n = corpus_bytes // 5
    base = rng.choice(VOCAB, size=n, p=p)
    form_p = np.array([f[1] for f in _FORMS])
    form = rng.choice(len(_FORMS), size=n, p=form_p / form_p.sum())
    out = np.empty(n, dtype=object)
    for i, (pattern, _) in enumerate(_FORMS):
        sel = np.flatnonzero(form == i)
        if pattern == "{w}":
            out[sel] = vocab[base[sel]]
            continue
        used, inverse = np.unique(base[sel], return_inverse=True)
        surface = np.array(
            [pattern.format(w=w, c=w.capitalize(), u=w.upper()) for w in vocab[used]],
            dtype=object,
        )
        out[sel] = surface[inverse]

    lines: list[str] = []
    size = 0
    pos = 0
    lo, hi = LINE_TOKENS
    lens = rng.integers(lo, hi + 1, size=n // lo + 1)
    for k in lens.tolist():
        if pos + k > n or size >= corpus_bytes:
            break
        line = " ".join(out[pos:pos + k])
        lines.append(line)
        size += len(line) + 1
        pos += k
    return lines


def _write(lines: list[str], dest: str) -> dict:
    shard_dir = os.path.join(dest, "shards")
    os.makedirs(shard_dir)
    per = -(-len(lines) // SHARDS)
    for s in range(SHARDS):
        with open(os.path.join(shard_dir, f"part-{s:05d}.txt"), "w", encoding="ascii", newline="\n") as f:
            for line in lines[s * per:(s + 1) * per]:
                f.write(line)
                f.write("\n")

    table = pa.table(
        {
            "doc_id": [f"doc_{i:07d}.txt" for i in range(len(lines))],
            "text": lines,
        }
    )
    bounds = np.linspace(0, len(lines), ROW_GROUPS + 1).astype(int)
    with pq.ParquetWriter(os.path.join(dest, "documents.parquet"), table.schema, compression="snappy") as w:
        for a, b in zip(bounds[:-1], bounds[1:]):
            w.write_table(table.slice(a, b - a))

    counts = count_words(lines)
    with open(os.path.join(dest, "answer.tsv"), "w", encoding="ascii", newline="\n") as f:
        for word in sorted(counts):
            f.write(f"{word}\t{counts[word]}\n")
    return {
        "lines": len(lines),
        "text_bytes": sum(len(x) + 1 for x in lines),
        "tokens": sum(counts.values()),
        "distinct": len(counts),
        "shards": SHARDS,
        "reducers": REDUCERS,
        "row_groups": pq.ParquetFile(os.path.join(dest, "documents.parquet")).num_row_groups,
    }


def ensure_corpus(root: str, seed: int, corpus_bytes: int = CORPUS_BYTES) -> str:
    """Generate the corpus for ``seed`` under ``root`` unless it is
    already there; return its directory.  Publication is an atomic
    rename, so an interrupted generation is never mistaken for a cache
    hit."""
    dest = os.path.join(root, f"corpus_v{FORMAT_VERSION}_{corpus_bytes}_seed{seed}")
    if os.path.isfile(os.path.join(dest, "meta.json")):
        return dest
    os.makedirs(root, exist_ok=True)
    stage = dest + f".stage{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    try:
        meta = _write(generate_lines(seed, corpus_bytes), stage)
        meta["seed"] = seed
        with open(os.path.join(stage, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(stage, dest)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return dest


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def read_answer(path: str) -> dict[str, int]:
    answer: dict[str, int] = {}
    with open(os.path.join(path, "answer.tsv"), encoding="ascii") as f:
        for line in f:
            word, _, count = line.rstrip("\n").partition("\t")
            answer[word] = int(count)
    return answer
