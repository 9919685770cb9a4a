"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Mirrors the north-rule input table:
``corpus(repo string, path string, commit string, lang string, content string)``.
Pure function of (seed, n_docs): same call → byte-identical parquet, so
per-partition index builds are idempotent and sha256 row invariants hold.

Vocabulary is Zipf-skewed (~50k identifiers) so high-DF terms (``def``,
``import``, ``return``, ``the``) exist to exercise salting; a fixed set of
rare "marker" terms is planted in known docs for exact-hit tests.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

SEED = 42
VOCAB_SIZE = 50_000
KEYWORDS = [
    "def", "import", "return", "the", "class", "if", "else", "for", "while",
    "int", "string", "public", "void", "func", "var", "let", "const", "self",
]
LANGS = ["python", "java", "scala", "go", "js", "c"]
LANG_WEIGHTS = [0.35, 0.2, 0.1, 0.12, 0.18, 0.05]
EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go", "js": "js", "c": "c"}
MARKERS = [f"zzmarker{i:03d}" for i in range(20)]


def _vocab() -> list[str]:
    v = list(KEYWORDS)
    i = 0
    while len(v) < VOCAB_SIZE:
        v.append(f"ident{i:05x}")
        i += 1
    return v


def make_corpus(n_docs: int, seed: int = SEED) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab())
    # Zipf(s≈1.1) over ranks 1..V — heavy head on keywords
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    probs = ranks ** -1.1
    probs /= probs.sum()
    lens = rng.integers(20, 2001, size=n_docs)
    total = int(lens.sum())
    tok_idx = rng.choice(VOCAB_SIZE, size=total, p=probs)
    toks = vocab[tok_idx]
    offsets = np.concatenate([[0], np.cumsum(lens)])
    contents = [" ".join(toks[offsets[i] : offsets[i + 1]]) for i in range(n_docs)]
    # plant rare markers: marker j lives in docs {j, j+n//2} (if in range)
    for j, m in enumerate(MARKERS):
        for d in (j, j + n_docs // 2):
            if 0 <= d < n_docs:
                contents[d] = contents[d] + " " + m
    i = np.arange(n_docs)
    lang = rng.choice(LANGS, size=n_docs, p=LANG_WEIGHTS)
    df = pd.DataFrame(
        {
            "repo": [f"org{k % 97}/repo{k % 31}" for k in i],
            "path": [
                f"src/dir{k % 13}/file{k:06d}.{EXT[lg]}" for k, lg in zip(i, lang)
            ],
            "commit": [
                hashlib.sha1(f"{seed}:{k}".encode()).hexdigest() for k in i
            ],
            "lang": lang,
            "content": contents,
        }
    )
    return df


def write_corpus_parquet(path: str, n_docs: int, seed: int = SEED) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = make_corpus(n_docs, seed)
    # small row groups so Spark gets real input splits even from one file
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=2048
    )
    return path
