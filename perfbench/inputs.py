"""Seeded inputs: the corpus, pushed batches and request streams.

Everything here is a pure function of its seed, so one seed always gives
the same documents and the same requests. The generator lives in the
benchmark, not in the engine, so a change to the engine's own fixtures
cannot change what the benchmark measures.
"""

from __future__ import annotations

import numpy as np

KEYWORDS = [
    "def", "import", "return", "the", "class", "if", "else", "for", "while",
    "int", "string", "public", "void", "func", "var", "let", "const", "self",
]
VOCAB_SIZE = 20_000
ZIPF_S = 1.1
LANGS = ["python", "java", "scala", "go", "js", "c"]
LANG_WEIGHTS = [0.35, 0.2, 0.1, 0.12, 0.18, 0.05]
DOC_TOKENS = (20, 1000)  # inclusive-exclusive range of tokens per document
QUERY_RANK_CAP = 4_000  # query terms come from the head of the vocabulary
AND_RANK_CAP = 200  # conjunctions use common terms so that they match
SIZE = 10  # hits per request

# request kinds of the read mix, in equal shares: there is no traffic log
# to weight them by
READ_KINDS = ("match_or", "match_and", "bool", "dis_max", "rrf", "match_agg")
FIELD = "content"


def vocabulary() -> np.ndarray:
    words = list(KEYWORDS)
    words += [f"tok{i:05x}" for i in range(VOCAB_SIZE - len(words))]
    return np.array(words)


def _zipf(n: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    return p / p.sum()


def make_docs(n: int, rng: np.random.Generator, prefix: str, marker: str | None = None) -> list[dict]:
    """``n`` documents with a Zipf-skewed vocabulary. ``prefix`` keeps
    paths (and so docids) of different batches apart; ``marker`` is
    appended to every document of a pushed batch so one search finds
    exactly that batch."""
    vocab = vocabulary()
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1], size=n)
    toks = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=_zipf(len(vocab)))]
    ends = np.cumsum(lens)
    langs = rng.choice(LANGS, size=n, p=LANG_WEIGHTS)
    docs = []
    for i in range(n):
        text = " ".join(toks[ends[i] - lens[i] : ends[i]])
        if marker:
            text += " " + marker
        docs.append(
            {
                "repo": f"org{i % 53}/repo{i % 17}",
                "path": f"{prefix}/dir{i % 11}/file{i:06d}.src",
                "commit": f"{prefix}-{i:06d}",
                "lang": str(langs[i]),
                "content": text,
            }
        )
    return docs


class RequestGen:
    """Seeded search-request bodies (the JSON the HTTP API accepts).

    Term counts cycle through their range and term ranks are drawn by
    stratified sampling of the Zipf law (draw i falls in quantile stratum
    i mod STRATA). Seeds then differ in which terms they ask for, not in
    how many or how common, so the work per run hardly moves with the seed.
    """

    STRATA = 8

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = vocabulary()
        self.cdf_query = np.cumsum(_zipf(QUERY_RANK_CAP))
        self.cdf_and = np.cumsum(_zipf(AND_RANK_CAP))
        self._draws = 0
        self._counts = 0

    def _rank(self, cdf: np.ndarray) -> int:
        u = (self._draws % self.STRATA + self.rng.random()) / self.STRATA
        self._draws += 1
        return min(int(np.searchsorted(cdf, u)), len(cdf) - 1)

    def _terms(self, lo: int, hi: int, common: bool = False) -> str:
        k = lo + self._counts % (hi - lo + 1)
        self._counts += 1
        cdf = self.cdf_and if common else self.cdf_query
        ranks: list[int] = []
        while len(ranks) < k:
            r = self._rank(cdf)
            if r not in ranks:
                ranks.append(r)
        return " ".join(self.vocab[ranks])

    def _match(self, lo=1, hi=2, operator="or", common=False) -> dict:
        q = self._terms(lo, hi, common)
        if operator == "or":
            return {"match": {FIELD: q}}
        return {"match": {FIELD: {"query": q, "operator": operator}}}

    def request(self, kind: str) -> dict:
        if kind == "match_or":
            return {"query": self._match(2, 4), "size": SIZE}
        if kind == "match_and":
            return {"query": self._match(2, 2, "and", common=True), "size": SIZE}
        if kind == "bool":
            return {
                "query": {"bool": {"must": [self._match(1, 1, common=True)],
                                   "should": [self._match(1, 2), self._match(1, 2)]}},
                "size": SIZE,
            }
        if kind == "dis_max":
            tie = float(self.rng.choice([0.0, 0.3]))
            return {
                "query": {"dis_max": {"queries": [self._match(1, 2), self._match(1, 2)],
                                      "tie_breaker": tie}},
                "size": SIZE,
            }
        if kind == "rrf":
            return {"query": {"rrf": {"retrieve": [self._match(1, 2), self._match(2, 3)]}},
                    "size": SIZE}
        if kind == "match_agg":
            return {"query": self._match(2, 3), "size": SIZE,
                    "aggs": {"by_lang": {"term": {"field": "lang", "size": len(LANGS)}}}}
        if kind == "filtered":
            lang = str(self.rng.choice(LANGS, p=LANG_WEIGHTS))
            return {"query": self._match(2, 3), "filters": {"term": {"lang": lang}},
                    "size": SIZE}
        raise ValueError(f"unknown request kind {kind!r}")

    def mix(self, n: int) -> list[tuple[str, dict]]:
        """``n`` requests, READ_KINDS in equal shares as far as ``n``
        allows, in seeded order. They are drawn kind by kind, and the j-th
        of a kind's m requests starts at stratum j * STRATA // m, so on
        every seed each kind gets the same term counts and the same strata
        of term ranks: seeds differ in which terms a kind asks for, not in
        how many or how common."""
        kinds = [READ_KINDS[i % len(READ_KINDS)] for i in range(n)]
        reqs = []
        for kind in READ_KINDS:
            m = kinds.count(kind)
            for j in range(m):
                self._draws = j * self.STRATA // m
                reqs.append((kind, self.request(kind)))
        return [reqs[i] for i in self.rng.permutation(n)]
