"""Seeded load generator: corpus, tokenized vocabulary and query mix.

The workload seed is the only source of randomness. The corpus comes
from ``fixtures.gen_corpus.gen_corpus(n, seed)`` unchanged; query terms
are drawn from the corpus's *post-tokenization* vocabulary (the code
tokenizer splits ``dup_guard`` into ``dup`` and ``guard``), ranked by
document frequency and sampled with Zipf(1.1) weights, the term
distribution ``FIXTURES.md`` gives the corpus, so terms and buckets
repeat. The query shapes are those of ``bench.py``'s pinned set. This is
a fixed synthetic mix, not a model of a real query log.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from open_source_search_engine_spark.functions.tokenizer import _code_tokenize_series

HEAD_TERM = "dup"  # from gen_corpus's dup_guard: ~50% of docs, longest lists
# The query mix cycles through fixed classes, so every run (every seed)
# has the same term-count, AND/OR and head-term shares; only the Zipf
# terms vary. A random mix let the AND share swing 0.3-0.7 between seeds,
# and OR queries cost more, so the median moved with the seed.
# The classes are the shapes of bench.py's PINNED_QUERIES,
# in its order: 1-3 terms, 3 of 5 AND, the head term in 2 of 5.
# (term count, mode, contains the head term)
QUERY_CLASSES = [
    (2, "and", False), (2, "or", True), (1, "and", False), (2, "and", False),
    (3, "or", True),
]
ZIPF_S = 1.1


def tokenize(content: pd.Series) -> pd.Series:
    """Token lists per doc, exactly as the engine's ``code`` mode sees them."""
    return _code_tokenize_series(content.reset_index(drop=True), lowercase=True)


@dataclass
class QueryGen:
    """Zipf query stream over a corpus's tokenized vocabulary."""

    vocab: list[str]
    rng: np.random.Generator
    mix: Counter = field(default_factory=Counter)
    _p: np.ndarray = field(init=False, repr=False)
    _next: int = 0

    def __post_init__(self) -> None:
        w = np.arange(1, len(self.vocab) + 1, dtype=np.float64) ** -ZIPF_S
        self._p = w / w.sum()

    @classmethod
    def for_corpus(cls, tokens: pd.Series, rng: np.random.Generator) -> "QueryGen":
        df = Counter(t for toks in tokens for t in set(toks))
        # rank by df desc, term asc: deterministic for a given corpus
        vocab = [t for t, _n in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))]
        return cls(vocab, rng)

    def _zipf_term(self) -> str:
        return self.vocab[int(self.rng.choice(len(self.vocab), p=self._p))]

    def terms(self, n: int, head: bool = False) -> list[str]:
        out: list[str] = [HEAD_TERM] if head else []
        while len(out) < n:
            t = self._zipf_term()
            if t not in out:
                out.append(t)
        self.mix[f"terms_{n}"] += 1
        self.mix["head"] += head
        return out

    def query(self) -> tuple[list[str], str]:
        n, mode, head = QUERY_CLASSES[self._next % len(QUERY_CLASSES)]
        self._next += 1
        self.mix[mode] += 1
        return self.terms(n, head), mode

    def qlang(self) -> tuple[str, list[str], list[str]]:
        """``a b -c``: required terms (default AND) plus one excluded term."""
        req = self.terms(2)
        excl = next(t for t in iter(self._zipf_term, None) if t not in req)
        self.mix["qlang"] += 1
        return " ".join(req) + f" -{excl}", req, [excl]

    def phrase(self, tokens: pd.Series) -> list[str]:
        """Two adjacent tokens of a random doc: a phrase that exists."""
        while True:
            toks = tokens.iloc[int(self.rng.integers(len(tokens)))]
            if len(toks) >= 2:
                i = int(self.rng.integers(len(toks) - 1))
                self.mix["phrase"] += 1
                return [toks[i], toks[i + 1]]

    def summary(self) -> dict:
        n = self.mix["and"] + self.mix["or"]
        return {
            "queries": n,
            "and_share": self.mix["and"] / n if n else 0.0,
            "head_share": self.mix["head"] / max(1, sum(
                v for k, v in self.mix.items() if k.startswith("terms_")
            )),
            "term_counts": {k: v for k, v in sorted(self.mix.items()) if k.startswith("terms_")},
            "phrases": self.mix["phrase"],
            "qlang": self.mix["qlang"],
        }
