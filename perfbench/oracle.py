"""Reference answers and failure accounting.

``LiveCorpus`` is an independent driver-side BM25 over the tokenized
live corpus (textbook BM25, the formula pinned in
``operators/bm25.py``): no segments, no term dictionary, no Spark. It
answers every query the benchmark sends, so each served result is
checked. The benchmark's tests check it against the project's pinned
DataFrame oracle, ``operators.bm25.bm25_topk_oracle``, which is too
slow (seconds per query) to answer every query inside a run.

``Ledger`` counts operations attempted and failed: an operation fails
when it raises, times out, or returns a result that differs from the
reference.
"""

from __future__ import annotations

import math
import statistics
import time
import traceback
from collections import Counter, defaultdict

from open_source_search_engine_spark.config import EngineConfig

SCORE_DP = 5
# one unit in the last rounded place: Spark rounds half-up, Python
# half-even, so a score sitting on a rounding boundary may differ by it
SCORE_TOL = 1.01 * 10 ** -SCORE_DP


def canonical(rows) -> list[tuple[int, float]]:
    """``(doc_id, round(score, 5))`` in ``(score desc, doc_id asc)`` order."""
    out = [(int(d), round(float(s), SCORE_DP)) for d, s in rows]
    return sorted(out, key=lambda r: (-r[1], r[0]))


def same_topk(got, want) -> bool:
    g, w = canonical(got), canonical(want)
    return len(g) == len(w) and all(
        gd == wd and abs(gs - ws) <= SCORE_TOL for (gd, gs), (wd, ws) in zip(g, w)
    )


class LiveCorpus:
    """Tokenized live documents with exact BM25 statistics."""

    def __init__(self, cfg: EngineConfig):
        self.cfg = cfg
        self.tokens: dict[int, list[str]] = {}
        self._postings: dict[str, dict[int, int]] | None = None

    def upsert(self, doc_ids, token_lists) -> None:
        for d, toks in zip(doc_ids, token_lists):
            self.tokens[int(d)] = list(toks)
        self._postings = None

    def delete(self, doc_ids) -> None:
        for d in doc_ids:
            self.tokens.pop(int(d), None)
        self._postings = None

    @property
    def postings(self) -> dict[str, dict[int, int]]:
        if self._postings is None:
            post: dict[str, dict[int, int]] = defaultdict(dict)
            for d, toks in self.tokens.items():
                for t, tf in Counter(toks).items():
                    post[t][d] = tf
            self._postings = dict(post)
        return self._postings

    def topk(
        self, terms: list[str], k: int = 10, mode: str = "and",
        exclude: list[str] = (),
    ) -> list[tuple[int, float]]:
        terms = sorted(set(terms))
        post = self.postings
        n = float(len(self.tokens))
        avgdl = sum(len(t) for t in self.tokens.values()) / n
        k1, b = self.cfg.k1, self.cfg.b
        lists = [post.get(t, {}) for t in terms]
        if mode == "and":
            if not all(lists):
                return []
            docs = set.intersection(*(set(p) for p in lists))
        else:
            docs = set().union(*lists)
        for t in exclude:
            docs -= set(post.get(t, {}))
        scores = {}
        for d in docs:
            dl = len(self.tokens[d])
            s = 0.0
            for p in lists:
                tf = p.get(d)
                if tf:
                    df = len(p)
                    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
                    s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            scores[d] = s
        best = sorted(scores.items(), key=lambda r: (-r[1], r[0]))[:k]
        return [(d, round(s, SCORE_DP)) for d, s in best]

    def matches(self, terms: list[str], mode: str) -> set[int]:
        """Live docs that satisfy the query, whatever their score."""
        sets = [set(self.postings.get(t, {})) for t in set(terms)]
        return set.intersection(*sets) if mode == "and" else set().union(*sets)

    def phrase(self, words: list[str]) -> set[int]:
        n = len(words)
        return {
            d
            for d, toks in self.tokens.items()
            if any(toks[i : i + n] == words for i in range(len(toks) - n + 1))
        }


class Ledger:
    """Operations attempted and failed, and the latency of each kind."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latency_s: dict[str, list[float]] = defaultdict(list)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.failures) < 20:
            self.failures.append(what)

    def run(self, kind: str, call, check=None, detail: str = ""):
        """Time ``call()``; count it failed if it raises or ``check``
        rejects its result. The check runs outside the timed region.
        Returns the result, or None on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = call()
        except Exception:  # the op boundary: record and keep serving
            self.fail(f"{kind} {detail} raised: {traceback.format_exc(limit=3)}")
            return None
        self.latency_s[kind].append(time.perf_counter() - t0)
        if check is not None and not check(out):
            self.fail(f"{kind} {detail}: wrong result")
            return None
        return out

    def p50_ms(self, kind: str) -> float | None:
        """None when no call of this kind returned (they all raised)."""
        xs = self.latency_s[kind]
        return 1e3 * statistics.median(xs) if xs else None

    def pct_ms(self, kind: str, q: int) -> float | None:
        xs = self.latency_s[kind]
        if len(xs) < 2:
            return self.p50_ms(kind)
        return 1e3 * statistics.quantiles(xs, n=100)[q - 1]
