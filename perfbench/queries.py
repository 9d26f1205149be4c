"""Seeded query stream for the ``search-mixed`` workload.

Five fixed classes; the words mirror the synthetic corpus vocabulary
(``sources.corpus``) so each class has hits:

* rare identifiers — terms with df <= 2 in the built index;
* camelCase forms that only the ``identifier`` sub-analyzer splits;
* folded non-ASCII words (``Köln``);
* stop-heavy queries (``the if return``, the block-max WAND stress case);
* 2-3-word phrases cut from indexed documents.
"""

from __future__ import annotations

import random

from elasticsearch_analysis_combo_spark.analysis.combo import analyze_text

CAMEL_PARTS = [
    "get", "set", "parse", "build", "merge", "index", "token", "stream",
    "reader", "writer", "combo", "analyzer", "position", "offset", "buffer",
    "cache", "shard", "segment", "query", "score", "doc", "term", "post",
]
FOLDED = ["Köln", "schöner", "naïve", "façade"]
STOP = ["the", "if", "return", "def", "class", "import", "for", "while",
        "else", "new", "public", "static", "void", "int", "this", "self"]


class QueryStream:
    def __init__(self, seed: int, rare_terms: list[str],
                 doc_texts: list[str], config):
        self.rng = random.Random(seed)
        self.rare_terms = sorted(rare_terms)
        self.phrases = _phrase_pool(random.Random(seed + 1), doc_texts, config)
        if not self.rare_terms or not self.phrases:
            raise ValueError("corpus too small for the query classes")
        self._classes = [self.rare, self.camel, self.folded, self.stop]

    def rare(self) -> str:
        return " ".join(self.rng.sample(self.rare_terms, 2))

    def camel(self) -> str:
        a, b = self.rng.sample(CAMEL_PARTS, 2)
        return a + b.capitalize()

    def folded(self) -> str:
        return f"{self.rng.choice(FOLDED)} {self.rng.choice(CAMEL_PARTS)}"

    def stop(self) -> str:
        return " ".join(self.rng.sample(STOP, 3))

    def search(self) -> str:
        """One term query, its class drawn uniformly."""
        return self.rng.choice(self._classes)()

    def phrase(self) -> str:
        return self.rng.choice(self.phrases)


def _phrase_pool(rng: random.Random, doc_texts: list[str], config,
                 size: int = 64) -> list[str]:
    """Windows of 2-3 consecutive words whose analysis yields one term per
    word, so phrase slots line up with word positions."""
    pool: list[str] = []
    words = [t.split() for t in doc_texts if t]
    tries = 0
    while len(pool) < size and tries < 50 * size:
        tries += 1
        ws = rng.choice(words)
        n = rng.choice((2, 3))
        if len(ws) < n:
            continue
        i = rng.randrange(len(ws) - n + 1)
        text = " ".join(ws[i:i + n])
        toks = analyze_text(text, config)
        if len(toks) == n == len({t.pos for t in toks}):
            pool.append(text)
    return pool
