"""Seeded query streams for the workloads.

The corpora are the engine's own ``synth`` generators (pure Spark
expressions, deterministic in their seed); every query stream here is
drawn from a ``random.Random`` seeded from the workload seed.
"""

from __future__ import annotations

import itertools
import random
from typing import Iterator

from alertsage_spark.synth import _CAMEL_IDENTS, _SNAKE_IDENTS
from alertsage_spark.tokenizer import tokenize_py


def zipf_needle_stream(seed: int) -> Iterator[tuple[str, str]]:
    """Endless stream of needle queries: two tail terms (Zipf ranks
    1000..20000) plus the two head terms t1 and t2, the shape of
    ``synth.zipf_needle_queries``. Every query carries the same head
    postings, so their cost varies only with the needles."""
    rng = random.Random(seed)
    for i in itertools.count():
        terms = [f"t{r}" for r in rng.sample(range(1000, 20000), 2)] + ["t1", "t2"]
        rng.shuffle(terms)
        yield f"z{i}", " ".join(terms)


def _misspell(word: str, rng: random.Random) -> str:
    """Swap two adjacent letters inside the word (never the first one),
    so the token leaves the vocabulary and code mode falls back to
    trigrams."""
    i = rng.randrange(1, len(word) - 1)
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


def identifier_queries(rng: random.Random, n: int) -> list[str]:
    """Identifier queries in the ``synth.code_corpus`` identifier space,
    in a fixed mix: camelCase and snake_case alternate, and every other
    pair has its stem misspelled."""
    out = []
    for i in range(n):
        suffix = rng.randrange(500)
        if i % 2 == 0:
            ident = f"{rng.choice(_CAMEL_IDENTS)}{suffix}"
        else:
            ident = f"{rng.choice(_SNAKE_IDENTS)}_{suffix}"
        if i % 4 >= 2:
            stem = tokenize_py(ident)[0]
            ident = ident.replace(stem, _misspell(stem, rng), 1)
        out.append(ident)
    return out
