"""Session-scoped Spark fixture + deterministic synthetic corpora.

Mirrors the reference's fixture bootstrap pattern
(/root/reference/tests/conftest.py:13-68 — session-scoped autouse data
fixture) but fully offline and seeded: no network, no external data.
"""

from __future__ import annotations

import hashlib
import random
from contextlib import contextmanager

import pytest

from alertsage_spark.index import segments
from alertsage_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

LANGS = ["py", "java", "go", "js", "rs"]
_IDENTS = [
    "parseConfig", "HTTPServerFactory", "read_buffer", "flushQueue",
    "max_retry_count", "TokenStream", "apply_in_pandas", "shuffleWrite",
    "blockMaxWand", "postingList", "deltaEncode", "varByte", "segmentMerge",
    "docFreq", "avgFieldLength", "scoreAccumulator", "topKHeap", "tieBreak",
]
_WORDS = [
    "return", "import", "def", "class", "for", "while", "if", "else",
    "index", "query", "score", "merge", "block", "term", "partition",
]


def synth_corpus(n_docs: int = 200, seed: int = 42) -> list[dict]:
    """North-rule-shaped corpus: (repo, path, commit, lang, content).

    Code-like content with camelCase/snake_case identifiers and a Zipfian
    hot term ('spark' in ~30% of docs) for skew tests.
    """
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        repo = f"org{i % 7}/repo{i % 13}"
        path = f"src/module_{i % 11}/file_{i}.py"
        commit = hashlib.sha1(f"{repo}:{path}".encode()).hexdigest()
        lang = LANGS[i % len(LANGS)]
        n_tokens = rng.randint(20, 120)
        words = []
        for _ in range(n_tokens):
            r = rng.random()
            if r < 0.3:
                words.append("spark")  # hot term -> skew
            elif r < 0.6:
                words.append(rng.choice(_IDENTS))
            else:
                words.append(rng.choice(_WORDS))
        content = " ".join(words)
        rows.append(
            dict(repo=repo, path=path, commit=commit, lang=lang, content=content)
        )
    return rows


@contextmanager
def crash_after_groups(n: int):
    """Inside the block a build dies once it has committed ``n`` groups:
    segments._land_group commits through the real one, then raises
    RuntimeError("injected failure ...") on the block's n-th commit."""
    land = segments._land_group
    landed = []

    def landing(paths, fill, g=None):
        g = land(paths, fill, g)
        landed.append(g)
        if len(landed) >= n:
            raise RuntimeError(f"injected failure after group {g}")
        return g

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(segments, "_land_group", landing)
        yield


@pytest.fixture(scope="session")
def spark():
    # a bounded driver heap: with the 64g default the JVM's heap can grow
    # past a small host's memory and get the JVM killed; the suite needs
    # far less.
    # Retained stages: tests that count their own jobs' tasks through
    # statusTracker() read every stage of those jobs. Past Spark's default
    # of 1000 retained stages the status store evicts skipped stages
    # first, so such a read returned None or not depending on how many
    # stages the tests before it ran.
    s = get_spark(app_name="alertsage_tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "8g",
                              "spark.ui.retainedStages": "100000"})
    yield s


@pytest.fixture(scope="session")
def corpus_rows():
    return synth_corpus()


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_rows):
    return spark.createDataFrame(corpus_rows).cache()


@pytest.fixture(scope="session")
def documents_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
