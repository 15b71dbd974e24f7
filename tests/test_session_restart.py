"""Every catalog entry served from a session-held index answers the same
after spark.stop() and a new session in the same process, and the
registries' temp roots are gone once that process exits. The sessions
run in a child process (this file run as a script), so the shared
``spark`` fixture stays alive."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
ENTRIES = [
    "ft_bm25_topk_refqueries",
    "ft_wand_topk_refqueries",
    "ft_taat_topk_refqueries",
    "ft_bm25_code_topk",
    "ft_lsm_delete_merge",
    "ft_stream_ingest_bm25",
    "ft_bm25f_topk",
    "ft_hybrid_rrf_ann",
    "ft_fuzzy_suggest",
    "ft_substring_search",
    "ft_snippet_topdocs",
]


def _norm(v):
    return f"{v:.9g}" if isinstance(v, float) else str(v)


def _two_sessions(sf_dir: str) -> None:
    from alertsage_spark import catalog
    from alertsage_spark.session import get_spark, session_registry

    runs, roots = [], []
    for _ in range(2):
        spark = get_spark(master="local[2]", shuffle_partitions=4)
        runs.append({
            name: sorted(
                "|".join(map(_norm, row))
                for row in catalog.queries()[name](spark, sf_dir).collect()
            )
            for name in ENTRIES
        })
        roots.append(session_registry(spark).root)
        spark.stop()
    print(json.dumps({"runs": runs, "roots": roots}))


@pytest.mark.slow
def test_held_index_entries_survive_a_session_restart():
    path = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, PYTHONPATH=path, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, SPARK_DRIVER_MEMORY="2g")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), SF_DIR],
        cwd=REPO, capture_output=True, text=True, timeout=900, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    first, second = res["runs"]
    for name in ENTRIES:
        assert first[name], name
        assert second[name] == first[name], name
    assert len(set(res["roots"])) == 2
    for root in res["roots"]:
        assert not os.path.exists(root), root


if __name__ == "__main__":
    _two_sessions(sys.argv[1])
