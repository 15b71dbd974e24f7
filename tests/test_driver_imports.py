"""What a serving driver imports: a session from ``get_spark`` must not
load IPython through pyspark's DataFrame debugging hook (every Column
call tries ``import IPython``; ~26 MB of driver memory where IPython is
installed). Runs in a child process, since this suite's own imports may
already have loaded IPython."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, sys, tempfile
from alertsage_spark.index.segments import build_segments, load_index
from alertsage_spark.query.wand import wand_topk
from alertsage_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=2)
docs = spark.createDataFrame(
    [(i, f"alpha beta{i % 3} gamma{i % 5} parseConfig") for i in range(40)],
    "doc_id long, text string",
)
d = tempfile.mkdtemp(prefix="imports_idx_") + "/idx"
build_segments(spark, docs, d, n_shards=2)
idx = load_index(spark, d).prepare_for_queries()
rows = wand_topk(spark, idx, [("q", "beta1 gamma2")], k=3).collect()
print(json.dumps({"rows": len(rows), "ipython": "IPython" in sys.modules}))
spark.stop()
"""


@pytest.mark.slow
def test_serving_driver_never_imports_ipython(tmp_path):
    path = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, PYTHONPATH=path, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, SPARK_DRIVER_MEMORY="1g",
               TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        cwd=REPO, capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["rows"] == 3
    assert not res["ipython"]
