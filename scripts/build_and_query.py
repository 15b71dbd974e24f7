#!/usr/bin/env python
"""spark-submit entrypoint: checkpointed index build + reference queries.

Usage (north rule: `spark-submit --py-files` on a multi-executor
cluster; master/executor conf comes from spark-submit):

    zip -r alertsage_spark.zip alertsage_spark
    spark-submit --py-files alertsage_spark.zip scripts/build_and_query.py \
        --input  /path/to/corpus_parquet  \
        --id-col doc_id --text-col text   \
        --index-dir /path/to/index        \
        --n-shards 4096 --n-groups 64     \
        [--mode code] [--resume] [--fidelity /path/to/hashes_parquet] \
        [--query "terms ..."] [--k 10]

Each group commits by the rename of its staged dir, with its lineage
row (docs/sec + postings/sec + bytes) inside; once every group is
committed the rows are written to <index-dir>/manifest. A killed build
resumes from its committed groups when --resume is set; without it the
build first removes any index already at --index-dir (its segments/,
manifest/ and config files, nothing else).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--index-dir", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--input-shape", default="generic",
                   choices=["generic", "code_corpus"],
                   help="code_corpus: the north-rule (repo, path, commit, "
                        "lang, content) table; derives doc_id + fidelity "
                        "hashes and defaults --mode code")
    p.add_argument("--langs", action="append", default=[],
                   help="code_corpus: keep only these languages")
    p.add_argument("--n-shards", type=int, default=32)
    p.add_argument("--n-groups", type=int, default=4)
    p.add_argument("--mode", default="text", choices=["text", "code"])
    p.add_argument("--resume", action="store_true")
    p.add_argument("--fidelity", default=None,
                   help="parquet of (id-col, content_sha256) reference hashes")
    p.add_argument("--query", action="append", default=[])
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--build-id", default="build-0")
    args = p.parse_args()

    # conf (master, executors, memory) comes from spark-submit
    spark = SparkSession.builder.appName("alertsage_build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from alertsage_spark.index.segments import build_segments, load_index
    from alertsage_spark.query.wand import wand_topk

    docs = spark.read.parquet(args.input)
    fidelity = spark.read.parquet(args.fidelity) if args.fidelity else None
    if args.input_shape == "code_corpus":
        from alertsage_spark.sources.code_corpus import prepare_code_corpus

        docs, derived_fidelity = prepare_code_corpus(
            docs, langs=args.langs or None
        )
        if fidelity is None:
            fidelity = derived_fidelity
        args.id_col, args.text_col = "doc_id", "text"
        if args.mode == "text":
            args.mode = "code"
    out = build_segments(
        spark,
        docs,
        args.index_dir,
        n_shards=args.n_shards,
        n_groups=args.n_groups,
        id_col=args.id_col,
        text_col=args.text_col,
        mode=args.mode,
        resume=args.resume,
        build_id=args.build_id,
        fidelity_hashes=fidelity,
    )
    print("BUILD " + json.dumps({"stats": out["stats"],
                                 "groups_built": len(out["metrics"])}))
    for m in out["metrics"]:
        print("GROUP " + json.dumps(m))

    if args.query:
        index = load_index(spark, args.index_dir)
        queries = [(f"q{i}", q) for i, q in enumerate(args.query)]
        hits = wand_topk(spark, index, queries, k=args.k).collect()
        for r in hits:
            print("HIT " + json.dumps(
                {"query_id": r["query_id"], "doc_id": r["doc_id"],
                 "score": r["score"], "rank": r["rank"]}))
    spark.stop()


if __name__ == "__main__":
    main()
