#!/usr/bin/env python
"""Dump formatted physical plans of the headline queries + encode pipeline
to BENCH/PLANS.md — reviewer-facing evidence that filters push down, dims
broadcast, aggregation is partial, and the encode pipeline has exactly one
exchange.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "filter_project",
    "tpch_q1",
    "broadcast_join_revenue",
    "window_top_order",
    "minhash_signatures",
    "minhash_signatures_fast",
    "dedup_exact",
    "cosine_score_all",
    "sessionize",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "ann_lsh_bucketed",
    "ann_ivf_coarse",
    "simhash_hamming_pairs",
    "minhash_lsh_pairs",
    "parse_dates_messy",
    "lsh_hot_buckets",
    "near_dedup_pipeline",
    "ann_ivf_kmeans",
    "manifest_lineage",
    "decontam_overlap",
    "vocab_topk",
]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    import __spark_entry__ as entrymod
    from fhirflat_spark.session import get_spark

    spark = get_spark("dump_plans", cores=4, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    lines = [
        "# PLANS — formatted physical plans of headline operators",
        "",
        f"Generated by tools/dump_plans.py against {SF_DIR}.",
        "What to look for: `PushedFilters`/`ReadSchema` on scans (pushdown +",
        "pruning), `BroadcastExchange` on dimension joins, doubled",
        "`HashAggregate` (partial + final), no `BatchEvalPython` anywhere,",
        "and a single `Exchange` in the encode pipeline.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]

    # the encoded exchange, for both stage-1 inputs: a parquet-file input
    # (the kernel reads the files in spark.range tasks) and an in-memory
    # input (Spark feeds the rows). Each is stage-1 kernel (placement +
    # encode) → ONE exchange of compressed chunk rows → stage-2 merge
    import shutil
    import tempfile

    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import (
        _encoded_exchange,
        chunk_schema,
        placement_plan,
    )

    mem = gen_spark(spark, 5000, seed=3)
    src = os.path.join(tempfile.mkdtemp(prefix="dump_plans_"), "src")
    mem.write.parquet(src)
    for label, df in (("parquet-file input", spark.read.parquet(src)),
                      ("in-memory input", mem)):
        source, merge = _encoded_exchange(
            df, df.columns, placement_plan(df, rows_per_bucket=1000)
        )
        chunks = source.mapInArrow(merge,
                                   schema=chunk_schema(len(df.columns)))
        plan = chunks._sc._jvm.PythonSQLUtils.explainString(
            chunks._jdf.queryExecution(), "formatted"
        )
        lines += [f"## encode pipeline, {label} (stage-1 encode → "
                  "compressed-chunk exchange → stage-2 merge)",
                  "", "```", plan.rstrip(), "```", ""]
    shutil.rmtree(os.path.dirname(src), ignore_errors=True)

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("BENCH/PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
