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

    # the encoded exchange: placement projection → stage-1 encode kernel
    # → one exchange of compressed chunk rows → stage-2 merge kernel
    from pyspark.sql import functions as F

    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import (
        chunk_schema,
        encoded_merge_kernel_factory,
        encoded_pack_kernel_factory,
        encoded_shuffle_schema,
        partition_tokens,
        plan_partition_ids,
    )

    df = gen_spark(spark, 5000, seed=3)
    cols = df.columns
    safe = [f"__c{i}" for i in range(len(cols))]
    bucketed, P = plan_partition_ids(df, rows_per_bucket=1000)
    bucketed = bucketed.select(
        *[F.col(c).alias(a) for a, c in zip(safe, cols)], "__pb"
    )
    stage1 = bucketed.mapInArrow(
        encoded_pack_kernel_factory(
            safe, partition_tokens(P), None, name_map=dict(zip(safe, cols))
        ),
        schema=encoded_shuffle_schema(len(cols)),
    )
    chunks = stage1.repartition(P, F.col("__tok")).mapInArrow(
        encoded_merge_kernel_factory(len(cols)), schema=chunk_schema(len(cols))
    )
    plan = chunks._sc._jvm.PythonSQLUtils.explainString(
        chunks._jdf.queryExecution(), "formatted"
    )
    lines += ["## encode pipeline (stage-1 encode → compressed-chunk "
              "exchange → stage-2 merge)",
              "", "```", plan.rstrip(), "```", ""]

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("BENCH/PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
