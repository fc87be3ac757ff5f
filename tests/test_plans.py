"""Physical-plan regression tests: the scale disciplines the engine claims
(pushdown, pruning, broadcast, partial agg, no Python in relational paths)
must be visible in ``explain``, not just intended.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
QUERIES = entrymod.queries()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "filter_project")
    assert "PushedFilters: [" in plan and "IsNotNull" in plan, plan
    # column pruning: the scan must not read the unused wide columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema
    assert "l_extendedprice" in read_schema


def test_broadcast_join_chosen(spark):
    plan = plan_of(spark, "broadcast_join_revenue")
    assert "BroadcastHashJoin" in plan
    # the big fact-fact join may be SMJ; the dims must broadcast
    assert plan.count("BroadcastExchange") >= 2


def test_partial_aggregation(spark):
    plan = plan_of(spark, "tpch_q1")
    # map-side combine: HashAggregate appears twice (partial + final)
    assert plan.count("HashAggregate") >= 2


def test_no_python_udf_in_relational_paths(spark):
    for name in ["tpch_q1", "broadcast_join_revenue", "minhash_signatures",
                 "minhash_signatures_fast", "minhash_lsh_pairs_fast",
                 "token_count", "simhash", "cosine_score_all",
                 "ngram_jaccard_pairs", "embedding_neardup_pairs",
                 "ann_lsh_bucketed", "ann_ivf_coarse",
                 "json_normalize_props", "parse_dates_messy",
                 "lsh_hot_buckets", "repetition_signals"]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} fell back to python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} fell back to python UDF"


def test_no_cartesian_in_pair_generators(spark):
    """The bounded pair ops must stay equi-joins — a cartesian/NL join
    here is the quadratic scan the df-cap/LSH prefilter exists to kill.
    (cosine_score_all's broadcast of the 1-row query vector is the one
    deliberate nested-loop and is excluded.)"""
    for name in ["ngram_jaccard_pairs", "embedding_neardup_pairs",
                 "minhash_lsh_pairs", "minhash_lsh_pairs_fast",
                 "ann_lsh_bucketed", "simhash_hamming_pairs"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        joins = [ln for ln in plan.splitlines() if "NestedLoop" in ln]
        # ann's probe set is a broadcast of <=7 rows joined by equality —
        # anything nested-loop would mean the bucket equi-key was lost
        assert not joins, f"{name}: {joins}"


def test_whole_stage_codegen_active(spark):
    # AQE defers codegen until execution — inspect the non-adaptive plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["tpch_q1"](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "Found 0 WholeStageCodegen" not in plan
    assert "WholeStageCodegen" in plan


def test_antijoin_strategy(spark):
    plan = plan_of(spark, "left_antijoin_missing")
    assert "LeftAnti" in plan


def test_decode_column_pruning_reaches_scan(spark, tmp_path, monkeypatch):
    """Selective decode must read ONLY the requested columns' payload
    bytes: the chunk-store payload is a struct (one binary field per
    column) and the reader task projects only the selected fields —
    decoding 1 of 5 columns of a 100-TB dataset reads ~1/5 of it."""
    import pyarrow.parquet as pq

    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.decode import decode_table, read_chunks
    from fhirflat_spark.encode import encode_table
    from fhirflat_spark.manifest import table_view

    out = str(tmp_path / "prune")
    df = gen_spark(spark, 1000, seed=9)
    encode_table(df, out, rows_per_bucket=500)
    # columns: repo,path,commit,lang,content -> lang = __c3, content = __c4
    read = []
    real = pq.ParquetFile.read_row_group

    def spy(self, i, columns=None, **kw):
        read.append(list(columns))
        return real(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    for pid in table_view(out).part_ids:
        for b in read_chunks(out, pid, payload={"__c3": "__c3"}):
            assert b.schema.names == ["n_rows", "__c3"]
    monkeypatch.undo()
    cols = {c for r in read for c in r}
    assert "payload.__c3" in cols, read
    assert not [c for c in cols if c.startswith("payload.")
                and c != "payload.__c3"], read  # content bytes unread
    assert "payload" not in cols, read
    dec = decode_table(spark, out, columns=["lang"])
    got = {r["lang"] for r in dec.collect()}
    want = {r["lang"] for r in df.select("lang").distinct().collect()}
    assert got == want
    assert dec.count() == 1000


def _encoded_plan(spark, src: str | None = None) -> str:
    """Formatted plan of the encode pipeline: stage-1 encode kernel, ONE
    repartition on __tok, stage-2 merge kernel. With ``src`` (a parquet
    directory) the input is a bare file scan, which stage 1 reads
    itself; otherwise an in-memory frame feeds it."""
    from fhirflat_spark.datagen import gen_spark
    from fhirflat_spark.encode import (
        _encoded_exchange,
        chunk_schema,
        placement_plan,
    )

    df = gen_spark(spark, 2000, seed=3)
    if src is not None:
        df.write.parquet(src)
        df = spark.read.parquet(src)
    source, merge = _encoded_exchange(
        df, df.columns, placement_plan(df, rows_per_bucket=500)
    )
    chunks = source.mapInArrow(merge, schema=chunk_schema(len(df.columns)))
    return chunks._sc._jvm.PythonSQLUtils.explainString(
        chunks._jdf.queryExecution(), "formatted"
    )


def test_encode_plan_single_shuffle(spark, tmp_path):
    """The encode pipeline must contain exactly ONE data-sized exchange —
    a second shuffle would be a 100-TB bug — for an in-memory input
    (Spark feeds stage 1) and for a parquet-file input (stage 1 reads
    the files in ``spark.range`` tasks: no JVM scan of the rows)."""
    import re

    for src in (None, str(tmp_path / "src")):
        plan = _encoded_plan(spark, src)
        data_exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
        assert len(data_exchanges) == 1, plan
        # placement runs in the stage-1 kernel: no join, no broadcast
        assert "BroadcastExchange" not in plan, plan
        assert "Join" not in plan, plan
        if src is not None:
            assert "Scan parquet" not in plan and "Range" in plan, plan


def test_encoded_shuffle_plan_single_compressed_exchange(spark):
    """The ONE exchange must sit ABOVE the stage-1 encode kernel and hash
    on __tok — i.e. it moves the final compressed chunk rows (~0.25-0.3x
    of raw), with both MapInArrow stages in the plan and no data-row
    exchange anywhere."""
    import re

    plan = _encoded_plan(spark)
    data_exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(data_exchanges) == 1, plan
    assert "hashpartitioning(__tok" in plan, plan
    assert plan.count("MapInArrow") >= 2, plan


def test_cluster_collapse_pairs_stage_equi_join(spark):
    """near_dedup_clusters' candidate stage must stay a capped equi-join
    (the CC iterations run at execution time; here we pin the pair
    generator feeding them keeps the banded join shape)."""
    plan = plan_of(spark, "near_dedup_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_kmeans_assignment_literal_free(spark):
    """The trained-quantizer query's plan must not inline centroids —
    one MapInArrow per assignment pass, independent of K."""
    plan = plan_of(spark, "ann_ivf_kmeans")
    assert "MapInArrow" in plan
    # an unrolled literal chain at K=8/dim=64 would put hundreds of
    # float literals in the plan text; the broadcast path keeps it small
    assert plan.count("CASE WHEN") <= 2, "centroid when-chain leaked back"
