"""Physical-plan quality gates: these fail if a future change regresses
pushdown, pruning, broadcast strategy, or the top-k plan shape."""

import pytest

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from texoo_spark.session import get_spark
    s = get_spark("texoo-plan-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_partial_agg(spark):
    import __spark_entry__ as e
    plan = plan_of(e.q_pricing_summary(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2
    # column pruning: unused lineitem columns never reach the scan
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_nation_revenue_broadcasts_small_dim(spark):
    import __spark_entry__ as e
    plan = plan_of(e.q_nation_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_knn_is_take_ordered(spark):
    import __spark_entry__ as e
    plan = plan_of(e.q_knn_cosine(spark, SF))
    # single lane: top-k must not globally sort — TakeOrderedAndProject
    # merges per-partition heaps; its cosine stays JVM-side
    assert "TakeOrderedAndProject" in plan
    # batch lane is the ONLY Python hop in the union (one ArrowEvalPython
    # for the broadcast-matrix matmul)
    assert plan.count("ArrowEvalPython") == 1


def test_extraction_is_single_python_hop(spark):
    from texoo_spark.pipeline import extract_turns
    df = spark.createDataFrame(
        [("c", 0, "user", "text here", None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    plan = plan_of(extract_turns(df))
    assert plan.count("ArrowEvalPython") == 1  # fused strip+extract


def test_extract_tokens_prunes_documents_scan(spark):
    import __spark_entry__ as e
    plan = plan_of(e.q_extract_tokens(spark, SF))
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_gazetteer_matches_wholestage_codegen(spark):
    import __spark_entry__ as e
    df = e.q_gazetteer_matches(spark, SF)
    df.collect()  # finalize the AQE plan (isFinalPlan=true shows codegen)
    plan = plan_of(df)
    assert "*(" in plan  # '*(n)' marks whole-stage-codegen spans


def test_link_mentions_is_jvm_only(spark):
    """A13 linking must stay whole-stage-codegen'd: key normalization is
    a Catalyst expression, so no Python eval node may appear anywhere in
    the plan (round 5 — the pandas-UDF version cost two Python-worker
    jobs per call for a lower+squeeze)."""
    from texoo_spark.linking import link_mentions
    mentions = spark.createDataFrame(
        [("c", 0, 0, 5, "Paris")],
        "conv_id string, turn_idx int, begin int, end int, surface string")
    aliases = spark.createDataFrame([("paris", "Q90", 0.9)],
                                    "alias string, entity_id string,"
                                    " prior double")
    plan = plan_of(link_mentions(mentions, aliases))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # alias side stays broadcast


def test_bm25_broadcasts_query_side(spark):
    import __spark_entry__ as e
    plan = plan_of(e.q_bm25_topk(spark, SF))
    # query terms + df table broadcast; postings never a broadcast side
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial aggs survive


def test_lean_extraction_single_python_hop(spark):
    from texoo_spark.arrow_extract import EXTRACT_COLUMNS
    from texoo_spark.pipeline import extract_turns
    df = spark.createDataFrame(
        [("c", 0, "user", "text here", None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    plan = plan_of(extract_turns(df).select(*EXTRACT_COLUMNS))
    assert plan.count("ArrowEvalPython") == 1
    # unread token surfaces are pruned: never shipped, never derived
    assert "tok_text" not in plan and "substring" not in plan


def test_segmentation_metrics_partition_on_doc_not_single(spark):
    """Round 2: the segmentation metrics must run the per-doc
    applyInPandas lane — hash exchange on doc, never a single-partition
    global window (the round-1 anti-pattern)."""
    import __spark_entry__ as e
    plan = plan_of(e.q_segmentation_metrics(spark, SF))
    assert "SinglePartition" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(doc" in plan


def test_retrieval_mrr_partitions_on_query(spark):
    import __spark_entry__ as e
    plan = plan_of(e.q_retrieval_mrr(spark, SF))
    assert "SinglePartition" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(query_id" in plan


def test_embedding_band_exchange_carries_no_vectors(spark):
    """Round 2: embedding_near_dups bands on (id, band, bucket) only —
    full vectors must not ride through the banded self-join exchange
    (x bands duplication at web scale); they join back after the distinct
    candidate pairs."""
    from texoo_spark.dedup import embedding_near_dups
    emb = spark.read.parquet(SF + "/embeddings.parquet").limit(50)
    plan = plan_of(embedding_near_dups(emb))
    # the persisted banded stage feeding the pair join holds ONLY
    # (id, band, bucket) — never the embedding
    cached = [ln for ln in plan.splitlines() if "InMemoryRelation" in ln]
    assert cached, "banded stage must be persisted"
    for ln in cached:
        cols = ln.split("[", 1)[1].split("]", 1)[0]
        assert "embedding" not in cols and "v_" not in cols and \
            " v#" not in "[" + cols, ln
    # the pair join is keyed on (band, bucket)
    assert "Join [band" in plan.replace("BroadcastHashJoin", "Join")\
        .replace("SortMergeJoin", "Join").replace("ShuffledHashJoin", "Join")
    # vectors enter the plan only through the post-distinct id joins
    assert plan.count("AS v_a") == 1 and plan.count("AS v_b") == 1


def test_passage_retrieval_broadcasts_queries(spark):
    """SURVEY 3.3 lane: the query-vector side must broadcast — the passage
    table (the 100TB side) never shuffles for the scoring join; cosine
    stays JVM-side after the embedding producer."""
    import __spark_entry__ as e
    plan = plan_of(e.q_passage_retrieval(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # exactly the two embedding-producer UDF stages cross into Python
    assert plan.count("ArrowEvalPython") == 2


def test_media_decode_lane_is_map_only(spark):
    """The real-codec decode lane (media_features 'decoded'): payload
    synthesis -> container decode is two chained Arrow-batched maps with
    NO exchange — per-row independent, so at 100 TB payload bytes never
    shuffle and never return to the JVM."""
    import pandas as pd
    from pyspark.sql import functions as F

    from texoo_spark.mediacodec import synth_media_payload
    from texoo_spark.multimodal import decode_media_stats

    ids = spark.range(24).select(F.col("id").alias("media_id"))

    def synth(batches):
        for pdf in batches:
            made = [synth_media_payload(int(i)) for i in pdf["media_id"]]
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "mime": [m for m, _ in made],
                                "payload": [p for _, p in made]},
                               columns=["media_id", "mime", "payload"])

    df = decode_media_stats(ids.mapInPandas(
        synth, "media_id long, mime string, payload binary"))
    df.collect()  # finalize any adaptive plan before reading its string
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2
