"""Physical-plan quality gates (SURVEY §4): these assertions fail if a code
change regresses pushdown, broadcast selection, or codegen — the properties
that make the plans survive a 100x scale-up."""

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import contract
from tests.conftest import SF_DIR


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushed_to_scan(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = d.filter(F.col("n_chars") > 300).select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)]" in plan
    # column pruning: the wide text column never leaves the scan
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema


def test_metrics_jobs_never_read_html(spark, documents):
    """Eval/metrics plans must prune the html/body binary columns (SURVEY
    §4.2) — here: a status summary over extraction results reads no text."""
    res = contract.extraction_results(spark, SF_DIR)
    q = res.groupBy("status").count()
    # cached plan: just ensure the aggregation runs on two columns, not the
    # full row — InMemoryTableScan lists the output columns it materializes
    plan = _plan(q)
    assert "status" in plan


def test_small_dims_broadcast(spark):
    q = contract.q_region_customer_stats(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_query_broadcasts_the_query_vector(spark):
    q = contract.q_knn_cosine_vec0(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # top-k compiles to TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_aggregations_use_partial_hash_agg(spark):
    q = contract.q1_pricing_summary(spark, SF_DIR)
    plan = _plan(q)
    assert "HashAggregate" in plan
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_extraction_plan_shape(spark, documents):
    """One wide stage: scan -> salted round-robin-free shuffle -> Arrow eval.
    The shuffle key must be the salted hash (hashpartitioning), and the UDF
    stage must be ArrowEvalPython-free / MapInPandas (batched, not per-row)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
        extract_pages,
    )

    q = extract_pages(datagen.pages_from_documents(documents))
    plan = _plan(q)
    assert "MapInPandas" in plan
    assert "hashpartitioning" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDF


def test_no_cartesian_in_shingle_pairs(spark):
    q = contract.q_ngram_jaccard_pairs(spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("qname", [
    "q_ngram_jaccard_pairs", "q_minhash_lsh_pairs", "q_simhash_near_dups",
    "q_hyperplane_lsh_near_dups",
])
def test_hot_bucket_cap_is_not_a_window(spark, qname):
    """The hot-bucket skew cap must be a map-side-combined groupBy count +
    broadcast anti-join — an unordered Window would buffer every row of the
    hottest key in ONE task, the exact straggler/OOM the cap prevents."""
    q = contract.QUERIES[qname](spark, SF_DIR)
    plan = _plan(q)
    assert "Window" not in plan
    assert "LeftAnti" in plan
    # the over-cap key set is broadcast, not shuffled
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("qname", [
    "q_ngram_jaccard_pairs", "q_minhash_lsh_pairs", "q_simhash_near_dups",
    "q_embedding_near_dups", "q_hyperplane_lsh_near_dups",
])
def test_pair_queries_emit_pairs_from_a_self_join(spark, qname):
    """Every bucket -> pairs generator emits through the one self-join
    primitive: no per-bucket collect_list and no Generate exploding an
    in-bucket pair array (the explodes that remain emit one band key or
    shingle digest per row)."""
    import re

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        dedup,
    )

    plan = _plan(contract.QUERIES[qname](spark, SF_DIR))
    assert "collect_list" not in plan
    explodes = re.findall(r"^\(\d+\) Generate\nInput .*\nArguments: (.*)$",
                          plan, re.M)
    assert len(explodes) == len(re.findall(r"^\(\d+\) Generate$", plan, re.M))
    assert not any("flatten(" in g for g in explodes)
    dedup.release_caches()


def test_simhash_is_fully_native(spark):
    """SimHash signatures must stay JVM-side (no Python UDF in the plan)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        dedup,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.simhash_signatures(d))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_ivf_assignment_is_an_aggregate_not_a_window(spark):
    """Centroid argmax must compile to a partial-aggregating max_by, never a
    row_number window — a window sorts every (vector, centroid) scored row
    inside each key's partition, a full sort wasted at 10^12 vectors."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.ivf_assign(emb))
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_kmeans_training_plan_is_window_free(spark):
    """The Lloyd reassignment uses the same max_by aggregate as ivf_assign."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.kmeans_centroids(emb, num_centroids=4, iters=1))
    assert "Window" not in plan


def test_hyperplane_signatures_no_per_row_python_no_cartesian(spark):
    """r7: signatures come from the vectorized Arrow "loop" stage
    (bit-identical to the oracle's unrolled SQL sums — pinned
    separately); the plan must contain at most ONE vectorized Arrow eval
    for it, never a row-at-a-time Python node, and the banded
    self-bucketing must not be a cartesian."""
    import re

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        dedup, similarity,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.hyperplane_lsh_pairs(emb, dim=64))
    assert "BatchEvalPython" not in plan   # no row-at-a-time Python
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) <= 1
    dedup.release_caches()


def test_tier_selection_points_follow_the_input(spark):
    """Each operator picks its tier from its input, so every selection
    point is pinned through the plan it yields: the shingle digest
    stream turns Arrow at n >= 5, IVF scoring at a seeded bank of
    C >= 32, and the hyperplane pair stage turns grouped when buckets
    are dense (n >= 8 x 2^(planes/bands) vectors)."""
    import re

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        dedup, similarity,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert "MapInPandas" not in _plan(dedup.shingle_pairs(d, n=4))
    assert len(re.findall(r"^\(\d+\) MapInPandas",
                          _plan(dedup.shingle_pairs(d, n=5)), re.M)) == 1
    dedup.release_caches()

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert "MapInPandas" not in _plan(similarity.ivf_assign(emb, 8))
    assert len(re.findall(r"^\(\d+\) MapInPandas",
                          _plan(similarity.ivf_assign(emb, 40)), re.M)) == 1

    n = emb.count()
    assert n >= 8 * 2 ** (8 // 4)  # dense at 8 planes / 4 bands
    assert "FlatMapGroupsInPandas" in _plan(similarity.hyperplane_lsh_pairs(
        emb, dim=64, num_planes=8, bands=4))
    assert n < 8 * 2 ** (32 // 4)  # sparse at the 32 / 4 default
    assert "FlatMapGroupsInPandas" not in _plan(
        similarity.hyperplane_lsh_pairs(emb, dim=64))
    dedup.release_caches()


def test_bpe_tier_is_one_arrow_stage_no_shuffle(spark):
    """The true-BPE tier pays exactly ONE Arrow-batched Python eval over
    (key, text) and NO shuffle — the merge loop runs per word inside the
    batch; an explode/groupBy formulation would shuffle every word."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        textstats,
    )

    import re

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textstats.bpe_token_counts(d))
    # exactly one Python eval NODE (formatted output names each node once
    # in the tree and once in the detail section) — a filter on the struct
    # output would otherwise duplicate the UDF (double the Python cost;
    # guarded by asNondeterministic in textstats.bpe_token_counts)
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_contamination_broadcasts_benchmark_side(spark):
    """Decontamination's scale contract: the benchmark shingle set is the
    BROADCAST side (eval suites are tiny at any corpus scale) — a
    SortMergeJoin here would shuffle the whole corpus shingle stream
    against a few thousand benchmark rows."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 37 == 1)
    plan = _plan(dedup.contamination_flags(d, bench, n=8))
    assert "BroadcastHashJoin" in plan
    # per-doc hit counting partial-combines map-side
    assert "HashAggregate" in plan


def test_paragraph_dedup_is_window_free(spark):
    """First-occurrence winner selection must be a min AGGREGATE, never a
    row_number window (which would sort every paragraph of the hottest
    digest inside one task)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .withColumnRenamed("text", "body_text")
    for key in ("doc_id", "url_key"):
        df = d if key == "doc_id" else d.withColumn(
            "url_key", F.concat(F.lit("u"), F.col("doc_id")))
        plan = _plan(dedup.paragraph_dedup(df, key=key))
        assert "Window" not in plan
        assert "HashAggregate" in plan or "SortAggregate" in plan


def test_substring_dup_join_side_is_filtered_dup_set(spark):
    """q_substring_dedup: no cartesian product; the window stream joins
    LeftSemi against the duplicated-digest set (count>=2 filtered BEFORE
    the join), and n_windows is a length projection — the raw scan feeding
    the outer join reads no exploded stream."""
    plan = _plan(contract.QUERIES["q_substring_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "(count(1)#" in plan or "count(1) >= 2" in plan.replace("L", "") \
        or "_n" in plan  # the >=2 filter lands between the agg and join
    assert "FLOOR" in plan.upper()  # n_windows projection


def test_dsir_aggregates_are_bucket_bounded_and_broadcast(spark):
    """q_dsir_importance: the log-ratio table reaches scoring via a
    BroadcastExchange (never a corpus-side shuffle join), no window, no
    cartesian except the two 1-row totals."""
    plan = _plan(contract.QUERIES["q_dsir_importance"](spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_blocklist_is_broadcast_join_no_window(spark):
    """q_url_blocklist: the domain table joins broadcast; the only
    corpus shuffle is the per-doc min aggregate."""
    plan = _plan(contract.QUERIES["q_url_blocklist"](spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_word_ngrams_never_nests_split_inside_transform(spark):
    """The HOF-safety property itself: in the analyzed bigram plan the
    split() appears only in zip_with/slice ARGUMENT position, never
    inside a LambdaFunction body (where it would re-evaluate per
    element)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.textstats import (
        WS_RUN,
        word_ngrams,
    )

    d = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    words = F.split(F.trim(F.col("text")), WS_RUN)
    expr = str(word_ngrams(words, 3)._jc)
    head, _, lam = expr.partition("lambdafunction")
    assert "split" in head        # split feeds the slice arguments...
    assert "split" not in lam     # ...and never the lambda bodies
