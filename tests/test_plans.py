"""Physical-plan regression tests: the scale properties the engine promises
must be visible in .explain() — column pruning into the parquet scan,
predicate pushdown, broadcast join for the referential check, partial
(map-side) hash aggregation for uniqueness, and no Python in the flagship
hot path."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from xema_spark import stats
from xema_spark.compiler import validate_df
from xema_spark.datagen import FLAGSHIP_RULE, gen_documents


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs")
    gen_documents(spark, 2000).write.parquet(p)
    return p


def test_column_pruning_reaches_scan(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet)
    rule = {"type": "object", "properties": {"doc_id": {"pattern": "^doc-"}}}
    out = validate_df(df, rule, mode="verdict").select("doc_id", "valid")
    plan = plan_of(out)
    # the scan must read doc_id only — spans is never touched by this rule
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "spans" not in read_schema


def test_filter_pushdown_reaches_scan(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet)
    out = df.filter(F.col("doc_id") == "doc-00000042").select("doc_id")
    plan = plan_of(out)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "IsNotNull(doc_id)" in pushed[0] and "EqualTo" in pushed[0]


def test_referential_uses_broadcast_join(spark, docs_parquet):
    from xema_spark.datagen import gen_assets

    df = spark.read.parquet(docs_parquet)
    refs = df.select(F.explode("spans.media_ref").alias("media_ref")).filter("media_ref is not null")
    dangling = stats.referential_violations(refs, "media_ref", gen_assets(spark, 2000), "media_ref")
    plan = plan_of(dangling)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan  # the 100TB side must not shuffle


def test_uniqueness_has_partial_aggregation(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet)
    plan = plan_of(stats.uniqueness_violations(df, ["doc_id"]), "simple")
    # partial + final hash aggregate == map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial" in plan


def test_flagship_hot_path_has_no_python(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet)
    v = validate_df(df, FLAGSHIP_RULE)
    plan = plan_of(v)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas"):
        assert marker not in plan, f"flagship plan contains Python stage: {marker}"


def test_verdict_mode_prunes_violation_expressions(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet)
    v = validate_df(df, FLAGSHIP_RULE)  # both columns computed
    only_verdict = v.select("doc_id", "valid")  # Catalyst prunes violations
    plan = plan_of(only_verdict, "simple")
    assert "violations" not in plan.lower().replace("project", "")


def test_single_pass_stats_is_one_aggregate(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet).select(F.explode("spans").alias("s")).select("s.*")
    st = stats.column_stats(df, ["kind", "offset"])
    plan = plan_of(st, "simple")
    # one scan feeding one (partial+final) aggregate — no joins/unions of rescans
    assert plan.count("Scan parquet") == 1


def test_threshold_count_is_window_free(spark):
    """sim threshold counting must not use a row_number window partitioned
    by the (tiny) query-id set — that shuffles every scored row into
    |queries| reducers. Correct plan: filter + partial-aggregated groupBy."""
    from xema_spark import similarity

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(4)]).alias("embedding"))
    q = emb.limit(2).select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec"))
    df = similarity.threshold_neighbor_counts(emb, q, threshold=0.5)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_simhash_is_single_groupby_not_nested_hofs(spark):
    """simhash_signatures must materialize the token stream once (explode ->
    one groupBy with per-bit sums), not re-evaluate it per bit via nested
    higher-order functions (the CodegenFallback 64x re-eval anti-pattern)."""
    from xema_spark import dedup

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = plan_of(dedup.simhash_signatures(df, "doc_id"))
    assert plan.count("Generate (") == 1  # ONE explode of the token stream
    # exactly one aggregation pair (partial + final), not one per bit
    assert plan.count("HashAggregate (") == 2


def test_worst_partitions_is_take_ordered(spark, docs_parquet):
    """Top-k worst partitions must compile to TakeOrderedAndProject (per-task
    k-row heap), never a global Sort followed by a limit."""
    df = spark.read.parquet(docs_parquet)
    v = validate_df(df, FLAGSHIP_RULE)
    plan = plan_of(stats.worst_partitions(stats.per_partition_summary(v), k=3))
    assert "TakeOrderedAndProject" in plan
    assert "Sort (" not in plan


def test_repetition_signals_is_explode_groupby(spark):
    """Repetition signals must explode n-grams to rows and reduce with
    partial-aggregated groupBys — not recompute per-row HOF aggregates —
    and must contain no cartesian/nested-loop joins."""
    from xema_spark import text

    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    out = text.repetition_signals(df, "doc_id")
    plan = plan_of(out)
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    _assert_lambda_free_grams(out)


def _assert_lambda_free_grams(df):
    """The n-gram projection is one regexp_extract_all scan per family over
    an already-projected token string: no lambda re-tokenising the doc per
    gram position (the O(tokens^2) transform(sequence) shape), and every
    aggregate a HashAggregate (no struct max forcing SortAggregate)."""
    ext = plan_of(df, "extended")
    optimized = ext[ext.index("== Optimized Logical Plan =="):
                    ext.index("== Physical Plan ==")]
    gram_lines = [ln for ln in optimized.splitlines()
                  if "regexp_extract_all" in ln]
    assert gram_lines
    assert not any("lambdafunction" in ln or "split(" in ln
                   for ln in gram_lines)
    assert "transform(" not in optimized and "sequence(" not in optimized
    assert "SortAggregate" not in ext
    assert plan_of(df).count("HashAggregate (") == 4


def test_lang_repetition_table_is_lambda_free_hash_aggregate(spark):
    """Same guard for the fused language + repetition operator that
    pipeline.curate gates on."""
    from xema_spark import text

    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    _assert_lambda_free_grams(text.lang_repetition_table(df, "doc_id"))


def test_pii_scrub_is_shuffle_free(spark):
    """PII scrub is one projection: no Exchange, no Python in the plan."""
    from xema_spark import text

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = plan_of(text.pii_scrub(df))
    assert "Exchange" not in plan
    # no Python evaluation nodes (the createDataFrame source RDD's
    # applySchemaToPythonRDD label is the fixture, not the operator)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_jaccard_restricts_before_reshingling(spark):
    """The Jaccard verifier must re-shingle only candidate-pair docs: the
    optimized plan carries semi joins restricting the corpus before the
    shingle projection."""
    from xema_spark import dedup

    docs = spark.createDataFrame([(i, "w x y z " * 4) for i in range(6)],
                                 ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    plan = plan_of(dedup.ngram_jaccard(docs, pairs, "doc_id"), "extended")
    assert "LeftSemi" in plan


def test_near_dup_joins_have_bucket_caps(spark):
    """Both LSH near-dup self-joins go through a collect_list bucket whose
    size filter caps degenerate (B^2) buckets before pair explosion."""
    from xema_spark import dedup, similarity

    docs = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
    p1 = plan_of(dedup.simhash_near_dups(docs, "doc_id"), "extended")
    assert "collect_list" in p1 and "size(ds" in p1

    emb = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(4)]).alias("embedding"))
    p2 = plan_of(similarity.cosine_near_dups(emb, dim=4), "extended")
    assert "collect_list" in p2 and "size(ds" in p2


def test_sample_violations_prebounds_before_window(spark):
    """The k-per-group sample must NOT window the raw violation stream
    partitioned by a constant-cardinality key (one hot keyword = one reducer
    eating the whole stream). The plan must show a spark_partition_id-keyed
    aggregation (the per-input-partition top-k bound) feeding the Window,
    and the bounded variant must produce the same rows as the bare window."""
    viols = spark.createDataFrame(
        [(f"d{i:03d}", "$.text", "pattern" if i % 3 else "min_length")
         for i in range(90)],
        ["doc_id", "path", "keyword"])
    bounded = stats.sample_violations(viols, ["keyword"], ["doc_id"], k=4)
    plan = plan_of(bounded, "extended")
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert "collect_list" in plan
    # the Window input is the exploded bounded lists, not the raw stream:
    # Generate (the explode) must appear between the aggregate and the window
    assert "Generate" in plan and "Window" in plan

    bare = stats.sample_violations(viols, ["keyword"], ["doc_id"], k=4,
                                   partition_bound=False)
    assert (sorted(map(tuple, bounded.collect()))
            == sorted(map(tuple, bare.collect())))


def test_ivf_centroids_broadcast_above_inline_threshold(spark):
    """Above inline_max_literals the centroids must ride along as ONE
    broadcast row (BroadcastNestedLoopJoin) instead of n_cells*dim plan
    literals, with identical output to the inline path."""
    from xema_spark import similarity

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("double") + F.lit(0.1)
                  for i in range(4)]).alias("embedding"))
    q = emb.limit(3).select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec"))
    inline = similarity.ivf_topk(emb, q, k=5, n_cells=8, n_probe=3)
    bcast = similarity.ivf_topk(emb, q, k=5, n_cells=8, n_probe=3,
                                inline_max_literals=1)
    plan = plan_of(bcast)
    assert "BroadcastNestedLoopJoin" in plan
    assert (sorted(map(tuple, inline.collect()))
            == sorted(map(tuple, bcast.collect())))


def test_pack_sequences_is_one_exchange_no_python(spark):
    from xema_spark import packing

    d = spark.createDataFrame([(i, "w " * (i % 9)) for i in range(200)],
                              "doc_id int, text string")
    out = packing.pack_sequences(d, budget=64, n_buckets=4)
    plan = plan_of(out)
    # exactly one shuffle — the hash-bucket exchange feeding the window;
    # token counting and bin math stay in whole-stage codegen (simple mode:
    # formatted prints every node twice, tree line + detail header)
    assert plan_of(out, "simple").count("Exchange") == 1
    assert "hashpartitioning(bucket" in plan
    assert "Window" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_mixture_sample_is_pure_filter(spark):
    from xema_spark import sampling

    d = spark.createDataFrame([(i, "en" if i % 3 else "de")
                               for i in range(300)],
                              "doc_id int, lang string")
    out = sampling.mixture_sample(d, "doc_id", "lang",
                                  {"en": 0.7, "de": 0.3}, 100)
    plan = plan_of(out)
    # the corpus-side sample is a pure filter: no shuffle, no join — the
    # planning aggregate already ran driver-side on tiny per-stratum counts
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Filter" in plan


def test_incremental_batch_side_is_broadcast(spark):
    from xema_spark import dedup

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} with some shared words")
         for i in range(1, 40)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(100, "a new batch document arriving now")], ["doc_id", "text"])
    plan = plan_of(dedup.incremental_flags(batch, corpus))
    # the batch's band buckets broadcast into the corpus bucket frame —
    # the corpus is never shuffled against the batch
    assert "BroadcastHashJoin" in plan
    # corpus-side bucket grouping is a real (partial-agg) hash aggregate
    assert "HashAggregate" in plan


def test_lm_score_counts_are_partial_aggregated(spark):
    from xema_spark import text as t

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b x y z")], ["doc_id", "text"])
    plan = plan_of(t.lm_score(df, "doc_id"))
    # the bigram count table partial-aggregates before its shuffle; the
    # context count is the w1-marginal of that table (partial_sum over the
    # reduced counts, NOT a second corpus scan — at most 3 source scans:
    # bigram counting, scoring probe, vocab); the vocab single row rides a
    # broadcast, and no Python touches the path
    assert plan.count("partial_count") >= 1
    assert plan.count("partial_sum") >= 1
    assert plan.count("LocalTableScan") <= 3
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ingest_sig_flags_store_side_is_broadcast_joined(spark):
    from xema_spark import dedup

    store = dedup.signature_store(
        spark.createDataFrame(
            [(i, f"stored corpus document number {i} with filler words")
             for i in range(1, 30)], ["doc_id", "text"]), "doc_id")
    bsig = dedup.signature_store(
        spark.createDataFrame([(100, "a new batch document arriving")],
                              ["doc_id", "text"]), "doc_id")
    plan = plan_of(dedup.incremental_flags_sig(bsig, store))
    # the store participates only through broadcast joins: batch bucket
    # keys semi-prune its banded stream, and candidate pairs broadcast
    # into it for signature re-attachment — the store itself is never
    # shuffled by a join key
    assert "LeftSemi" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_source_caps_prebounds_before_window(spark):
    """The per-source cap must NOT rank the raw stream (one hot source =
    one straggler task): the hash pre-bound Filter must sit BELOW the
    Window in the plan, so window partitions are O(cap) regardless of
    source skew."""
    from xema_spark import sampling

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], ["doc_id", "source"])
    plan = plan_of(sampling.source_caps(df, "doc_id", "source", cap=5),
                   "extended")
    # optimized plan order: ... Window <- ... Filter(_h < thr) <- Join
    opt = plan[plan.index("== Optimized Logical Plan =="):]
    wpos = opt.index("Window")
    assert "_h" in opt[wpos:].split("\n")[0] or "Filter" in opt[wpos:]
    # the filter on the admit threshold appears below the window node
    below = opt[wpos:]
    assert "Filter" in below and "_h" in below
    # and the count aggregate exists (per-source counts feeding the bound)
    assert "Aggregate" in opt or "HashAggregate" in plan


def test_project_embeddings_plan_shapes(spark):
    from xema_spark import similarity

    df = spark.createDataFrame(
        [(1, [0.1] * 16)], "vec_id long, embedding array<float>")
    inline = plan_of(similarity.project_embeddings(
        df, in_dim=16, out_dim=4, inline_max_literals=4096))
    # literal flavor: pure projection — no join, no shuffle, no Python
    # (applySchemaToPythonRDD is the fixture's source, not the operator)
    assert "Join" not in inline and "Exchange" not in inline
    assert "BatchEvalPython" not in inline and "ArrowEvalPython" not in inline
    bcast = plan_of(similarity.project_embeddings(
        df, in_dim=16, out_dim=4, inline_max_literals=4))
    # above the literal budget the sign matrix rides as ONE broadcast row
    assert "BroadcastNestedLoopJoin" in bcast
    assert "Exchange hashpartitioning" not in bcast


def test_materialize_epochs_is_shuffle_free(spark):
    from xema_spark import sampling

    df = spark.createDataFrame([(1, "a")], ["doc_id", "src"])
    plan = plan_of(sampling.materialize_epochs(
        df, "doc_id", "src", {"a": 2.5}))
    # replication is a per-row Generate + filter: no shuffle, no Python
    assert "Generate" in plan and "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_overlap_culls_before_self_join(spark):
    from xema_spark import text

    df = spark.createDataFrame([(1, "abcdefghij")], ["doc_id", "text"])
    plan = plan_of(text.winnow_overlap(df, "doc_id"))
    # equi-join on fp (hash-joinable), never a cartesian pair blowup
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_remove_duplicate_spans_plan(spark):
    from xema_spark import dedup

    df = spark.createDataFrame([(1, "abcdefghijklmno")], ["doc_id", "text"])
    plan = plan_of(dedup.remove_duplicate_spans(df, "doc_id", k=5))
    # gram marking is an equi-join on the gram hash; splice is pure Columns
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_text_spans_plan(spark):
    from pyspark.sql import types as T
    from xema_spark import interleaved
    from xema_spark.datagen import SPAN_TYPE

    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("spans", T.ArrayType(SPAN_TYPE))])
    df = spark.createDataFrame(
        [("d1", [("text", "hello world", None, 0)])], schema)
    plan = plan_of(interleaved.dedup_text_spans(df))
    # key marking is an equi-join on the span-key hash; rewrite is per-row
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
