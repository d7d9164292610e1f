"""Physical-plan contracts for the late-round operators: the plan
shape IS the 100 TB story, so pin it — a regression that silently adds
an Exchange or demotes TakeOrderedAndProject to a global Sort should
fail CI, not a cluster bill."""

import datetime as dt

from pyspark.sql import functions as F

from insideout_spark.plans import webtext


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.createDataFrame(
        [(i, "alpha beta gamma " * (i % 3 + 1)) for i in range(50)],
        "doc_id long, text string",
    )


def test_vocab_topk_uses_take_ordered(spark):
    p = _plan(webtext.vocab_topk(_docs(spark), k=5))
    assert "TakeOrderedAndProject" in p
    # top-k must NOT materialize a global sort of the vocabulary
    assert "Sort [n_occurrences" not in p


def test_bm25_uses_take_ordered_and_no_shuffle_before_topk(spark):
    stats = {"n_docs": 50, "n_tokens": 300, "df": {}, "idf_q": {"alpha": 123}}
    p = _plan(webtext.bm25_topk(_docs(spark), ("alpha",), stats, k=5))
    assert "TakeOrderedAndProject" in p
    # scoring is per-row Catalyst: the only exchange is the top-k's
    assert p.count("Exchange") <= 1


def test_repetition_stats_zero_shuffle(spark):
    p = _plan(webtext.repetition_stats(_docs(spark)))
    assert "Exchange" not in p


def test_hash_split_zero_shuffle(spark):
    p = _plan(webtext.hash_split(_docs(spark)))
    assert "Exchange" not in p


def test_pack_assign_single_shuffle(spark):
    p = _plan(webtext.pack_assign(_docs(spark), budget_tokens=32, n_buckets=4))
    assert p.count("Exchange") == 1


def test_dup_span_thin_shuffles(spark):
    """dup_span_stats shuffles only thin frames: the whash exchanges
    carry (doc_id, whash) and the per-doc fold carries counts — the
    text column never rides an Exchange (at 100 TB the window frame is
    the corpus-scale intermediate)."""
    p = _plan(webtext.dup_span_stats(_docs(spark)))
    for line in p.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_keep_best_single_corpus_window(spark):
    """dedup_keep_best's corpus-side plan is one left join + ONE window
    (row_number over component_id) — no second corpus-wide sort or
    window sneaks in."""
    p = _plan(webtext.dedup_keep_best(_docs(spark)))
    assert p.count("RunningWindowFunction") + p.count("Window") >= 1
    # the window partitions by component_id, not by doc attributes
    assert "windowspecdefinition(component_id" in p.replace(" ", "").lower() or \
        "component_id" in p


def test_simhash_pairs_band_join_is_partial_agged(spark):
    # the banded self-join shuffles on (band, bv) only; the pair dedup
    # carries just (doc_a, doc_b) — no signature/simhash payload rides
    # the dropDuplicates exchange
    df = webtext.simhash_near_dup_pairs(_docs(spark))
    p = _plan(df)
    for line in p.splitlines():
        if "Exchange hashpartitioning(doc_a" in line:
            assert "simhash" not in line and "sa#" not in line


def test_curation_pipeline_one_scan_no_joins(spark):
    from insideout_spark.plans.pipeline import curate_text_pipeline

    p = _plan(curate_text_pipeline(_docs(spark)))
    # r06: the keep decision runs in one Arrow pass (MapInPandas); the
    # only shuffles are the packing bucket shuffle and (on an under-
    # partitioned scan) ensure_parallel's spread before the Arrow pass
    assert p.count("Exchange") <= 2
    assert "Join" not in p
    assert "MapInPandas" in p or "ArrowEvalPython" in p


def test_quality_classifier_zero_shuffle(spark):
    p = _plan(webtext.quality_classifier(_docs(spark)))
    assert "Exchange" not in p


def test_text_index_single_pass_no_joins(spark):
    """Inverted-index build: one scan, token-keyed shuffles only, and
    ZERO joins (the window cap and the df/cf rollup share the token
    partitioning; postings capped before collect_list)."""
    p = _plan(webtext.text_index_topk(_docs(spark), k=5, postings_cap=3))
    assert "TakeOrderedAndProject" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in p
    assert p.count("Exchange") <= 2


def test_bigram_topk_take_ordered_broadcast_ctx(spark):
    """The context join runs on the post-limit k rows — it must be a
    broadcast, never a sort-merge of two corpus-scale frames."""
    p = _plan(webtext.bigram_topk(_docs(spark), k=5))
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_pmi_topk_take_ordered_no_cartesian(spark):
    p = _plan(webtext.pmi_topk(_docs(spark), k=5, min_count=1))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # the 1-row totals frame rides a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_pagerank_no_cartesian_no_collect(spark):
    from insideout_spark.plans import graph

    df = spark.createDataFrame(
        [(i, "x") for i in range(32)], "doc_id long, text string"
    )
    p = _plan(graph.pagerank(df, iters=2))
    assert "CartesianProduct" not in p


def test_ann_pq_single_arrow_pass(spark):
    import numpy as np

    from insideout_spark.plans.webtext import _pq_train, ann_pq

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(30)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = _pq_train(np.array([r[1] for r in rows]), m=4, ks=4)
    p = _plan(ann_pq(embs, [0], k=5, m=4, ks=4, codebooks=books))
    # encode+ADC is ONE fused python pass; the only exchange feeds the
    # per-query top-k window
    assert p.count("MapInPandas") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_paragraph_dedup_two_shuffles_no_joins(spark):
    """paragraph_dedup's 100 TB shape: ONE materialized Arrow segment
    pass -> ONE segment-keyed window shuffle -> ONE doc_id groupBy
    shuffle. No joins, no global sort of the segment table. The
    segment pass is persisted (r06 matreg: releasable, lineage kept),
    so exactly one MapInPandas appears in the plan — under the cached
    relation, never per-consumer."""
    p = _plan(webtext.paragraph_dedup(_docs(spark), seg_tokens=4))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p
    assert p.count("MapInPandas") <= 1 and "BatchEvalPython" not in p
    assert "InMemoryTableScan" in p  # consumers read the cache
    assert p.count("Exchange hashpartitioning") <= 2


def test_global_ordinals_no_single_partition_sort(spark):
    """global_ordinals exists to avoid the naive row_number() OVER
    (ORDER BY ...) plan, which Catalyst executes as Exchange
    SinglePartition + one-task sort. Pin the scalable shape: a range
    exchange feeds balanced pid-window groups; nothing collapses to
    one partition."""
    from insideout_spark.plans import ids

    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    p = _plan(ids.global_ordinals(df, shard_size=16))
    assert "SinglePartition" not in p
    assert "rangepartitioning" in p
    for j in ("SortMergeJoin", "CartesianProduct"):
        assert j not in p


def test_bpe_token_counts_codegen_topk(spark):
    """BPE application must stay JVM-side: the pinned replace chain is
    pure Catalyst (no Arrow/Python eval), occurrences collapse to the
    distinct-word table before the chain (two combinable Exchanges
    total), and the global top-k is TakeOrderedAndProject, never a
    single-partition Sort."""
    from insideout_spark.plans import webtext

    merges = webtext.bpe_train({"alpha": 3, "beta": 2, "gamma": 1}, n_merges=6)
    p = _plan(webtext.bpe_token_counts(_docs(spark), merges, k=10))
    assert "TakeOrderedAndProject" in p
    for py in ("ArrowEval", "BatchEvalPython", "InPandas"):
        assert py not in p
    assert p.count("Exchange") <= 2


def test_dedup_url_latest_single_combinable_shuffle(spark):
    """Keep-latest is ONE map-side-combinable aggregation on url: a
    partial max(struct)/count before the single Exchange, no window,
    no sort."""
    from insideout_spark.plans import webtext

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    p = _plan(webtext.dedup_url_latest(df))
    assert p.count("Exchange") == 1
    assert "partial_max" in p
    assert "Window" not in p


def test_crawl_diff_two_shuffles_join_reuses_partitioning(spark):
    """crawl_diff: one combinable argmax Exchange per snapshot and the
    full outer join consumes them co-partitioned on url — exactly 2
    Exchanges, no Window over captures."""
    from insideout_spark.plans import webtext

    df = spark.createDataFrame(
        [(i, f"t{i % 9}") for i in range(100)], "doc_id long, text string"
    )
    p = _plan(webtext.crawl_diff(df))
    assert p.count("Exchange") == 2
    assert "Window" not in p


def test_chunk_windows_zero_shuffle_no_python(spark):
    """chunk_windows is embarrassingly parallel: one scan, per-row
    sequence/explode/slice — no Exchange, no Python eval anywhere."""
    from insideout_spark.plans import webtext

    p = _plan(webtext.chunk_windows(_docs(spark)))
    assert "Exchange" not in p
    for py in ("ArrowEval", "BatchEvalPython", "MapInPandas"):
        assert py not in p


def test_blocklist_filter_broadcast_anti_no_shuffle(spark):
    """The corpus side must stream through a broadcast LEFT ANTI join —
    no hash-partitioned Exchange anywhere."""
    from insideout_spark.plans import webtext

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "doc_id long, source string"
    )
    p = _plan(webtext.blocklist_filter(df))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "hashpartitioning" not in p


def test_normalize_text_zero_shuffle(spark):
    """The normalization chain is a pure projection — no Exchange, no
    Python eval."""
    from insideout_spark.plans import webtext

    p = _plan(webtext.normalize_text(_docs(spark)))
    assert "Exchange" not in p
    for py in ("ArrowEval", "BatchEvalPython", "InPandas"):
        assert py not in p


_PY_STAGES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _text_pages(spark):
    from insideout_spark.sources.pages import GOLDEN_POINTS

    return spark.createDataFrame(
        [
            (f"https://example.org/{i:08d}", dt.datetime(2024, 1, 1, 0, i),
             f"page {i} geo:{la:.7f},{ln:.7f}")
            for i, (la, ln) in enumerate(GOLDEN_POINTS)
        ],
        "url string, warc_ts timestamp, text string",
    )


def test_extract_points_no_python(spark):
    """Coordinate extraction is Catalyst: every Python stage costs a
    worker set-up per task, more than the parse itself."""
    from insideout_spark.sources.pages import extract_points

    p = _plan(extract_points(_text_pages(spark)))
    for py in _PY_STAGES:
        assert py not in p


def test_pip_join_default_one_python_stage(spark, houat_index):
    """The flagship op (extract -> default fused stab) crosses into
    Python exactly once: the stab's own Arrow pass."""
    from insideout_spark.plans.pip_join import pip_join
    from insideout_spark.sources.pages import extract_points

    p = _plan(pip_join(extract_points(_text_pages(spark)), houat_index))
    assert p.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_tile_count_stream_no_python(spark):
    """Streaming tile rollups (run here on a batch frame, where the
    watermark is a no-op) have no Python stage."""
    from insideout_spark.streaming.tile_counts import tile_count_stream

    p = _plan(tile_count_stream(_text_pages(spark)))
    for py in _PY_STAGES:
        assert py not in p


def test_default_geocode_op_is_one_stab_pass_one_job(spark, houat_index, jobs_started):
    """The default P1 geocode op, `pip_join(extract_points(pages), idx,
    include_properties=False)`, is the extraction and one MapInPandas
    stab that emits admin_level itself: no broadcast, no join, no
    second not-null filter on lat/lng. A noop write of it runs exactly
    one Spark job."""
    from insideout_spark.plans.pip_join import pip_join
    from insideout_spark.sources.pages import GOLDEN_POINTS, extract_points

    pages = spark.createDataFrame(
        [(f"u{i}", f"page geo:{la},{ln}") for i, (la, ln) in enumerate(GOLDEN_POINTS)]
        + [("none", "no token")],
        "url string, text string",
    )
    houat_index.stab_broadcast()  # hydrated once per index, not per op
    op = pip_join(extract_points(pages), houat_index, include_properties=False)
    assert op.columns[-1] == "admin_level"
    p = _plan(op)
    assert p.count("MapInPandas") == 1
    for banned in ("BroadcastExchange", "Join"):
        assert banned not in p
    filters = [ln for ln in p.splitlines() if "Filter" in ln]
    # the only filter is the extraction's, on the regex-extracted text
    assert len(filters) == 1 and "regexp_extract" in filters[0], filters
    assert jobs_started(lambda: op.write.format("noop").mode("overwrite").save()) == 1
