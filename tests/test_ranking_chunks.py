"""BM25 ranking, vocabulary stats, chunk-level dedup, int8 quantization,
and exact stratified sampling — the round-2 continuation operators."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_error_handling_spark.datapipe.chunks import (
    chunk_dedup_stats,
    chunk_tokens,
)
from kafka_error_handling_spark.datapipe.ranking import bm25_topk, vocab_df
from kafka_error_handling_spark.datapipe.sampling import stratified_exact
from kafka_error_handling_spark.datapipe.similarity import (
    int8_quantize,
    knn_bruteforce,
    knn_int8,
)
from kafka_error_handling_spark.sources.files import load_table


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_hand_computed(spark):
    """Two tiny docs scored against a one-term query, checked against the
    textbook formula computed by hand in Python."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="cat sat on the mat"),  # tf=1, dl=5
            Row(doc_id=2, text="dog dog dog dog"),  # tf=0, dl=4
            Row(doc_id=3, text="cat cat runs"),  # tf=2, dl=3
        ]
    )
    out = {r.doc_id: r.bm25 for r in bm25_topk(docs, ["cat"], k=10).collect()}
    n, df, avgdl, k1, b = 3, 2, 4.0, 1.2, 0.75
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1)

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert out[1] == math.floor(score(1, 5) * 10000) / 10000
    assert out[3] == math.floor(score(2, 3) * 10000) / 10000
    assert 2 not in out  # zero-score docs filtered


def test_bm25_ranking_is_deterministic_topk(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    a = bm25_topk(d, ["spark", "join"], k=10).collect()
    b = bm25_topk(d.repartition(13), ["spark", "join"], k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bm25_plan_has_no_explode_and_broadcasts_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    plan = bm25_topk(d, ["spark"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode: term-at-a-time array filter
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_vocab_df_counts(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a"), Row(doc_id=2, text="a c")]
    )
    out = {r.token: (r.df, r.cf) for r in vocab_df(docs).collect()}
    assert out == {"a": (2, 3), "b": (1, 1), "c": (1, 1)}


# ---------------------------------------------------------------------------
# chunk-level dedup
# ---------------------------------------------------------------------------


def test_chunk_tokens_widths_and_positions(spark):
    docs = spark.createDataFrame([Row(doc_id=7, text=" ".join(f"t{i}" for i in range(45)))])
    ch = chunk_tokens(docs, width=20).collect()
    assert [r.chunk_pos for r in ch] == [0, 1, 2]
    assert ch[0].chunk.split(" ") == [f"t{i}" for i in range(20)]
    assert ch[2].chunk.split(" ") == [f"t{i}" for i in range(40, 45)]  # short tail


def test_chunk_dedup_keep_first_across_docs(spark):
    """A chunk repeated in a later doc counts as that doc's duplicate; the
    first occurrence (lowest doc_id, then position) is the keeper."""
    boiler = " ".join(["x"] * 20)
    uniq1 = " ".join(f"a{i}" for i in range(20))
    uniq2 = " ".join(f"b{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{boiler} {uniq1}"),
            Row(doc_id=2, text=f"{boiler} {uniq2}"),
            Row(doc_id=3, text=boiler),
        ]
    )
    out = {r.doc_id: (r.n_chunks, r.n_dup_chunks) for r in chunk_dedup_stats(docs, 20).collect()}
    assert out == {1: (2, 0), 2: (2, 1), 3: (1, 1)}


def test_chunk_dedup_intra_doc_repeat(spark):
    boiler = " ".join(["y"] * 20)
    docs = spark.createDataFrame([Row(doc_id=5, text=f"{boiler} {boiler}")])
    out = chunk_dedup_stats(docs, 20).collect()[0]
    assert (out.n_chunks, out.n_dup_chunks) == (2, 1)


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------


def test_int8_quantize_codes_and_scale(spark):
    df = spark.createDataFrame([Row(v=[1.0, -0.5, 0.25, 0.0])])
    r = df.select(int8_quantize(F.col("v")).alias("s")).collect()[0].s
    assert r.scale == pytest.approx(1.0 / 127)
    assert list(r.q) == [127, -63, 32, 0]  # floor(x/scale + .5)
    assert max(abs(c) for c in r.q) <= 127


def test_int8_zero_vector_guard(spark):
    df = spark.createDataFrame([Row(v=[0.0, 0.0])])
    r = df.select(int8_quantize(F.col("v")).alias("s")).collect()[0].s
    assert list(r.q) == [0, 0] and r.scale == 1.0


def test_int8_recall_reasonable_on_testdata(spark, sf_dir):
    """Quantization should barely perturb a 64-dim ranking: recall@5 of
    the int8 top-k vs the exact float top-k stays high."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, k=5).collect()
    }
    quant = {(r.query_id, r.neighbor_id) for r in knn_int8(e, q, k=5).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"int8 recall {recall}"


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


def test_stratified_exact_quota_per_group(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    totals = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    s = stratified_exact(d, "source", "doc_id", 0.10)
    got = {r.source: r.n for r in s.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got == {src: math.ceil(n * 0.10) for src, n in totals.items()}


def test_stratified_exact_deterministic_membership(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in stratified_exact(d, "source", "doc_id", 0.25).collect()}
    b = {
        r.doc_id
        for r in stratified_exact(d.repartition(11), "source", "doc_id", 0.25).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# PII scrub + bigrams
# ---------------------------------------------------------------------------


def test_scrub_pii_replaces_typed_spans(spark):
    from kafka_error_handling_spark.datapipe.text import scrub_pii

    df = spark.createDataFrame(
        [Row(t="mail me at bob.smith@corp.io or +555-12-3456 via https://x.io/a b")]
    )
    out = df.select(scrub_pii(F.col("t")).alias("c")).collect()[0].c
    assert out == "mail me at <EMAIL> or <PHONE> via <URL> b"


def test_bigram_counts_exact(spark):
    from kafka_error_handling_spark.datapipe.text import bigram_counts

    docs = spark.createDataFrame(
        [Row(text="a b a b"), Row(text="b a")]
    )
    out = {r.bigram: r.n for r in bigram_counts(docs).collect()}
    assert out == {"a b": 2, "b a": 2}


def test_chunk_dedup_apply_identity_on_unique_corpus(spark):
    """Invariant: with no duplicated chunks anywhere, apply() returns every
    document byte-identical."""
    from kafka_error_handling_spark.datapipe.chunks import chunk_dedup_apply

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(f"w{i}_{j}" for j in range(47)))
            for i in range(5)
        ]
    )
    out = {r.doc_id: r.clean_text for r in chunk_dedup_apply(docs, 20).collect()}
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert out == orig


def test_chunk_dedup_apply_removes_boilerplate_in_order(spark):
    from kafka_error_handling_spark.datapipe.chunks import chunk_dedup_apply

    boiler = " ".join(["x"] * 20)
    head = " ".join(f"h{i}" for i in range(20))
    tail = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=boiler),
            Row(doc_id=2, text=f"{head} {boiler} {tail}"),
        ]
    )
    out = {r.doc_id: r.clean_text for r in chunk_dedup_apply(docs, 20).collect()}
    assert out[1] == boiler          # first occurrence kept
    assert out[2] == f"{head} {tail}"  # middle boilerplate removed, order kept


def test_cdc_chunking_shift_resistant(spark):
    """Insert one token at the head of a doc: content-defined boundaries
    resync, so most chunk digests survive; fixed-width chunking loses
    (almost) all of them.  This is the property CDC exists for."""
    from kafka_error_handling_spark.datapipe.chunks import cdc_chunks, chunk_tokens

    base = " ".join(f"tok{i}" for i in range(200))
    shifted = "INSERTED " + base
    df = spark.createDataFrame([(1, base), (2, shifted)], "doc_id long, text string")

    def digests(ch):
        rows = ch.select("doc_id", F.md5("chunk").alias("h")).collect()
        a = {r.h for r in rows if r.doc_id == 1}
        b = {r.h for r in rows if r.doc_id == 2}
        return len(a & b) / len(a)

    cdc_overlap = digests(cdc_chunks(df))
    fixed_overlap = digests(chunk_tokens(df, width=4))
    assert cdc_overlap > 0.8, f"CDC overlap only {cdc_overlap:.2f}"
    assert fixed_overlap < 0.2, f"fixed-width overlap unexpectedly {fixed_overlap:.2f}"


def test_cdc_chunking_short_and_empty_docs(spark):
    """Docs shorter than the gram width produce one whole-doc chunk and no
    out-of-range slices (sequence() descends when stop < start)."""
    from kafka_error_handling_spark.datapipe.chunks import cdc_chunks

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three")],
        "doc_id long, text string",
    )
    rows = cdc_chunks(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.chunk)
    assert by_doc[1] == [""]
    assert by_doc[2] == ["one"]
    assert by_doc[3] == ["one two"]
    assert by_doc[4] == ["one two three"]


# ---------------------------------------------------------------------------
# Wide-topic eval engine (VERDICT r12 #1): the data-driven shape must be
# bit-identical to the unrolled engine, dispatch only above
# EVAL_UNROLL_MAX, keep a literal topic formula, and release its
# persist-with-lineage cache when the returned frame is dropped.
# ---------------------------------------------------------------------------


def test_wide_engine_bit_parity_with_unrolled(spark, sf_dir):
    """Every per-(ranker, qid) metric row from the data-driven engine
    equals the unrolled engine's EXACTLY (integer ppm metrics are only
    equal when the underlying float rankings are bit-identical, so this
    is the fold-order/skipped-zero-term contract in one assert)."""
    from kafka_error_handling_spark.datapipe.ranking import (
        EVAL_MACRO_QUERIES,
        _batched_eval,
        _batched_eval_wide,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    key = lambda r: (r["ranker"], r["qid"])  # noqa: E731
    a = sorted(_batched_eval(docs, emb, EVAL_MACRO_QUERIES).collect(), key=key)
    b = sorted(
        _batched_eval_wide(docs, emb, EVAL_MACRO_QUERIES).collect(), key=key
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_batched_eval_dispatch_threshold(spark, sf_dir):
    """<= EVAL_UNROLL_MAX topics compile the unrolled fused scan (no
    cache barrier in the plan); one more topic flips to the data-driven
    engine (persist barrier present, plan width constant)."""
    from kafka_error_handling_spark.datapipe.ranking import (
        EVAL_UNROLL_MAX,
        _EVAL_VOCAB,
        _batched_eval,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def topics(n):
        return [
            ([_EVAL_VOCAB[i % len(_EVAL_VOCAB)],
              _EVAL_VOCAB[(i + 5) % len(_EVAL_VOCAB)]], i)
            for i in range(n)
        ]

    at_max = _batched_eval(docs, emb, topics(EVAL_UNROLL_MAX))
    over = _batched_eval(docs, emb, topics(EVAL_UNROLL_MAX + 1))
    assert "InMemoryTableScan" not in at_max._jdf.queryExecution().toString()
    assert "InMemoryTableScan" in over._jdf.queryExecution().toString()
    over._keh_finalizer()  # release the dispatch probe's cache eagerly


def test_wide_topic_set_is_pinned():
    """The 60-topic gate set is a deterministic formula over the fixed
    vocabulary literal: lengths cycle 2/3/4, terms are distinct within a
    topic, dense vector ids are 0..59."""
    from kafka_error_handling_spark.datapipe.ranking import (
        _EVAL_VOCAB,
        EVAL_WIDE_N,
        EVAL_WIDE_QUERIES,
    )

    assert len(EVAL_WIDE_QUERIES) == EVAL_WIDE_N == 60
    assert [v for _t, v in EVAL_WIDE_QUERIES] == list(range(60))
    for i, (terms, _v) in enumerate(EVAL_WIDE_QUERIES):
        assert len(terms) == 2 + i % 3
        assert len(set(terms)) == len(terms)
        assert all(t in _EVAL_VOCAB for t in terms)
    assert EVAL_WIDE_QUERIES[0][0] == ["batch", "agg"]
    assert EVAL_WIDE_QUERIES[1][0] == ["big", "row", "table"]


def test_wide_oracle_sql_stays_bounded():
    """60 independent per-query pipelines render ~330 KB of oracle SQL —
    bounded, and each wraps the single-sourced bm25/hybrid cores (the
    wire-gate inlining lesson applied to the eval oracle)."""
    from kafka_error_handling_spark.datapipe.ranking import (
        EVAL_WIDE_QUERIES,
        _sql_eval_macro,
    )

    sql = _sql_eval_macro(EVAL_WIDE_QUERIES)
    assert len(sql) < 500_000
    assert sql.count("UNION ALL") >= 60


def test_wide_eval_cache_released_on_gc(spark, sf_dir):
    """The wide engine's persisted frequency frame is anchored to the
    frame search_eval_macro RETURNS (the re-anchor protocol — a chained
    .select would otherwise drop the barrier, ADVICE r12) and unpersists
    when the caller drops it."""
    import gc
    import time

    from kafka_error_handling_spark.datapipe.ranking import (
        EVAL_WIDE_QUERIES,
        search_eval_macro,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # track only the RDD ids this call persists: caches of earlier tests
    # may be released by GC while this one runs
    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted_ids()
    out = search_eval_macro(docs, emb, EVAL_WIDE_QUERIES)
    assert getattr(out, "_keh_caches", None), "re-anchor protocol lost the cache"
    out.collect()
    created = persisted_ids() - before
    assert created, "the barrier never materialized a cache"
    del out
    gc.collect()
    deadline = time.time() + 10
    while time.time() < deadline:
        if not created & persisted_ids():
            break
        time.sleep(0.5)
    assert not created & persisted_ids(), "wide-eval cache survived GC of the result"


def test_bm25_topk_multi_matches_single_query(spark, sf_dir):
    """The batch-labeling API's per-qid slice IS bm25_topk's answer:
    same floored scores, same (score desc, id asc) order, same >0 cut —
    the single-query contract checked per query through the batch
    path."""
    from kafka_error_handling_spark.datapipe.ranking import (
        bm25_topk,
        bm25_topk_multi,
    )

    docs = load_table(spark, sf_dir, "documents")
    term_lists = [["spark", "join", "window"], ["vector", "query"], ["dup"]]
    multi = bm25_topk_multi(docs, term_lists, k=10).collect()
    for qid, terms in enumerate(term_lists):
        got = [
            (r["doc_id"], r["bm25"])
            for r in sorted(
                (r for r in multi if r["qid"] == qid), key=lambda r: r["rank"]
            )
        ]
        want = [(r["doc_id"], r["bm25"]) for r in bm25_topk(docs, terms, k=10).collect()]
        assert got == want, f"qid {qid} diverged"


def test_wide_engine_drops_corpus_orphan_neighbors(spark):
    """Output-universe parity (r13 review #1): a dense neighbor whose id
    has NO documents row must vanish from the metrics — the unrolled
    engine's inner all-docs grade join drops it; the wide engine must
    restrict runs to corpus ids, not keep orphans as grade-0 rows.  The
    sharpest observable: a topic whose terms match nothing and whose
    dense pool is ALL orphans produces NO (hybrid_rrf, qid) row at all."""
    from kafka_error_handling_spark.datapipe.ranking import (
        _batched_eval,
        _batched_eval_wide,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    # embedding ids 100-103: none exist in docs -> every dense neighbor
    # is a corpus orphan
    emb = spark.createDataFrame(
        [(100 + i, [float(i), 1.0, 2.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    topics = [(["nosuchterm"], 100)]
    a = _batched_eval(docs, emb, topics).collect()
    b = _batched_eval_wide(docs, emb, topics).collect()
    assert a == [] and b == [], (a, b)


def test_bm25_topk_multi_rejects_empty_query_set(spark):
    from kafka_error_handling_spark.datapipe.ranking import bm25_topk_multi

    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="non-empty"):
        bm25_topk_multi(docs, [])


def test_reanchor_detaches_upstream_finalizer(spark):
    """_reanchor_caches must DETACH the upstream wrapper's finalizer:
    if it merely re-registered, GC of the intermediate frame would
    unpersist the cache out from under the chained result (the exact
    early-release bug the re-anchor protocol exists to prevent)."""
    import gc

    from kafka_error_handling_spark.datapipe.ranking import (
        _anchor_caches,
        _reanchor_caches,
    )

    def n_persisted():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    baseline = n_persisted()
    cached = spark.range(10).persist()
    cached.count()
    assert n_persisted() == baseline + 1
    inner = _anchor_caches(spark.range(10).selectExpr("id * 2 AS id"), cached)
    outer = _reanchor_caches(inner.selectExpr("id + 1 AS id"), inner)
    del inner
    gc.collect()
    # the cache must SURVIVE the intermediate wrapper's GC
    assert n_persisted() == baseline + 1, "re-anchor failed to detach upstream"
    assert outer.count() == 10
    del outer
    gc.collect()
    import time as _t
    deadline = _t.time() + 10
    while _t.time() < deadline and n_persisted() > baseline:
        _t.sleep(0.5)
    assert n_persisted() == baseline, "re-anchored cache leaked past result GC"
