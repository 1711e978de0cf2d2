"""Text analysis for large-scale training-data pipelines.

All functions are pure Spark column expressions (JVM-side, whole-stage
codegen, no Python UDFs in the hot path) so they run at 100 TB without
Python worker overhead: language-ID (marker n-gram heuristic), quality
scoring (length / stopword / token-shape ratios), token counting
(whitespace + BPE-ish regex), and document fingerprinting (polynomial
rolling hash via higher-order array functions).

These are the "flaky user function" workloads the error-handling engine
exists to wrap — each can also be run under ``capture_errors`` — but their
reference implementations here are UDF-free on purpose.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_table

__all__ = [
    "token_count",
    "bpe_ish_token_count",
    "stopword_ratio",
    "quality_score",
    "lang_id",
    "fingerprint",
]

# rolling-hash modulus (fits products in int64: acc < P, char < 2^7,
# 31*P + 127 < 2^63)
_FP_PRIME = 1_000_000_007

# small English-function-word marker set for the heuristic language scorer
_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

# marker tables: language → characteristic tokens.  Deterministic heuristic:
# score = number of marker hits per language, argmax with fixed precedence.
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "es": ["el", "la", "que"],
    "fr": ["le", "la", "et"],
    "zh": ["的", "是", "了"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(text, " "))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish upper-bound token estimate: split on word/non-word boundaries
    then count ≤4-char chunks (a cheap, deterministic stand-in for a real
    tokenizer; counts sub-word chunks the way byte-pair merges roughly do).
    """
    # ceil(len/4) summed over whitespace tokens, all JVM-side; BIGINT on
    # both sides (DuckDB list_sum widens) so the gate hash is type-stable
    return F.aggregate(
        F.split(text, " "),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"),
    )


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are English function words."""
    toks = F.split(text, " ")
    stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return stop / F.size(toks)


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, 1]: rewards mid-length docs,
    penalizes extreme stopword ratios and very short tokens.  A composition
    of the published Gopher/C4-style length+ratio rules, expressed as one
    arithmetic column."""
    n_tok = token_count(text)
    n_chars = F.length(text)
    avg_tok = (n_chars - n_tok + 1) / n_tok
    sw = stopword_ratio(text)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    tok_score = F.when((avg_tok >= 3) & (avg_tok <= 10), 1.0).otherwise(0.5)
    sw_score = F.when((sw >= 0.05) & (sw <= 0.5), 1.0).otherwise(0.6)
    return F.round(len_score * 0.4 + tok_score * 0.3 + sw_score * 0.3, 4)


def lang_id(text: Column) -> Column:
    """Marker-token language heuristic: per-language hit counts over the
    token array, argmax with deterministic precedence (en>de>es>fr>zh>unk).
    """
    toks = F.split(text, " ")

    def _marker_count(markers):
        # NB: pyspark binds a Column to every lambda parameter, so capture
        # the marker list via closure, never via a default argument.
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: _marker_count(markers) for lang, markers in _LANG_MARKERS.items()}
    best = F.lit("unk")
    best_score = F.lit(0)
    # iterate in reversed precedence so earlier langs win ties via >
    for lang in reversed(list(_LANG_MARKERS)):
        s = scores[lang]
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of the whole document (mod 1e9+7) — a
    content fingerprint computable identically in any engine; JVM-side fold
    over the character array (no UDF)."""
    chars = F.split(text, "")
    return F.aggregate(
        F.transform(chars, F.ascii),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c.cast("long")) % _FP_PRIME,
    )


# ---------------------------------------------------------------------------
# correctness-gate queries
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.round(stopword_ratio(t), 4).alias("stop_ratio"),
        F.length(t).alias("n_chars_actual"),
    )


SQL_TEXT_STATS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       CAST(list_sum(list_transform(string_split(text, ' '),
                t -> CAST(ceil(length(t) / 4.0) AS INT))) AS BIGINT) AS n_bpe_tokens,
       round(len(list_filter(string_split(text, ' '),
                t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))::DOUBLE
             / len(string_split(text, ' ')), 4) AS stop_ratio,
       length(text) AS n_chars_actual
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


SQL_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))::DOUBLE
           / len(string_split(text, ' ')) AS sw
  FROM documents
)
SELECT doc_id,
       round(least(n_tok / 50.0, 1.0) * 0.4
             + (CASE WHEN (n_chars - n_tok + 1.0)/n_tok BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.3
             + (CASE WHEN sw BETWEEN 0.05 AND 0.5 THEN 1.0 ELSE 0.6 END) * 0.3, 4) AS quality
FROM t
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_guess"))


def _sql_lang_id() -> str:
    score = {
        lang: (
            "len(list_filter(string_split(text, ' '), t -> list_contains(["
            + ",".join(f"'{m}'" for m in ms)
            + "], t)))"
        )
        for lang, ms in _LANG_MARKERS.items()
    }
    # same reversed-precedence fold as the Spark side
    expr_best = "'unk'"
    expr_score = "0"
    for lang in reversed(list(_LANG_MARKERS)):
        s = score[lang]
        expr_best = f"CASE WHEN {s} > ({expr_score}) THEN '{lang}' ELSE {expr_best} END"
        expr_score = f"CASE WHEN {s} > ({expr_score}) THEN {s} ELSE {expr_score} END"
    return f"SELECT doc_id, lang, {expr_best} AS lang_guess FROM documents"


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


SQL_FINGERPRINT = """
SELECT doc_id,
       list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                   (a, b) -> (a * 31 + b) % 1000000007) AS fp
FROM documents
"""


QUERIES = {
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_lang_id": (q_lang_id, _sql_lang_id()),
    "text_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
}


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation decision — the composed pipeline a
    training-data run actually executes: exact-dup keep/drop (groupBy on
    the digest, join back) + language gate + quality gate, emitting one
    keep/reject row per doc with the first failing rule as the reason.
    Everything is one declarative plan: a broadcast-able digest join plus
    pure projections; Catalyst fuses the gates into the scan."""
    from .dedup import content_hash

    d = load_table(spark, sf_dir, "documents")
    keepers = (
        d.select("doc_id", content_hash(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    scored = (
        d.select(
            "doc_id",
            content_hash(F.col("text")).alias("h"),
            quality_score(F.col("text")).alias("q"),
            lang_id(F.col("text")).alias("lg"),
        )
        .join(keepers, "h")
    )
    reason = (
        F.when(F.col("doc_id") != F.col("keep_id"), "duplicate")
        .when(F.col("lg") != "en", "language")
        .when(F.col("q") < 0.8, "quality")
    )
    return scored.select(
        "doc_id",
        reason.alias("reject_reason"),
        reason.isNull().cast("int").alias("keep"),
    )


def _sql_corpus_curation() -> str:
    lang_best = _sql_lang_id().split(", lang, ")[1].rsplit(" AS lang_guess", 1)[0]
    return f"""
WITH q AS ({SQL_TEXT_QUALITY}),
lg AS (SELECT doc_id, {lang_best} AS lang_guess FROM documents),
keepers AS (
  SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY md5(text)
),
s AS (
  SELECT d.doc_id, k.keep_id, q.quality, lg.lang_guess
  FROM documents d
  JOIN keepers k ON md5(d.text) = k.h
  JOIN q ON q.doc_id = d.doc_id
  JOIN lg ON lg.doc_id = d.doc_id
)
SELECT doc_id,
       CASE WHEN doc_id <> keep_id THEN 'duplicate'
            WHEN lang_guess <> 'en' THEN 'language'
            WHEN quality < 0.8 THEN 'quality' END AS reject_reason,
       CASE WHEN doc_id = keep_id AND lang_guess = 'en' AND quality >= 0.8
            THEN 1 ELSE 0 END AS keep
FROM s
"""


QUERIES["corpus_curation"] = (q_corpus_curation, _sql_corpus_curation())


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-set build a user of this engine actually
    runs, as ONE declarative plan: curation (exact-dup keep/drop +
    language + quality gates) → deterministic hash split assignment →
    per-(source, split) counts.  Catalyst fuses the whole thing into the
    digest aggregation plus two projections and one final groupBy — no
    stage materializes an intermediate corpus."""
    from .sampling import assign_split

    d = load_table(spark, sf_dir, "documents")
    cur = q_corpus_curation(spark, sf_dir)
    kept = cur.filter(F.col("keep") == 1).join(
        d.select("doc_id", "source"), "doc_id"
    )
    s = assign_split(kept, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05})
    return s.groupBy("source", "split").agg(F.count(F.lit(1)).alias("n_docs"))


def _sql_corpus_pipeline() -> str:
    # the SALTED split bucket (mirrors assign_split; duplicated from
    # sampling.py to avoid a circular import at module-load time)
    b = (
        "CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        " AS BIGINT) % 1000000"
    )
    t, v = int(0.90 * 1_000_000), int(0.95 * 1_000_000)
    return f"""
WITH cur AS ({_sql_corpus_curation()})
SELECT d.source,
       CASE WHEN {b} < {t} THEN 'train'
            WHEN {b} < {v} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM cur JOIN documents d USING (doc_id)
WHERE cur.keep = 1
GROUP BY 1, 2
"""


QUERIES["corpus_pipeline"] = (q_corpus_pipeline, _sql_corpus_pipeline())


# ---------------------------------------------------------------------------
# PII scrubbing + n-gram statistics (curation steps)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset so Spark and
# any RE2-based engine (DuckDB oracle) replace identical spans.
PII_PATTERNS = [
    ("email", r"[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{3}-[0-9]{2,4}-?[0-9]{0,4}", "<PHONE>"),
    ("url", r"https?://[^ ]+", "<URL>"),
]


def scrub_pii(text: Column) -> Column:
    """Replace email / phone / URL spans with typed placeholder tokens —
    the standard pre-training scrub pass, as chained ``regexp_replace``
    column expressions (JVM regex, scan-fused, no UDF)."""
    out = text
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: the corpus is synthetic clean words, so PII is injected
    deterministically per doc (an email + a phone tail) and then scrubbed;
    the gate pins span detection + replacement behavior cross-engine, and
    placeholder counts are exact integers."""
    d = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +555-01"),
        F.col("doc_id").cast("string"),
    )
    clean = scrub_pii(dirty)
    n_ph = (
        F.size(F.split(clean, "<EMAIL>", -1))
        + F.size(F.split(clean, "<PHONE>", -1))
        - 2
    )
    return d.select(
        "doc_id",
        F.length(clean).alias("clean_len"),
        n_ph.alias("n_scrubbed"),
        F.substring(clean, -30, 30).alias("tail"),
    )


def _sql_pii_scrub() -> str:
    email_pat = PII_PATTERNS[0][1]
    phone_pat = PII_PATTERNS[1][1]
    url_pat = PII_PATTERNS[2][1]
    return f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +555-01' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
), clean AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(t,
           '{email_pat}', '<EMAIL>', 'g'),
           '{phone_pat}', '<PHONE>', 'g'),
           '{url_pat}', '<URL>', 'g') AS c
  FROM dirty
)
SELECT doc_id,
       length(c) AS clean_len,
       len(string_split_regex(c, '<EMAIL>')) + len(string_split_regex(c, '<PHONE>')) - 2
         AS n_scrubbed,
       substr(c, length(c) - 29, 30) AS tail
FROM clean
"""


QUERIES["text_pii_scrub"] = (q_pii_scrub, _sql_pii_scrub())


def bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram statistics — the n-gram language-model counting pass.
    Bigrams are built from the token array JVM-side (element_at over an
    index sequence: no self-join, no per-token explode) and ONE explode
    feeds a groupBy(bigram) with map-side combine; the shuffle carries
    (bigram, partial count) only."""
    return (
        docs.select(F.split(F.col(text_col), " ").alias("__toks"))
        .select(F.explode(ngram_array_toks(F.col("__toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return bigram_counts(d).orderBy(F.desc("n"), F.asc("bigram")).limit(30)


SQL_BIGRAM_COUNTS = """
SELECT bigram, count(*) AS n
FROM (
  SELECT unnest(list_transform(
           range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
         )) AS bigram
  FROM documents
)
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 30
"""


QUERIES["text_bigram_counts"] = (q_bigram_counts, SQL_BIGRAM_COUNTS)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document — the published
    repetition filters (fraction of unique tokens, most-frequent-token
    share, duplicate-bigram share) that gate low-quality/looping text out
    of a pretraining corpus.

    Unique-token and bigram ratios are pure array expressions (no
    explode); the top-token share needs a per-(doc, token) count → ONE
    explode + two-level aggregate keyed on doc_id, which reuses the same
    shuffle key every per-doc op in this module uses."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.col("__toks")
    bigrams = ngram_array_toks(toks, 2)
    base = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    ).select(
        "doc_id",
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4).alias("uniq_ratio"),
        F.round(
            1.0 - F.size(F.array_distinct(bigrams)) / F.size(bigrams), 4
        ).alias("dup_bigram_frac"),
        F.size(toks).alias("n_tok"),
    )
    top = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "uniq_ratio",
        "dup_bigram_frac",
        F.round(F.col("top_c") / F.col("n_tok"), 4).alias("top_tok_frac"),
    )


SQL_TEXT_REPETITION = """
WITH base AS (
  SELECT doc_id,
         round(len(list_distinct(string_split(text, ' ')))::DOUBLE
               / len(string_split(text, ' ')), 4) AS uniq_ratio,
         round(1.0 - len(list_distinct(list_transform(
                 range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
               )))::DOUBLE
               / len(list_transform(
                 range(1, len(string_split(text, ' '))), i -> i)), 4)
           AS dup_bigram_frac,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), top AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT base.doc_id, uniq_ratio, dup_bigram_frac,
       round(top_c::DOUBLE / n_tok, 4) AS top_tok_frac
FROM base JOIN top ON base.doc_id = top.doc_id
"""


QUERIES["text_repetition"] = (q_text_repetition, SQL_TEXT_REPETITION)


# ---------------------------------------------------------------------------
# Benchmark decontamination — flag training documents that share an n-gram
# with an evaluation/benchmark set (the standard pretraining hygiene pass:
# GPT-3 report §C used 13-gram overlap; 5-grams here because the synthetic
# docs are 30–160 tokens of a small vocabulary).
# ---------------------------------------------------------------------------


def ngram_array_toks(toks: Column, n: int) -> Column:
    """All word n-grams of a pre-split token ARRAY — element_at over an
    index sequence, no explode/self-join.

    Takes the token array, not the raw text, on purpose: Spark's
    subexpression elimination does not reach inside higher-order-function
    lambdas, so building n-grams directly over ``F.split(text)`` re-splits
    the string once per element_at — measured 10× slower at sf0.1 (5.9s →
    0.6s for the 5-gram explode).  Callers materialize the split ONCE as a
    projected column and pass the column reference.

    Guarded for docs shorter than ``n`` tokens: ``F.sequence(1, stop)``
    DESCENDS when stop < 1 (it would emit bogus n-grams via negative
    ``element_at`` wraparound) — short docs yield an empty array instead.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_array(text: Column, n: int) -> Column:
    """n-grams straight from raw text — convenience form for expressions
    that are evaluated once per row; hot paths should split into a column
    first and use :func:`ngram_array_toks` (see its perf note)."""
    return ngram_array_toks(F.split(text, " "), n)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document count of distinct n-grams also present in ``benchmark``.

    Scale design: the benchmark side (eval sets — thousands of documents,
    millions of n-grams even for every published benchmark combined) is
    aggregated to DISTINCT n-grams and **broadcast**; the 100 TB corpus
    side explodes its n-grams map-side and inner-joins the broadcast set,
    so the only shuffle is the final per-doc count, keyed on the same
    ``doc_id`` every per-doc op in this module shuffles on.  Corpus rows
    with zero overlap never leave their scan stage.

    Returns (id_col, n_overlap) for contaminated documents only — the
    action on a hit is dropping the doc, so emitting the clean majority
    would be 100 TB of no-ops.
    """
    bench_grams = (
        benchmark.select(F.split(F.col(text_col), " ").alias("__toks"))
        .select(F.explode(ngram_array_toks(F.col("__toks"), n)).alias("gram"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(ngram_array_toks(F.col("__toks"), n))
        ).alias("gram"),
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: docs with doc_id % 97 == 0 act as the held-out benchmark; the
    rest of the corpus is screened against their 5-grams."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    rest = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(rest, bench, n=5)


SQL_DECONTAMINATE = """
WITH bench AS (
  SELECT DISTINCT unnest(list_transform(
           range(1, len(string_split(text, ' ')) - 3),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]
                || ' ' || string_split(text, ' ')[i+4]
         )) AS gram
  FROM documents WHERE doc_id % 97 = 0
), corp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 3),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]
                || ' ' || string_split(text, ' ')[i+4]
         ))) AS gram
  FROM documents WHERE doc_id % 97 <> 0
)
SELECT doc_id, count(*) AS n_overlap
FROM corp JOIN bench USING (gram)
GROUP BY doc_id
"""


QUERIES["text_decontaminate"] = (q_decontaminate, SQL_DECONTAMINATE)


# ---------------------------------------------------------------------------
# Semantic decontamination — the paraphrase gap the n-gram screen misses.
#
# GPT-3-style n-gram decontamination (above) only catches VERBATIM
# benchmark overlap: a paraphrased eval example shares no 5-gram with its
# source and sails through.  The semantic screen compares embeddings
# instead: a corpus document whose max cosine against ANY benchmark
# embedding reaches ``tau`` is flagged (with the offending benchmark id),
# regardless of surface form.
#
# Scale design (the SemDeDup-style scoping: nothing all-pairs): the
# benchmark side is every published eval set combined — thousands to a
# few hundred thousand vectors, bounded by MAX_QUERY_VECTORS like every
# driver-bounded query set in similarity.py — aggregated once and
# **broadcast**; the 100 TB corpus side is ONE scan crossed against the
# broadcast set with the tau filter applied map-side, so only suspicious
# (doc, bench) pairs ever reach the per-doc argmax shuffle — keyed on the
# same doc_id every per-doc op in this module shuffles on.  Clean corpus
# rows never leave their scan stage, mirroring the n-gram screen above.
# ---------------------------------------------------------------------------

#: flag threshold, calibrated to the synthetic testdata geometry (max
#: cross-split cosine ≈ 0.50; real eval-contamination screens run at
#: 0.9+ on real embedding spaces — a gate that cannot fire verifies
#: nothing, so the knob follows the data like embedding_neardup's)
SEMANTIC_DECONTAM_TAU = 0.35


def decontaminate_semantic(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    tau: float = SEMANTIC_DECONTAM_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-document nearest benchmark embedding at cosine ≥ ``tau``.

    Returns (doc_id, bench_id, max_cos) for contaminated documents only —
    like :func:`decontaminate`, the action on a hit is dropping the doc,
    so emitting the clean 100 TB majority would be all no-ops.  Argmax
    ties break on bench_id ascending (deterministic under any partition
    layout, the knn-gate convention).

    r14 (guide §4.2): scoring is one BLAS matmul per Arrow batch instead
    of the interpreted ``zip_with``/``aggregate`` fold per (corpus, bench)
    pair — the bounded bench matrix rides a broadcast variable, and
    because every corpus row sees the WHOLE bench side inside its batch,
    the tau filter AND the per-doc argmax complete map-side: the plan has
    ZERO exchanges (the old shape shuffled the suspicious pairs into a
    per-doc row_number window).  Operation order matches the old
    expression and the DuckDB oracle — dot, divide by norm product, round
    to 4 — and the argmax scans bench ids ascending so ties break
    identically; verified value-hash-equal at all 3 SFs."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from .similarity import _take_query_set

    spark = corpus_emb.sparkSession
    brows = _take_query_set(bench_emb, id_col, vec_col, "decontaminate_semantic")
    brows.sort(key=lambda r: r[0])  # ids ascending → argmax first-hit = min id
    bids = np.array([r[0] for r in brows], dtype=np.int64)
    B = np.array([list(r[1]) for r in brows], dtype=np.float64)
    bn = np.sqrt((B * B).sum(axis=1))
    bb = spark.sparkContext.broadcast((bids, B, bn))

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("bench_id", LongType()),
            StructField("max_cos", DoubleType()),
        ]
    )

    def _screen(batches):
        import pandas as pd

        k_bids, k_B, k_bn = bb.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cn = np.sqrt((C * C).sum(axis=1))
            S = np.round((C @ k_B.T) / np.outer(cn, k_bn), 4)
            best = S.max(axis=1)
            keep = best >= tau
            if not keep.any():
                continue
            j = np.argmax(S[keep] == best[keep][:, None], axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values[keep].astype("int64"),
                    "bench_id": k_bids[j],
                    "max_cos": best[keep],
                }
            )

    return corpus_emb.select(id_col, vec_col).mapInPandas(_screen, schema)


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: embeddings with vec_id % 97 == 0 act as the held-out
    benchmark set (the same held-out ids the n-gram gate uses on the
    documents side); the rest of the corpus is screened semantically."""
    e = load_table(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") % 97 == 0)
    rest = e.filter(F.col("vec_id") % 97 != 0)
    return decontaminate_semantic(rest, bench)


_SQL_DECONTAM_COS = (
    "round(list_dot_product(c.ev, b.ev) / (sqrt(list_dot_product(c.ev, c.ev))"
    " * sqrt(list_dot_product(b.ev, b.ev))), 4)"
)

SQL_DECONTAMINATE_SEMANTIC = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
bench AS (SELECT * FROM e WHERE vec_id % 97 = 0),
corp AS (SELECT * FROM e WHERE vec_id % 97 <> 0),
suspicious AS (
  SELECT c.vec_id AS doc_id, b.vec_id AS bench_id,
         {_SQL_DECONTAM_COS} AS cos_sim
  FROM corp c JOIN bench b ON {_SQL_DECONTAM_COS} >= {SEMANTIC_DECONTAM_TAU}
)
SELECT doc_id, bench_id, cos_sim AS max_cos
FROM (
  SELECT doc_id, bench_id, cos_sim,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cos_sim DESC, bench_id ASC) AS rn
  FROM suspicious
) WHERE rn = 1
"""


QUERIES["text_decontaminate_semantic"] = (
    q_decontaminate_semantic,
    SQL_DECONTAMINATE_SEMANTIC,
)


def q_decontaminate_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram screen vs semantic screen, per flagged document: the rows
    where ``sem_hit AND NOT ngram_hit`` are exactly the paraphrase gap the
    verbatim screen cannot see.  Population = corpus docs that have an
    embedding row (semantic screening needs geometry); benchmark = the
    shared %97 held-out ids on both screens."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    bench_docs = d.filter(F.col("doc_id") % 97 == 0)
    rest_docs = d.filter(F.col("doc_id") % 97 != 0)
    ngram_hits = decontaminate(rest_docs, bench_docs, n=5).select(
        "doc_id", F.lit(True).alias("ngram_hit")
    )
    sem_hits = decontaminate_semantic(
        e.filter(F.col("vec_id") % 97 != 0),
        e.filter(F.col("vec_id") % 97 == 0),
    ).select("doc_id", F.lit(True).alias("sem_hit"))
    pop = rest_docs.join(
        e.select(F.col("vec_id").alias("doc_id")), "doc_id"
    ).select("doc_id")
    return (
        pop.join(ngram_hits, "doc_id", "left")
        .join(sem_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("ngram_hit"), F.lit(False)).alias("ngram_hit"),
            F.coalesce(F.col("sem_hit"), F.lit(False)).alias("sem_hit"),
        )
        .filter(F.col("ngram_hit") | F.col("sem_hit"))
    )


SQL_DECONTAMINATE_COMPARE = f"""
WITH ngram_hits AS (
  SELECT doc_id, true AS ngram_hit FROM ({SQL_DECONTAMINATE})
), sem_hits AS (
  SELECT doc_id, true AS sem_hit FROM ({SQL_DECONTAMINATE_SEMANTIC})
), pop AS (
  SELECT d.doc_id FROM documents d
  JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.doc_id % 97 <> 0
)
SELECT p.doc_id,
       coalesce(n.ngram_hit, false) AS ngram_hit,
       coalesce(s.sem_hit, false) AS sem_hit
FROM pop p
LEFT JOIN ngram_hits n USING (doc_id)
LEFT JOIN sem_hits s USING (doc_id)
WHERE coalesce(n.ngram_hit, false) OR coalesce(s.sem_hit, false)
"""


QUERIES["text_decontaminate_compare"] = (
    q_decontaminate_compare,
    SQL_DECONTAMINATE_COMPARE,
)


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring — the CCNet-style "perplexity filter": score
# each document by the average log-probability its corpus bigram LM
# (add-one smoothed) assigns to it; low scores mark out-of-distribution /
# garbled text for dropping or down-sampling.
# ---------------------------------------------------------------------------


def lm_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document avg ln P(w_i | w_{i-1}) under the corpus's own add-one
    smoothed bigram model.

    Scale design (r14, guide §2.4): TWO fan-out passes over the corpus —
    the per-doc bigram stream and the unigram counts.  The bigram count
    table is no longer a third explode+groupBy: ``doc_bi`` holds every
    bigram occurrence, so ``count(*) over (partition by bigram)`` on the
    stream the join already exchanges by ``bigram`` IS the corpus bigram
    count — exactly (integer count of identical rows), one pass and one
    exchange cheaper.  Vocab size is a count over the unigram aggregate;
    the explicit ``isnotnull(w1)`` below that aggregate matches the
    constraint the w1 join infers on its branch, so the two consumers
    canonicalize to ONE exchange (without it, measured: the vocab branch
    re-ran the whole unigram explode).  The unigram join side is
    corpus-vocab-sized at 100 TB, so it stays a plain shuffle join keyed
    on the token; the final per-doc average shuffles on ``doc_id`` like
    every per-doc op here.  Counts are exact integers, so the only
    cross-engine float work is the ln/avg, rounded to 4 decimals.
    """
    from pyspark.sql.window import Window

    # split ONCE into a projected column; see ngram_array_toks perf note
    tokenized = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )

    uni = (
        tokenized.select(F.explode(F.col("__toks")).alias("w1"))
        .filter(F.col("w1").isNotNull())
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    # vocab size = row count of `uni`, but written so the vocab branch's
    # partial aggregate still CARRIES c_uni: with a plain count(*) (or
    # count(c_uni) — rewritten to count(*) since c_uni is provably
    # non-null) the optimizer prunes c_uni out of this branch, its
    # exchange no longer canonicalizes with the join branch's, and the
    # whole unigram explode runs twice (measured in the AQE final plan).
    # The when-guard references c_uni in a way the optimizer cannot fold
    # (c_uni >= 1 holds for every count(1) group, so the value is the
    # same vocab size), which makes the two exchanges byte-identical and
    # lets AQE build the unigram table ONCE.
    vocab = uni.agg(
        F.count(F.when(F.col("c_uni") >= 1, F.lit(1))).alias("v")
    )

    # build (bigram, w1) in ONE transform pass: deriving w1 by re-splitting
    # the bigram string after the explode costs an extra per-occurrence
    # split over the biggest row count in the query (bench r5 bisect)
    toks = F.col("__toks")
    bi_structs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
            lambda i: F.struct(
                F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ).alias("bigram"),
                F.element_at(toks, i).alias("w1"),
            ),
        ),
    )
    doc_bi = (
        tokenized.filter(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(bi_structs).alias("bs"))
        .select(id_col, F.col("bs.bigram").alias("bigram"), F.col("bs.w1").alias("w1"))
    )
    # corpus bigram count without a second corpus explode: every
    # occurrence is a doc_bi row, so the per-bigram window count over
    # this stream equals the old separate groupBy table exactly, and the
    # inner join it replaces never dropped a row (every doc_bi bigram
    # counts itself at least once).
    #
    # SKEW CLIFF (ADVICE r14): a window count has no map-side partial
    # aggregation and AQE skew handling only splits JOINS — every
    # occurrence of one bigram lands in ONE WindowExec task.  On the
    # bench corpus the hottest bigram is a tiny fraction of rows, so the
    # one-fan-out window wins; on a Zipfian web corpus the top bigram
    # can be ~1% of ALL occurrences and that single task becomes the
    # stage.  The cluster-scale mitigation is the r13 shape this
    # replaced: groupBy("bigram").count() (map-side combine absorbs the
    # skew) joined back to doc_bi (AQE skew-join can split the probe
    # side) — it costs a second doc_bi fan-out (the pruned partial agg
    # stops the exchanges canonicalizing) but has no single-key cliff.
    # Choose by max-key share at deploy time; the two forms are
    # value-identical (the r14 oracle sweep covered both).
    w_bi = Window.partitionBy("bigram")

    return (
        doc_bi.withColumn("c_bi", F.count(F.lit(1)).over(w_bi))
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log((F.col("c_bi") + 1) / (F.col("c_uni") + F.col("v")))
                ),
                4,
            ).alias("avg_logp"),
        )
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_score(load_table(spark, sf_dir, "documents"))


SQL_LM_SCORE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), doc_bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks WHERE len(t) >= 2
), uni AS (
  SELECT w1, count(*) AS c_uni
  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1
), bi AS (
  SELECT bigram, count(*) AS c_bi FROM doc_bi GROUP BY bigram
), vocab AS (
  SELECT count(*) AS v FROM uni
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(avg(ln((c_bi + 1)::DOUBLE / (c_uni + v))), 4) AS avg_logp
FROM doc_bi
JOIN bi USING (bigram)
JOIN uni ON string_split(bigram, ' ')[1] = uni.w1
CROSS JOIN vocab
GROUP BY doc_id
"""


QUERIES["text_lm_score"] = (q_lm_score, SQL_LM_SCORE)



# ---------------------------------------------------------------------------
# Gopher-style rule audit (Rae et al. 2021, §A1.1, adapted to deterministic
# thresholds): instead of silently dropping documents, report per-rule
# violation counts per source — the transparency artifact a curation
# pipeline publishes so threshold changes are reviewable.  Every rule is a
# pure column expression over the token array (one pass, no shuffle until
# the final per-source agg); the mode-token rule uses a distinct×scan HOF
# (O(n·d) per doc — bounded by doc length, never by corpus size).
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 1000
GOPHER_MIN_MEAN_LEN = 2.0
GOPHER_MAX_MEAN_LEN = 8.0
GOPHER_MIN_STOPWORD_RATIO = 0.02
GOPHER_MAX_TOP_TOKEN_FRACTION = 0.20


def gopher_rules(text: Column) -> dict:
    """Named violation flags (True = violates) for one text column."""
    toks = F.split(text, " ")
    n = F.size(toks)
    mean_len = (F.length(text) - n + 1) / n
    sw = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))) / n
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda d: F.size(F.filter(toks, lambda t: t == d)),
            )
        )
        / n
    )
    return {
        "word_count": (n < GOPHER_MIN_WORDS) | (n > GOPHER_MAX_WORDS),
        "mean_word_len": (mean_len < GOPHER_MIN_MEAN_LEN)
        | (mean_len > GOPHER_MAX_MEAN_LEN),
        "stopword_ratio": sw < GOPHER_MIN_STOPWORD_RATIO,
        "repetition": top_frac > GOPHER_MAX_TOP_TOKEN_FRACTION,
    }


def gopher_pass(text: Column) -> Column:
    """True = the document violates NO gopher rule — semantically the
    conjunction of ``~gopher_rules(text)`` flags, re-expressed for hot
    paths that evaluate the label once per corpus document (the NB
    quality classifier's weak label).

    The only non-trivial rewrite is the repetition rule: the audit's
    distinct×scan mode-token count is O(tokens × distinct) per document
    (fine for one report scan, ~220 µs/doc measured at sf0.1 — ruinous
    when a pipeline evaluates it among other per-doc work); here the
    mode count is the longest equal-run of the SORTED token array — an
    O(n log n) sort plus one O(n) fold, ~7× fewer lambda evaluations at
    the corpus' ~100-token documents.  Max multiplicity == max sorted
    run length, so the flags are exactly equal; pinned against
    ``gopher_rules`` row-by-row on the gate corpus by
    ``test_gopher_pass_equals_rule_audit``."""
    toks = F.split(text, " ")
    n = F.size(toks)
    mean_len = (F.length(text) - n + 1) / n
    sw = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))) / n
    # longest run in the sorted array: fold state (prev, run, best); the
    # "" init is safe — a leading "" token folds to run=0+1=1 like any
    # first element
    run_state = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_frac = run_state["best"] / n
    return (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_LEN)
        & (sw >= GOPHER_MIN_STOPWORD_RATIO)
        & (top_frac <= GOPHER_MAX_TOP_TOKEN_FRACTION)
    )


def gopher_report(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-source rule audit: n_docs, one violation count per rule, and
    n_pass (documents violating no rule)."""
    rules = gopher_rules(F.col(text_col))
    flagged = docs.select(
        F.col(group_col),
        *[v.alias(f"viol_{k}") for k, v in rules.items()],
    )
    none = ~flagged["viol_word_count"]
    for k in ("mean_word_len", "stopword_ratio", "repetition"):
        none = none & ~flagged[f"viol_{k}"]
    return flagged.withColumn("ok", none).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.col(f"viol_{k}").cast("long")).alias(f"viol_{k}")
            for k in ("word_count", "mean_word_len", "stopword_ratio", "repetition")
        ],
        F.sum(F.col("ok").cast("long")).alias("n_pass"),
    )


def q_gopher_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_report(load_table(spark, sf_dir, "documents"))


def _sql_gopher_flags() -> dict:
    """The four rule predicates as DuckDB SQL over columns (toks, n,
    n_chars) — the ONE oracle-side mirror of :func:`gopher_rules`, shared
    by every oracle that applies the rules (report + pipeline below)."""
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return {
        "v_wc": f"(n < {GOPHER_MIN_WORDS} OR n > {GOPHER_MAX_WORDS})",
        "v_ml": (
            f"((n_chars - n + 1) / n < {GOPHER_MIN_MEAN_LEN}"
            f" OR (n_chars - n + 1) / n > {GOPHER_MAX_MEAN_LEN})"
        ),
        "v_sw": (
            f"(len(list_filter(toks, x -> x IN ({stop_list}))) / n"
            f" < {GOPHER_MIN_STOPWORD_RATIO})"
        ),
        "v_rep": (
            "(list_max(list_transform(list_distinct(toks),"
            " d -> len(list_filter(toks, x -> x = d)))) / n"
            f" > {GOPHER_MAX_TOP_TOKEN_FRACTION})"
        ),
    }


def _sql_gopher_report() -> str:
    g = _sql_gopher_flags()
    return f"""
WITH t AS (
  SELECT source,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n,
         length(text) AS n_chars
  FROM documents
), r AS (
  SELECT source,
         {g["v_wc"]} AS v_wc,
         {g["v_ml"]} AS v_ml,
         {g["v_sw"]} AS v_sw,
         {g["v_rep"]} AS v_rep
  FROM t
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN v_wc THEN 1 ELSE 0 END) AS BIGINT) AS viol_word_count,
       CAST(sum(CASE WHEN v_ml THEN 1 ELSE 0 END) AS BIGINT) AS viol_mean_word_len,
       CAST(sum(CASE WHEN v_sw THEN 1 ELSE 0 END) AS BIGINT) AS viol_stopword_ratio,
       CAST(sum(CASE WHEN v_rep THEN 1 ELSE 0 END) AS BIGINT) AS viol_repetition,
       CAST(sum(CASE WHEN NOT v_wc AND NOT v_ml AND NOT v_sw AND NOT v_rep
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM r
GROUP BY source
"""


QUERIES["quality_gopher_report"] = (q_gopher_report, _sql_gopher_report())


def q_corpus_pipeline_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third flagship composition: cross-source priority dedup (keep the
    most-trusted copy) → Gopher rule filter (keep clean docs) →
    per-(source, lang) corpus accounting, as ONE declarative plan — the
    round-3 operators composing end-to-end without materialization."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    prio = F.substring(F.col("source"), 4, 10).cast("int")
    w = Window.partitionBy("h").orderBy(F.asc("prio"), F.asc("doc_id"))
    kept = (
        d.select(
            "doc_id", "source", "lang", "text",
            prio.alias("prio"),
            F.md5(F.col("text")).alias("h"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    # r14: conjunction-only consumer → the O(n log n) gopher_pass form
    # (pinned equal to the audit flags; see q_corpus_pretrain_mix)
    clean = kept.filter(gopher_pass(F.col("text")))
    return clean.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )


def _sql_corpus_pipeline_priority() -> str:
    g = _sql_gopher_flags()
    return f"""
WITH ranked AS (
  SELECT doc_id, source, lang, text,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY CAST(substr(source, 4) AS INT) ASC,
                                     doc_id ASC) AS rn
  FROM documents
), kept AS (
  SELECT source, lang, text,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n,
         length(text) AS n_chars
  FROM ranked WHERE rn = 1
), clean AS (
  SELECT source, lang, n FROM kept
  WHERE NOT {g["v_wc"]} AND NOT {g["v_ml"]}
    AND NOT {g["v_sw"]} AND NOT {g["v_rep"]}
)
SELECT source, lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
FROM clean
GROUP BY source, lang
"""


QUERIES["corpus_pipeline_priority"] = (
    q_corpus_pipeline_priority,
    _sql_corpus_pipeline_priority(),
)


# ---------------------------------------------------------------------------
# Flagship composition #4: the pretraining-mix build.  Gopher rule gate →
# temperature-scaled source rebalance (rates computed over the SURVIVING
# corpus, not the raw one) → deterministic split assignment → per-
# (source, split) document and token accounting.  ONE declarative plan:
# the rule flags and the BPE-ish token count fuse into the scan, the
# only shuffles are the per-source count (for temperature rates, a tiny
# broadcast-back frame) and the final rollup.
# ---------------------------------------------------------------------------


def q_corpus_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling import assign_split, temperature_sample

    d = load_table(spark, sf_dir, "documents")
    # r14: only the CONJUNCTION of the rules is needed here, so use the
    # O(n log n) gopher_pass form (sorted-run mode count) instead of the
    # O(tokens × distinct) audit flags — pinned exactly equal by
    # test_gopher_pass_equals_rule_audit; measured 0.875 → 0.377 s for
    # the filter alone at sf0.1 (guide §1.2 per-task work)
    ok = d.filter(gopher_pass(F.col("text")))
    mixed = temperature_sample(ok)
    s = assign_split(mixed, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05})
    return s.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_ish_token_count(F.col("text"))).alias("n_bpe_tokens"),
    )


# mirrors sampling.TEMP_ALPHA (sampling imports text at module load, so
# text cannot import sampling back — cross-checked by
# test_pretrain_mix_exponent_matches_sampling_alpha); the repr renders the
# exact binary double 1.0 - alpha that the Spark side's F.pow literal uses
_PRETRAIN_MIX_ALPHA = 0.7


def _sql_corpus_pretrain_mix() -> str:
    g = _sql_gopher_flags()
    # keep decision: UNSALTED bucket (mirrors temperature_sample);
    # split decision: SALTED bucket (mirrors assign_split) — independent
    b = (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        " % 1000000"
    )
    sb = (
        "CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        " AS BIGINT) % 1000000"
    )
    t_hi, v_hi = int(0.90 * 1_000_000), int(0.95 * 1_000_000)
    exp = repr(1.0 - _PRETRAIN_MIX_ALPHA)
    return f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n, length(text) AS n_chars
  FROM documents
), pass AS (
  SELECT doc_id, source, toks FROM t
  WHERE NOT {g["v_wc"]} AND NOT {g["v_ml"]}
    AND NOT {g["v_sw"]} AND NOT {g["v_rep"]}
), counts AS (
  SELECT source, count(*) AS n_docs FROM pass GROUP BY source
), rates AS (
  SELECT source,
         CAST(floor(1000000.0 * pow((min(n_docs) OVER ()) * 1.0 / n_docs,
                                    {exp})) AS BIGINT) AS thr_ppm
  FROM counts
), kept AS (
  SELECT p.doc_id, p.source, p.toks
  FROM pass p JOIN rates r USING (source)
  WHERE {b} < r.thr_ppm
)
SELECT source,
       CASE WHEN {sb} < {t_hi} THEN 'train'
            WHEN {sb} < {v_hi} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(list_sum(list_transform(toks,
              x -> CAST(ceil(length(x) / 4.0) AS INT)))) AS BIGINT)
         AS n_bpe_tokens
FROM kept
GROUP BY 1, 2
"""


QUERIES["corpus_pretrain_mix"] = (q_corpus_pretrain_mix, _sql_corpus_pretrain_mix())


# ---------------------------------------------------------------------------
# Source-vs-corpus distribution divergence over tokens: KL(source‖corpus)
# with add-one smoothing — the lexical analog of the PSI monitor (is one
# source's language drifting from the mix?).  One token explode feeds
# BOTH distributions (per-source counts roll up to corpus counts); the
# KL join is shuffle-keyed on the token (corpus-sized vocab discipline,
# like the LM/TF-IDF joins), and the per-source sum is a tiny rollup.
# ---------------------------------------------------------------------------


def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    per_src = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_s"))
    corpus = per_src.groupBy("token").agg(F.sum("c_s").alias("c_all"))
    vocab = corpus.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c_all").alias("n_all")
    )
    totals = per_src.groupBy("source").agg(F.sum("c_s").alias("n_src"))
    # the KL sum runs over the FULL vocab × source grid: under add-one
    # smoothing a token ABSENT from the source still carries probability
    # 1/(n_src+v) and must contribute its term — summing only present
    # tokens under-counts the retained mass and the statistic is neither
    # the smoothed KL nor guaranteed >= 0 (round-4 review #3: a 1-token
    # source measured 7x its true divergence).  Scale note: the grid is
    # |vocab| × |sources| — at web scale cap the vocab to the top-K
    # tokens by corpus frequency first; everything else is unchanged.
    grid = corpus.crossJoin(F.broadcast(totals))
    j = (
        grid.join(per_src, ["source", "token"], "left")
        .withColumn("c_s", F.coalesce(F.col("c_s"), F.lit(0)))
        .crossJoin(F.broadcast(vocab))
    )
    p = (F.col("c_s") + 1) / (F.col("n_src") + F.col("v"))
    q = (F.col("c_all") + 1) / (F.col("n_all") + F.col("v"))
    return (
        j.withColumn("term", p * F.log(p / q))
        .groupBy("source")
        .agg(
            F.sum("c_s").alias("n_tokens"),
            F.round(F.sum("term"), 6).alias("kl_vs_corpus"),
        )
    )


SQL_SOURCE_KL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), per_src AS (
  SELECT source, token, count(*) AS c_s FROM toks GROUP BY source, token
), corpus AS (
  SELECT token, sum(c_s) AS c_all FROM per_src GROUP BY token
), vocab AS (
  SELECT count(*) AS v, sum(c_all) AS n_all FROM corpus
), totals AS (
  SELECT source, sum(c_s) AS n_src FROM per_src GROUP BY source
), j AS (
  SELECT t.source, coalesce(p.c_s, 0) AS c_s, c.c_all,
         vocab.v, vocab.n_all, t.n_src
  FROM corpus c CROSS JOIN totals t
  LEFT JOIN per_src p ON p.source = t.source AND p.token = c.token
  CROSS JOIN vocab
)
SELECT source,
       CAST(sum(c_s) AS BIGINT) AS n_tokens,
       round(sum(((c_s + 1.0) / (n_src + v))
                 * ln(((c_s + 1.0) / (n_src + v))
                      / ((c_all + 1.0) / (n_all + v)))), 6) AS kl_vs_corpus
FROM j
GROUP BY source
"""

QUERIES["text_source_kl"] = (q_source_kl_divergence, SQL_SOURCE_KL)


# ---------------------------------------------------------------------------
# Character-distribution entropy — the cheapest "is this real text" signal
# ---------------------------------------------------------------------------

ENTROPY_LOW_BITS = 2.0


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution, in bits
    — the classic cheap filter for binary junk / mojibake / repeated-char
    spam (natural language sits ~3.5-4.5 bits of char unigram entropy;
    base64 blobs near 6, 'aaaa...' near 0).  Flags docs below
    ``ENTROPY_LOW_BITS``.

    Shape: explode to (doc, char) → count → one per-doc aggregate using the
    algebraic identity H = log2(T) - (Σ c·log2 c)/T, which needs only
    per-char counts and the total — both combine map-side, so the exchange
    carries (doc, char) partial counts, ~doc_len unique keys per doc,
    NOT one row per character.  Pure codegen column exprs (module rule:
    UDF-free).  Entropy itself is a float sum whose addend order differs
    across engines; round(4) absorbs the ~1e-15 reassociation noise
    (same policy as every float aggregate gate in this module).
    """
    d = load_table(spark, sf_dir, "documents")
    chars = (
        d.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = chars.groupBy("doc_id").agg(
        F.sum("c").alias("tot"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("c") * F.log2("c")).alias("slc"),
    )
    ent = F.log2("tot") - F.col("slc") / F.col("tot")
    return per_doc.select(
        "doc_id",
        F.col("tot").alias("n_chars"),
        "n_distinct_chars",
        F.round(ent, 4).alias("entropy_bits"),
        # the flag compares the ROUNDED value: the raw float differs across
        # engines in the last ulps (summation order), and a boundary doc
        # must not flip the boolean on one engine only
        (F.round(ent, 4) < ENTROPY_LOW_BITS).alias("low_entropy"),
    )


SQL_CHAR_ENTROPY = f"""
WITH chars AS (
  SELECT doc_id, ch, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents WHERE text IS NOT NULL AND len(text) > 0)
  GROUP BY doc_id, ch
),
per_doc AS (
  SELECT doc_id, sum(c) AS tot, count(*) AS n_distinct_chars,
         sum(c * log2(c)) AS slc
  FROM chars GROUP BY doc_id
)
SELECT doc_id, CAST(tot AS BIGINT) AS n_chars, n_distinct_chars,
       round(log2(tot) - slc / tot, 4) AS entropy_bits,
       round(log2(tot) - slc / tot, 4) < {ENTROPY_LOW_BITS} AS low_entropy
FROM per_doc
"""

QUERIES["text_char_entropy"] = (q_char_entropy, SQL_CHAR_ENTROPY)


# ---------------------------------------------------------------------------
# BPE merge candidates: the first step of tokenizer training
# ---------------------------------------------------------------------------

BPE_TOPK = 20


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent CHARACTER-pair frequencies over the corpus — exactly
    the statistic the first byte-pair-encoding merge maximizes (Sennrich
    et al. 2016: repeatedly merge the most frequent adjacent symbol
    pair).  Emitting the top-k table instead of iterating keeps the gate
    deterministic and bounded; a full tokenizer trainer would loop this
    with the chosen merge applied — each round the same one aggregate.

    Shape: per whitespace token, the k-1 adjacent char pairs via ONE
    sequence+transform (codegen) and a single explode; counts combine
    map-side so the exchange carries (pair, partial count).  Word-internal
    pairs only — BPE never merges across token boundaries.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pairs = d.select(
        F.explode(
            F.expr(
                # tokens shorter than 2 chars are filtered FIRST: Spark's
                # sequence(1, 0) yields the DESCENDING [1, 0], not empty
                # (DuckDB's half-open range(1, 1) is empty) — without the
                # filter every 1-char token fabricates a phantom pair
                "flatten(transform(filter(split(text, ' '), w -> length(w) >= 2), "
                "w -> transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2))))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


SQL_BPE_MERGES = f"""
WITH pairs AS (
  SELECT unnest(flatten(list_transform(string_split(text, ' '),
           w -> list_transform(range(1, greatest(length(w), 1)),
                i -> substr(w, CAST(i AS INT), 2))))) AS pair
  FROM documents WHERE text IS NOT NULL
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {BPE_TOPK}
"""

QUERIES["text_bpe_merge_candidates"] = (q_bpe_merge_candidates, SQL_BPE_MERGES)


# ---------------------------------------------------------------------------
# Vocabulary coverage ladder: OOV rate vs vocab size, the tokenizer sizing
# artifact
# ---------------------------------------------------------------------------

VOCAB_LADDER = (10, 100, 1000)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of corpus TOKEN INSTANCES would a top-K vocabulary
    cover, for each K on the ladder — the coverage/OOV curve that sizes a
    tokenizer's vocab before training it.  One row per rung: vocab_size,
    covered instances, coverage in integer ppm.

    Tokens rank by (count desc, token asc) — a total order, so rung
    membership is deterministic.  The ranking window runs over the
    VOCABULARY (distinct tokens — bounded, Heaps-law-small relative to
    the corpus), not the token stream; at web scale the same curve comes
    from a frequency-threshold scan instead of a global rank, noted here
    because the ladder output is identical.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok")))
    ranked = counts.withColumn("rk", rk)
    rungs = [
        F.struct(
            F.lit(k).alias("vocab_size"),
            F.sum(F.when(F.col("rk") <= k, F.col("n")).otherwise(0)).alias("covered"),
        )
        for k in VOCAB_LADDER
    ]
    agg = ranked.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.array(*rungs).alias("ladder"),
    )
    return agg.select(
        F.explode("ladder").alias("r"), "total", "n_distinct_tokens"
    ).select(
        F.col("r.vocab_size").alias("vocab_size"),
        F.col("r.covered").alias("covered_instances"),
        "total",
        "n_distinct_tokens",
        F.expr("(r.covered * 1000000) DIV total").alias("coverage_ppm"),
    )


def _sql_vocab_coverage() -> str:
    rungs = ", ".join(
        f"({k}, (SELECT CAST(sum(CASE WHEN rk <= {k} THEN n ELSE 0 END) AS BIGINT) FROM ranked))"
        for k in VOCAB_LADDER
    )
    return f"""
WITH counts AS (
  SELECT tok, count(*) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY tok
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk FROM counts
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_distinct_tokens
  FROM counts
),
ladder(vocab_size, covered_instances) AS (VALUES {rungs})
SELECT vocab_size, covered_instances, total, n_distinct_tokens,
       (covered_instances * 1000000) // total AS coverage_ppm
FROM ladder CROSS JOIN tot
"""


QUERIES["text_vocab_coverage"] = (q_vocab_coverage, _sql_vocab_coverage())


# ---------------------------------------------------------------------------
# Classifier evaluation: language-ID confusion matrix + accuracy
# ---------------------------------------------------------------------------


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against the
    corpus labels — the evaluation artifact every classifier in the
    pipeline needs (per (true, predicted) cell: count + row-share in
    integer ppm, so per-class recall reads directly off the row).  One
    aggregate over (lang, guess); the per-true-class totals come from a
    window over the tiny |langs|² cell frame, not a second pass over the
    corpus."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    cells = (
        d.select(F.col("lang").alias("true_lang"), lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = F.sum("n").over(Window.partitionBy("true_lang"))
    return cells.select(
        "true_lang",
        "pred_lang",
        "n",
        F.expr(
            "(n * 1000000) DIV (sum(n) OVER (PARTITION BY true_lang))"
        ).alias("row_share_ppm"),
        (F.col("true_lang") == F.col("pred_lang")).alias("correct"),
    )


def _sql_lang_confusion() -> str:
    # reuse the oracle's lang_id fold from _sql_lang_id
    guess = _sql_lang_id().split("SELECT doc_id, lang, ")[1].split(" AS lang_guess")[0]
    return f"""
WITH cells AS (
  SELECT lang AS true_lang, {guess} AS pred_lang, count(*) AS n
  FROM documents WHERE text IS NOT NULL
  GROUP BY 1, 2
)
SELECT true_lang, pred_lang, CAST(n AS BIGINT) AS n,
       CAST((n * 1000000) // (sum(n) OVER (PARTITION BY true_lang))
            AS BIGINT) AS row_share_ppm,
       true_lang = pred_lang AS correct
FROM cells
"""


QUERIES["text_lang_confusion"] = (q_lang_confusion, _sql_lang_confusion())



# (This block imports only the LEAF bucket_sql module at registration
# time — never .sampling, whose module-level oracle builders import
# text attributes back; see bucket_sql's docstring for the cycle.)
# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet: Extracting
# High Quality Monolingual Datasets from Web Crawl Data", §4.3): train a
# language model per language on a CLEAN reference slice, score every
# document, and split each language into head / middle / tail perplexity
# tertiles — the standard web-corpus quality partition (head ≈ most
# reference-like text).  Differs from ``text_lm_score`` in exactly the two
# ways CCNet differs from self-scoring: the model is trained on a held-out
# reference subset (not the corpus itself), and the output is the
# per-language bucket assignment, not just the raw score.
# ---------------------------------------------------------------------------

# fraction of each language kept as the LM reference slice (CCNet trains on
# Wikipedia; the testdata has no wiki column, so the analog is a salted
# deterministic hash split — same md5-ppm machinery as assign_split)
CCNET_REF_PPM = 400_000


def _bigram_positions(src: DataFrame, *keep: str) -> DataFrame:
    """``keep + (bigram, w1)`` rows from a frame carrying a pre-split
    ``__toks`` array — the bigram fan-out as a positions explode with
    codegen ``element_at`` (the ``_feature_rows`` shape, guide §4.1).

    Building the per-doc bigram array with a ``transform`` lambda runs
    the lambda interpreted per element and allocates the intermediate
    array per row before the explode — measured 0.585→0.213 s (corpus
    side) / 0.556→0.267 s (reference side) at sf0.1 for the identical
    (exceptAll = 0 both ways) multiset.  ``w1`` is re-derived by
    ``element_at`` at the exploded position, not by splitting the bigram
    string (the lm_score perf note: that split would run over the
    largest row count in the query).  Docs shorter than 2 tokens emit
    nothing, exactly like the empty-array explode they replace."""
    toks = F.col("__toks")
    return (
        src.filter(F.size(toks) >= 2)
        .select(
            *keep,
            "__toks",
            F.explode(F.sequence(F.lit(1), F.size(toks) - 1)).alias("__i"),
        )
        .select(
            *keep,
            F.concat_ws(
                " ",
                F.element_at("__toks", F.col("__i")),
                F.element_at("__toks", F.col("__i") + 1),
            ).alias("bigram"),
            F.element_at("__toks", F.col("__i")).alias("w1"),
        )
    )


def ccnet_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-document CCNet bucket: (doc_id, lang, n_bigrams, avg_nll,
    bucket ∈ {head, middle, tail}).

    ``avg_nll`` is the mean negative ln-likelihood per bigram under the
    reference-trained add-one bigram model — a monotone transform of
    CCNet's perplexity (ppl = e^avg_nll), kept in log space so the
    cross-engine float surface is one ln + one avg, rounded to 4
    decimals like every score here.  Bucketing is ntile(3) per language
    ordered by (rounded avg_nll, doc_id) — deterministic, and tertiles
    by construction like CCNet's equal-thirds split.

    Scale design: the reference slice is a hash filter (no shuffle); the
    per-language count tables come from two explode→hash-agg passes over
    the REFERENCE slice only (40% of the corpus, map-side combined);
    scoring joins are shuffle joins keyed on (lang, ngram) — both sides
    corpus-scale at 100 TB, same shape as ``lm_score``.  The only global
    op is the per-language ntile over narrow (doc, score) rows; a
    1000-executor run replaces it with approx-quantile cutoffs, but the
    exact window keeps oracle parity and is itself just a sort of
    id+double pairs.  Documents under 2 tokens and languages whose
    reference slice is empty (possible at tiny SFs) have no model to
    score against and are excluded — the inner vocab join makes that
    explicit rather than emitting a fake score.
    """
    from pyspark.sql.window import Window

    from .bucket_sql import hash_bucket

    tokenized = docs.select(
        F.col(id_col), F.col(lang_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    # hash_bucket's default denominator IS ppm (sampling.DENOM), so the
    # reference cut compares the salted bucket against the ppm constant
    ref = tokenized.filter(
        hash_bucket(F.concat(F.lit("ccnet|"), F.col(id_col).cast("string")))
        < CCNET_REF_PPM
    )
    toks = F.col("__toks")
    uni = (
        ref.select(F.col(lang_col), F.explode(toks).alias("w1"))
        .groupBy(lang_col, "w1")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    bi = (
        _bigram_positions(ref, lang_col)
        .drop("w1")
        .groupBy(lang_col, "bigram")
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    # per-language vocab = row count of `uni` per lang, written with the
    # lm_score when-guard so this branch's partial agg still carries
    # c_uni: a plain count(*) lets the optimizer prune c_uni, the pruned
    # exchange no longer canonicalizes with the scoring join's, and the
    # whole reference-slice unigram explode runs twice (measured in the
    # AQE final plan).  c_uni >= 1 holds for every count(1) group, so
    # the value is unchanged and AQE builds the unigram table ONCE.
    vocab = uni.groupBy(lang_col).agg(
        F.count(F.when(F.col("c_uni") >= 1, F.lit(1))).alias("v")
    )

    doc_bi = _bigram_positions(tokenized, id_col, lang_col)
    # LEFT joins: unlike the self-trained lm_score, held-out documents
    # contain n-grams the reference never saw — they score as count 0
    # under the same add-one smoothing, not as dropped rows
    scored = (
        doc_bi.join(bi, [lang_col, "bigram"], "left")
        .join(uni, [lang_col, "w1"], "left")
        .join(vocab, [lang_col])
        .groupBy(id_col, lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.avg(
                    F.log(
                        (F.coalesce(F.col("c_bi"), F.lit(0)) + 1)
                        / (F.coalesce(F.col("c_uni"), F.lit(0)) + F.col("v"))
                    )
                ),
                4,
            ).alias("avg_nll"),
        )
    )
    wb = Window.partitionBy(lang_col).orderBy(F.asc("avg_nll"), F.asc(id_col))
    return scored.withColumn("nt", F.ntile(3).over(wb)).select(
        id_col,
        lang_col,
        "n_bigrams",
        "avg_nll",
        F.when(F.col("nt") == 1, F.lit("head"))
        .when(F.col("nt") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_buckets(load_table(spark, sf_dir, "documents"))


def _sql_ccnet_buckets() -> str:
    from .bucket_sql import DUCK_SALTED_BUCKET

    ref_bucket = DUCK_SALTED_BUCKET.replace("<SALT>", "ccnet|").format(k="doc_id")
    return f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), ref AS (
  SELECT * FROM toks WHERE {ref_bucket} < {CCNET_REF_PPM}
), uni AS (
  SELECT lang, w1, count(*) AS c_uni
  FROM (SELECT lang, unnest(t) AS w1 FROM ref) GROUP BY lang, w1
), bi AS (
  SELECT lang, bigram, count(*) AS c_bi
  FROM (SELECT lang,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM ref WHERE len(t) >= 2)
  GROUP BY lang, bigram
), vocab AS (
  SELECT lang, count(*) AS v FROM uni GROUP BY lang
), doc_bi AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks WHERE len(t) >= 2
), scored AS (
  SELECT d.doc_id, d.lang,
         count(*) AS n_bigrams,
         round(-avg(ln((coalesce(c_bi, 0) + 1)::DOUBLE
                       / (coalesce(c_uni, 0) + v))), 4) AS avg_nll
  FROM doc_bi d
  LEFT JOIN bi ON bi.lang = d.lang AND bi.bigram = d.bigram
  LEFT JOIN uni ON uni.lang = d.lang AND uni.w1 = string_split(d.bigram, ' ')[1]
  JOIN vocab ON vocab.lang = d.lang
  GROUP BY d.doc_id, d.lang
)
SELECT doc_id, lang, n_bigrams, avg_nll,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM (
  SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY avg_nll ASC, doc_id ASC) AS nt
  FROM scored
)
"""


QUERIES["text_ccnet_buckets"] = (q_ccnet_buckets, _sql_ccnet_buckets())
