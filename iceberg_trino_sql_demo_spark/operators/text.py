"""Text-analysis operators for training-data pipelines (SURVEY.md §7).

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen'd) — no Python UDFs: token stats and quality scoring are
split/size/aggregate expressions; language ID is an explode + broadcast-join
against a tiny lexicon; fingerprinting is a min-over-shingle-hashes rolling
hash (md5 so the DuckDB oracle reproduces it byte-identically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark.operators import register
from iceberg_trino_sql_demo_spark.session import read_parquet, table_path


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, table_path(sf_dir, "documents"))


# ---------------------------------------------------------------------------
# token counting — whitespace tokens + distinct tokens + exact mean length.
# The mean is computed as a single double division of two exact integers, so
# both engines produce the identical IEEE value.
# ---------------------------------------------------------------------------
@register(
    "text_token_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT t) AS BIGINT) AS n_distinct,
           CAST(sum(len(t)) AS DOUBLE) / count(*) AS mean_token_len
      FROM tok
     WHERE t != ''
     GROUP BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct"),
        (F.sum(F.length("t")).cast("double") / F.count(F.lit(1))).alias("mean_token_len"),
    )


# ---------------------------------------------------------------------------
# quality scoring — length/stopword/diversity ratios with a deterministic
# integer-derived score.  A real pipeline would threshold this to drop
# boilerplate/low-content docs before training.
# ---------------------------------------------------------------------------
_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "('" + "','".join(_STOPWORDS) + "')"


@register(
    "text_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT t) AS BIGINT) AS n_distinct,
             CAST(sum(CASE WHEN t IN {_STOP_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        FROM tok WHERE t != '' GROUP BY doc_id
    )
    SELECT d.doc_id,
           a.n_tokens,
           CAST(a.n_stop AS DOUBLE) / a.n_tokens AS stopword_ratio,
           CAST(a.n_distinct AS DOUBLE) / a.n_tokens AS diversity,
           CASE WHEN a.n_tokens >= 50 AND a.n_tokens <= 1000
                     AND 10 * a.n_stop < 3 * a.n_tokens
                     AND 10 * a.n_distinct >= a.n_tokens
                THEN 1 ELSE 0 END AS passes_quality
      FROM documents d JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct"),
        F.sum(F.col("t").isin(*_STOPWORDS).cast("long")).alias("n_stop"),
    )
    # thresholds in integer arithmetic (10*x < 3*n) — no float boundaries
    passes = (
        (F.col("n_tokens") >= 50)
        & (F.col("n_tokens") <= 1000)
        & (10 * F.col("n_stop") < 3 * F.col("n_tokens"))
        & (10 * F.col("n_distinct") >= F.col("n_tokens"))
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("diversity"),
        passes.cast("int").alias("passes_quality"),
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier — the fasttext-shaped model
# every web-scale curation stack runs (CCNet/RefinedWeb quality gates):
# token -> hash bucket -> per-bucket weight, doc score = sum of weights.
# The hashing-trick point for 100 TB: there is NO vocabulary — no
# dictionary build, no token->id join, no OOV path; the "model" is a
# fixed B-entry weight table evaluated as a scan-side expression (a real
# deployment broadcasts the trained float[B]; here the weights derive
# arithmetically from the bucket id so the DuckDB oracle replays them
# bit-for-bit).  Integer milli-weights keep the doc score an exact
# BIGINT sum — no float summation order anywhere.  Plan: codegen'd scan
# + explode + ONE doc_id hash aggregate; nothing else shuffles.
# ---------------------------------------------------------------------------
_QC_BUCKETS = 256
_QC_MIX = 2_654_435_761  # Knuth multiplicative-hash constant


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lower(t) AS t FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
       WHERE t != ''
    ),
    w AS (
      SELECT doc_id,
             ((('0x' || substr(md5(t), 1, 8))::BIGINT % {_QC_BUCKETS})
              * {_QC_MIX}) % 2001 - 1000 AS wt
        FROM tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(wt) AS BIGINT) AS score_milli,
           (sum(wt) > 0) AS quality_pos
      FROM w GROUP BY doc_id
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.lower("t")), 1, 8), 16, 10).cast("long")
        % _QC_BUCKETS
    )
    wt = (bucket * F.lit(_QC_MIX)) % 2001 - 1000
    return (
        toks.select("doc_id", wt.alias("wt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("wt").alias("score_milli"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "score_milli",
            (F.col("score_milli") > 0).alias("quality_pos"),
        )
    )


# ---------------------------------------------------------------------------
# language ID — character-n-gram-frequency heuristic: score each doc against
# tiny per-language marker lexicons (broadcast join), argmax wins.  The
# testdata's ``lang`` column is a synthetic label (texts are English-ish bag
# of words), so this is exercised as a deterministic rows-only operator;
# determinism + shape are tested in tests/test_extensions.py.
# ---------------------------------------------------------------------------
_MARKERS = {
    "en": ["the", "and", "of", "is", "th", "he", "an"],
    "de": ["der", "und", "die", "ist", "ch", "ei", "en"],
    "fr": ["le", "la", "et", "est", "ou", "es", "nt"],
    "es": ["el", "la", "los", "es", "ón", "ar", "de"],
    "zh": ["de5", "shi4", "le5", "zh", "sh", "ng", "wo"],
}

_LEX_SQL = ", ".join(
    f"('{lang}', '{m}')" for lang, ms in _MARKERS.items() for m in ms
)


@register(
    "text_langid",
    oracle=f"""
    WITH lex(lang_cand, marker) AS (VALUES {_LEX_SQL}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest([t, substr(t, 1, 2), substr(t, 2, 2)]) AS piece
        FROM toks WHERE t != ''
    ),
    scores AS (
      SELECT doc_id, lang_cand, CAST(count(*) AS BIGINT) AS hits
        FROM grams JOIN lex ON piece = marker
       GROUP BY doc_id, lang_cand
    ),
    best AS (
      SELECT doc_id, lang_cand, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang_cand ASC) AS rk
        FROM scores
    )
    SELECT d.doc_id,
           coalesce(b.lang_cand, 'und') AS predicted_lang,
           CAST(coalesce(b.hits, 0) AS BIGINT) AS hits
      FROM documents d
      LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON d.doc_id = b.doc_id
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = spark.createDataFrame(
        [(lang, m) for lang, ms in _MARKERS.items() for m in ms],
        "lang_cand string, marker string",
    )
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    # token-level and 2-gram-level marker hits
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array(F.col("t"), F.substring("t", 1, 2), F.substring("t", 2, 2))
        ).alias("piece"),
    )
    scores = (
        grams.join(F.broadcast(lex), grams.piece == lex.marker)
        .groupBy("doc_id", "lang_cand")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang_cand"))
    best = scores.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(best.select("doc_id", F.col("lang_cand").alias("predicted_lang"), "hits"),
              "doc_id", "left")
        .fillna({"predicted_lang": "und", "hits": 0})
    )


# ---------------------------------------------------------------------------
# document fingerprint — rolling-hash (min over shingle hashes, i.e. a
# 1-permutation MinHash): identical content -> identical fingerprint, robust
# to document ordering.  The hash is the top 60 bits of md5 as a LONG —
# DuckDB computes the identical value (full oracle verification), and
# min(long) keeps the aggregate HashAggregate-able (min over the md5 hex
# *string* would force SortAggregate's sort-based path).
# ---------------------------------------------------------------------------
from iceberg_trino_sql_demo_spark.operators.dedup import (
    _SH_PAIRS_SQL,
    _SHINGLE_OCC_SQL,
    shingle_hash_pairs,
)


@register(
    "text_fingerprint",
    oracle=f"""
    WITH sh AS ({_SH_PAIRS_SQL.format(occ=_SHINGLE_OCC_SQL.format(corpus="SELECT doc_id, text FROM documents"))})
    SELECT doc_id,
           min(h1) AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_shingles
      FROM sh GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # uncapped hashed pairs: the fingerprint is a per-doc aggregate over
    # ALL the document's shingles (no join anywhere, so the self-join skew
    # the DF cap guards against cannot occur) and must stay
    # content-complete — dropping a boilerplate shingle would change min()
    # for every doc containing it.  min(h1) over the hashed-distinct rows
    # IS min over distinct gram strings of the same md5 value; the oracle
    # dedups on the identical (h1, h2) identity.
    sh = shingle_hash_pairs(_docs(spark, sf_dir).select("doc_id", "text"))
    return sh.groupBy("doc_id").agg(
        F.min("h1").alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# BPE-style regex tokenization — the pre-tokenizer split every BPE-family
# tokenizer applies before merges: runs of letters, runs of digits, runs of
# other non-space characters.  Per-doc class counts approximate the token
# budget a trained tokenizer would charge; the whole pipeline is one
# regexp_extract_all + explode + classify + count (all codegen'd, one
# shuffle on doc_id).  The character classes are written without \s / \w so
# Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
# ---------------------------------------------------------------------------
_BPE_SPLIT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


@register(
    "text_token_bpe",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '{_BPE_SPLIT}')) AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN regexp_full_match(t, '[A-Za-z]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
           CAST(sum(CASE WHEN regexp_full_match(t, '[0-9]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_num,
           CAST(sum(CASE WHEN NOT regexp_full_match(t, '[A-Za-z]+|[0-9]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_other
      FROM tok GROUP BY doc_id
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(_BPE_SPLIT), F.lit(0))).alias("t"),
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("t").rlike("^[A-Za-z]+$").cast("long")).alias("n_alpha"),
        F.sum(F.col("t").rlike("^[0-9]+$").cast("long")).alias("n_num"),
        F.sum(
            (~F.col("t").rlike("^([A-Za-z]+|[0-9]+)$")).cast("long")
        ).alias("n_other"),
    )


# ---------------------------------------------------------------------------
# vocabulary heavy-hitters — global top-k terms by document frequency,
# the first step of building a tokenizer vocab.  Plan shape: explode ->
# two-phase hash aggregate (map-side combine collapses each partition's
# token stream before the single shuffle) -> TakeOrdered (only k rows
# per partition ever reach the driver).  Deterministic tie-break on the
# token string keeps the cutoff stable across engines.
# ---------------------------------------------------------------------------
VOCAB_K = 50


@register(
    "vocab_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    )
    SELECT t AS term,
           CAST(count(*) AS BIGINT) AS term_freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM tok
     WHERE t != ''
     GROUP BY t
     ORDER BY term_freq DESC, term ASC
     LIMIT {VOCAB_K}
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    return (
        toks.groupBy(F.col("t").alias("term"))
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_freq"), F.asc("term"))
        .limit(VOCAB_K)
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the per-doc keyword extraction every
# retrieval/labeling pipeline runs before indexing.  tf and df are exact
# integers; tfidf = tf * ln(N/df) is ONE double expression evaluated in the
# identical operation order on both engines (divide, ln, multiply), and the
# rank key is the 6-decimal-ROUNDED value so a last-ulp libm divergence
# cannot flip an ordering (same robustness rule the cosine family uses).
# Plan shape: explode -> (doc,term) hash-agg -> term-keyed df agg joined
# back (broadcast at corpus scale where the vocab agg output stays small;
# a 100 TB corpus's term-df frame is still ~vocab-sized after the combine)
# -> per-doc window top-k.  The only shuffles are on (doc_id, term) and
# term — both fixed-width keys with map-side partial aggregation.
# ---------------------------------------------------------------------------
TFIDF_TOP_K = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE t != '' GROUP BY doc_id, t
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(CAST(tf.tf AS DOUBLE)
                   * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                        / CAST(df.df AS DOUBLE)), 6) AS tfidf
        FROM tf JOIN df ON tf.term = df.term
    ),
    ranked AS (
      SELECT doc_id, term, tf, df, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rk
        FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, rk
      FROM ranked WHERE rk <= {TFIDF_TOP_K}
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    n_docs = float(docs.count())  # one scalar to the driver (count job)
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    tf = toks.groupBy("doc_id", F.col("t").alias("term")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # divide -> ln -> multiply, the oracle's exact operation order
    tfidf = F.round(
        F.col("tf").cast("double")
        * F.log(F.lit(n_docs) / F.col("df").cast("double")),
        6,
    )
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id", "term", "tf", "df", tfidf.alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TFIDF_TOP_K)
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule filter (Rae et al. 2021 §A1.1, public) — the
# heuristic document gate run before training: word-count bounds, mean
# word length bounds, alphabetic-word ratio, and a minimum count of
# DISTINCT stopwords.  Every rule is integer arithmetic (k*sum vs m*n
# cross-multiplication instead of float ratios), so the output is
# hash-identical across engines with no rounding story at all.  One
# explode + one per-doc hash aggregate; at 100 TB this is a single
# map-side-combined shuffle on doc_id.
# ---------------------------------------------------------------------------
@register(
    "quality_filter_gopher",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(t)) AS BIGINT) AS sum_len,
             CAST(sum(CASE WHEN regexp_matches(t, '[A-Za-z]') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alpha_words,
             CAST(count(DISTINCT CASE WHEN t IN {_STOP_SQL} THEN t END)
                  AS BIGINT) AS n_stop_distinct
        FROM tok WHERE t != '' GROUP BY doc_id
    )
    SELECT doc_id, n_words, sum_len, n_alpha_words, n_stop_distinct,
           CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_word_count,
           CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS r_mean_len,
           CASE WHEN 5 * n_alpha_words >= 4 * n_words THEN 1 ELSE 0 END AS r_alpha_ratio,
           CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END AS r_stopwords,
           CASE WHEN n_words >= 50 AND n_words <= 100000
                 AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
                 AND 5 * n_alpha_words >= 4 * n_words
                 AND n_stop_distinct >= 2
                THEN 1 ELSE 0 END AS passes_gopher
      FROM agg
    """,
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("t")).alias("sum_len"),
        F.sum(F.col("t").rlike("[A-Za-z]").cast("long")).alias("n_alpha_words"),
        F.countDistinct(
            F.when(F.col("t").isin(*_STOPWORDS), F.col("t"))
        ).alias("n_stop_distinct"),
    )
    r_word_count = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    r_mean_len = (3 * F.col("n_words") <= F.col("sum_len")) & (
        F.col("sum_len") <= 10 * F.col("n_words")
    )
    r_alpha = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    r_stop = F.col("n_stop_distinct") >= 2
    return agg.select(
        "doc_id", "n_words", "sum_len", "n_alpha_words", "n_stop_distinct",
        r_word_count.cast("int").alias("r_word_count"),
        r_mean_len.cast("int").alias("r_mean_len"),
        r_alpha.cast("int").alias("r_alpha_ratio"),
        r_stop.cast("int").alias("r_stopwords"),
        (r_word_count & r_mean_len & r_alpha & r_stop)
        .cast("int")
        .alias("passes_gopher"),
    )


# ---------------------------------------------------------------------------
# repetition signal — the Gopher/C4 "most frequent token dominates the
# document" heuristic: a doc whose top token accounts for a large share
# of all tokens is boilerplate (nav bars, log spam) and gets dropped
# before training.  max_tf/n_tokens is ONE double division of two exact
# integers (identical IEEE value both engines); the drop flag itself is
# integer cross-multiplication (5*max_tf > n means top-token share >
# 20%).  Plan: (doc, term) hash-agg then per-doc max — two map-side-
# combined shuffles, both on fixed-width keys.
# ---------------------------------------------------------------------------
@register(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE t != '' GROUP BY doc_id, t
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           max(tf) AS max_tf,
           CAST(max(tf) AS DOUBLE) / sum(tf) AS top_token_share,
           CASE WHEN 5 * max(tf) > sum(tf) THEN 1 ELSE 0 END AS flagged_repetitive
      FROM tf GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.max("tf").alias("max_tf"),
        (F.max("tf").cast("double") / F.sum("tf")).alias("top_token_share"),
        (5 * F.max("tf") > F.sum("tf")).cast("int").alias("flagged_repetitive"),
    )


# ---------------------------------------------------------------------------
# bigram familiarity — the integer-exact cousin of a perplexity-proxy
# quality filter (CCNet/Gopher pipelines score docs with a corpus LM and
# drop the tails): each document is scored by how common its adjacent
# word-bigrams are in the whole corpus.  High familiarity = boilerplate-
# like text assembled from ubiquitous transitions; a high rare-bigram
# count = unusual/garbled text.  Deliberately NO log-probabilities: both
# engines would compute log2 with different libm implementations and a
# scaled rounding could flip on a ulp boundary, so the score is the exact
# integer pair (sum of corpus counts, n) with ONE final division —
# deterministic on both engines.
#
# Plan: tokenize -> per-doc adjacent pairs via slice+transform (array ops,
# no self-join on position) -> corpus counts via keyed hash-agg (partial
# map-side combine, skew-safe where a window-count over bg would
# serialize the hottest bigram) -> count join back -> per-doc aggregate.
# Two bg-keyed exchanges; at 100 TB the hot-bigram join skew is AQE
# skew-join territory (or salt the count join) — the aggregation side is
# already safe.
# ---------------------------------------------------------------------------
@register(
    "text_bigram_familiarity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ts) - 1),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS bg
        FROM toks WHERE len(ts) >= 2
    ),
    cc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bg)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cc.c) AS BIGINT) AS familiarity_sum,
           CAST(sum(cc.c) AS DOUBLE) / count(*) AS familiarity,
           CAST(sum(CASE WHEN cc.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM bg b JOIN cc ON cc.bg = b.bg
     GROUP BY 1
    """,
)
def text_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bigrams ride as xxhash64(tok_i, tok_i+1) LONGS, not concatenated
    # strings (equal bigrams ⟺ equal hash modulo xxhash64 collisions —
    # the same stand-in contract the window/shingle family uses).
    # COLLISION CONTRACT (ADVICE r13): the DuckDB oracle groups the RAW
    # bigram strings, so a 64-bit collision would silently merge two
    # distinct bigrams' counts and fail the oracle hash-compare — the
    # operator is a probabilistic stand-in with collision probability
    # ~n²/2^65 ≈ 1e-8 at this corpus, accepted exactly as
    # dedup_substring_windows documents for its window hashes.  And
    # the instance stream collapses to (hash, doc) grain with a map-side
    # combinable count BEFORE anything crosses the wire: the corpus
    # count c and every per-doc statistic are exact functions of that
    # grain (n_bigrams = Σk, familiarity_sum = Σk·c, n_rare = Σk·[c=1]).
    # The old form shuffled ~1M bigram strings twice (count agg + the
    # instance-side re-shuffle of the join); this shuffles deduped longs
    # once and broadcasts nothing bigger than the collapsed per-hash
    # counts (measured 0.85 -> ~0.62 s warm at sf0.1).
    bg = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr("filter(split(text, ' '), x -> x != '')").alias("ts"),
        )
        .where(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(ts, 1, size(ts) - 1),"
                    " (x, i) -> xxhash64(x, element_at(ts, i + 2)))"
                )
            ).alias("h"),
        )
    )
    per_doc = bg.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("k"))
    per_hash = per_doc.groupBy("h").agg(F.sum("k").alias("c"))
    return (
        per_doc.join(per_hash, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("c")).cast("long").alias("familiarity_sum"),
            (F.sum(F.col("k") * F.col("c")).cast("double")
             / F.sum("k")).alias("familiarity"),
            F.sum(F.when(F.col("c") == 1, F.col("k")).otherwise(F.lit(0)))
            .cast("long").alias("n_rare"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source curation profile — the query a data curator runs BEFORE
# choosing mixture weights: for every source, corpus share, exact-dup
# incidence, length distribution, and the stopword/diversity quality
# gate pass-rate, all in one pass-shaped plan.  Everything is exact
# integers (counts, char sums, integer-threshold gate) so the oracle
# match has no float boundaries.
#
# 100 TB plan: the dup flag is one md5-keyed aggregate (map-side
# combinable) joined back at collapsed cardinality; the token-quality
# gate reuses text_quality's explode->count shape; the final rollup is
# |sources| rows.  Three shuffles total (hash, doc-token, source), each
# on a key the next stage needs anyway.
# ---------------------------------------------------------------------------
@register(
    "source_quality_profile",
    oracle=f"""
    WITH hashes AS (
      SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1
    ),
    tok AS (
      SELECT doc_id, count(*) AS n_tokens,
             count(DISTINCT t) AS n_distinct,
             sum(CASE WHEN t IN {_STOP_SQL} THEN 1 ELSE 0 END) AS n_stop
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       WHERE t <> ''
       GROUP BY 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN hashes.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
           CAST(min(tok.n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(tok.n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(CASE WHEN 10 * tok.n_stop < 3 * tok.n_tokens
                          AND 10 * tok.n_distinct >= tok.n_tokens
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
      FROM documents d
      JOIN hashes ON hashes.h = md5(d.text)
      JOIN tok ON tok.doc_id = d.doc_id
     GROUP BY 1
     ORDER BY 1
    """,
)
def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # duplicate-group identity is internal (never output): xxhash64 is a
    # fraction of md5's cost per text and joins on a long, not a 32-char
    # hex string — same equal-text ⟺ equal-hash contract.  COLLISION
    # CONTRACT (ADVICE r13): the oracle's group identity is md5(text)
    # (128-bit), so a 64-bit xxhash64 collision between two distinct
    # texts would merge their dup groups and fail the oracle compare —
    # probability ~n²/2^65 ≈ 1e-11 at this corpus, the accepted
    # probabilistic stand-in the shingle family documents
    hashes = d.groupBy(F.xxhash64("text").alias("h")).agg(F.count(F.lit(1)).alias("n"))
    # per-doc token stats as ARRAY expressions on the doc row — the
    # explode + (count, countDistinct, sum) aggregate this replaces
    # shuffled ~1M token rows and paid Spark's distinct-agg rewrite;
    # size/array_distinct/filter compute the identical integers with no
    # exchange at all (the values are per-row functions of the text)
    stop_lit = "(" + ",".join(f"'{w}'" for w in _STOPWORDS) + ")"
    toks_col = F.expr("filter(split(text, ' '), x -> x != '')")
    per_doc = d.select(
        "doc_id", "source", "n_chars", F.xxhash64("text").alias("h"),
        F.size(toks_col).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks_col)).cast("long").alias("n_distinct"),
        F.size(F.expr(f"filter(filter(split(text, ' '), x -> x != ''), "
                      f"x -> x IN {stop_lit})")).cast("long").alias("n_stop"),
    )
    gate = (10 * F.col("n_stop") < 3 * F.col("n_tokens")) & (
        10 * F.col("n_distinct") >= F.col("n_tokens")
    )
    return (
        # the oracle's INNER JOIN tok drops docs with zero non-empty
        # tokens — replicate that membership exactly
        per_doc.where(F.col("n_tokens") > 0)
        .join(hashes, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n") > 1).cast("long")).alias("n_dup_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum(gate.cast("long")).alias("n_quality_pass"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BPE merge induction — ONE training step of byte-pair-encoding vocab
# learning (Sennrich et al.): build the word-frequency table, split words
# into symbols (characters at step 0), and rank adjacent-symbol pairs by
# corpus-weighted count — the top pair is the next merge rule.  The
# classic implementation is a driver-side dict; the distributed shape
# here is what tokenizer training on a 100 TB corpus actually needs:
# token-frequency aggregate (map-side combined), global top-K vocab cut
# (sort+limit — Spark plans TakeOrdered, no full sort materialization),
# then a transform/explode over characters and a second hash aggregate.
# Every count is an exact BIGINT; ties break on the pair itself, so the
# top-20 is fully deterministic.  Words shorter than 2 symbols carry no
# pairs and are filtered on BOTH engines (Spark's sequence(1, 0) would
# otherwise count DOWNWARD — [1, 0] — a silent corruption, not an error).
# ---------------------------------------------------------------------------
_BPE_VOCAB = 2000


@register(
    "text_bpe_merge_candidates",
    oracle=f"""
    WITH tok AS (
      SELECT lower(t) AS t FROM (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
       WHERE t != ''
    ),
    vocab AS (
      SELECT t, CAST(count(*) AS BIGINT) AS freq
        FROM tok GROUP BY 1
       ORDER BY freq DESC, t LIMIT {_BPE_VOCAB}
    ),
    pairs AS (
      SELECT substr(t, i, 1) AS sym_a, substr(t, i + 1, 1) AS sym_b, freq
        FROM (SELECT * FROM vocab WHERE length(t) >= 2),
             unnest(range(1, length(t))) AS u(i)
    )
    SELECT sym_a, sym_b, CAST(SUM(freq) AS BIGINT) AS weight
      FROM pairs GROUP BY 1, 2
     ORDER BY weight DESC, sym_a, sym_b LIMIT 20
    """,
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .select(F.lower("t").alias("t"))
    )
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "t")
        .limit(_BPE_VOCAB)
        .where(F.length("t") >= 2)
    )
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(t) - 1), "
                "i -> struct(substring(t, i, 1) AS sym_a, "
                "substring(t, i + 1, 1) AS sym_b))"
            )
        ).alias("p"),
        "freq",
    ).select("p.sym_a", "p.sym_b", "freq")
    return (
        pairs.groupBy("sym_a", "sym_b")
        .agg(F.sum("freq").alias("weight"))
        .orderBy(F.desc("weight"), "sym_a", "sym_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# OOV rate — the tokenizer-coverage check every pipeline runs before
# committing to a vocab: fix the top-K corpus terms as "the tokenizer
# vocabulary", then measure each document's out-of-vocabulary token rate
# and flag docs above a threshold (candidates for vocab retraining or
# exclusion).  Distinct from vocab_top_terms (corpus-level inventory) and
# text_quality (stopword/diversity ratios): this is per-doc coverage
# against a FIXED top-K cut.
#
# Exactness: counts are integers; the rate is reported as an exact integer
# permille (1000 * oov DIV tokens) so no float boundary can flip the flag.
# The vocab cut is deterministic (freq DESC, term ASC, LIMIT K) on both
# engines.
#
# Plan shape / 100 TB: explode -> (term) hash-agg for the vocab (map-side
# combine; output is K rows, broadcast back), then explode -> LEFT
# broadcast-join against the K-row vocab -> (doc_id) hash-agg.  Two scans
# of documents, zero wide shuffles beyond the per-doc aggregate; the vocab
# never exceeds K rows regardless of corpus size.  Reference analog: the
# reference has no text ops — this extends the engine for LLM curation
# (assignment brief), mirroring tokenizer-coverage audits in public
# pipelines (e.g. BPE vocab coverage checks).
# ---------------------------------------------------------------------------
_OOV_VOCAB_K = 16
_OOV_FLAG_PERMILLE = 60


@register(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    vocab AS (
      SELECT t AS term
        FROM tok WHERE t != ''
       GROUP BY t
       ORDER BY count(*) DESC, term ASC
       LIMIT {_OOV_VOCAB_K}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(1000 * sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS oov_permille,
           CASE WHEN 1000 * sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                     > {_OOV_FLAG_PERMILLE} * count(*)
                THEN 1 ELSE 0 END AS flag_high_oov
      FROM tok LEFT JOIN vocab v ON tok.t = v.term
     WHERE tok.t != ''
     GROUP BY doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    vocab = (
        toks.groupBy(F.col("t").alias("term"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(_OOV_VOCAB_K)
        .select("term")
    )
    joined = toks.join(
        F.broadcast(vocab), toks["t"] == vocab["term"], "left"
    )
    oov = F.sum(F.when(F.col("term").isNull(), 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1)).cast("long")
    return (
        joined.groupBy("doc_id")
        .agg(n.alias("n_tokens"), oov.alias("n_oov"))
        # integer DIV and an integer-cross-multiplied flag: no float
        # boundary anywhere (the oracle uses // and the same cross-multiply)
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("1000 * n_oov DIV n_tokens").alias("oov_permille"),
            F.expr(
                f"CASE WHEN 1000 * n_oov > {_OOV_FLAG_PERMILLE} * n_tokens "
                "THEN 1 ELSE 0 END"
            ).alias("flag_high_oov"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted index build — the retrieval-side primitive of a training-data
# stack (BM25 retrieval, decontamination lookups, corpus search): for each
# frequent term, the posting list of documents containing it, per-document
# term frequency, and the first occurrence position.
#
# Plan shape: posexplode -> (doc, term) map-side-combinable count/min agg ->
# one term-keyed agg.  Two exchanges total; the second reuses nothing from
# the first on purpose (term cardinality << (doc,term) cardinality, so the
# term agg wants its own narrower partitioning).  At 100 TB the skew risk
# is stopword terms whose posting lists are unbounded — here the df cut
# (HAVING df >= _INV_MIN_DF) bounds the OUTPUT, and at scale the posting
# array itself gets capped with slice(sort_array(...), 1, K) while tf/df
# stay exact (the aggregate is still map-side combinable); the checksum
# column keeps the full-list content verifiable either way.
#
# Postings are compared as the canonical comma-joined ascending doc_id
# string (exact cross-engine multiset proof); pos_checksum folds every
# (doc_id x first position) product so position content is value-checked
# without shipping a positions array per row.
# ---------------------------------------------------------------------------
_INV_MIN_DF = 5
_INV_TOPK = 100


@register(
    "text_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dt AS (
      SELECT doc_id, unnest(toks) AS term FROM tok
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM dt GROUP BY 1, 2
    ),
    fp AS (
      SELECT t.doc_id, t.term, t.tf,
             CAST(list_position(k.toks, t.term) AS BIGINT) AS first_pos
        FROM tf t JOIN tok k USING (doc_id)
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           CAST(sum(doc_id * first_pos) AS BIGINT) AS pos_checksum,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      FROM fp
     GROUP BY term
    HAVING count(*) >= {_INV_MIN_DF}
     ORDER BY df DESC, term
     LIMIT {_INV_TOPK}
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    tf = dt.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        # posexplode is 0-based; DuckDB list_position is 1-based
        (F.min("pos") + 1).cast("long").alias("first_pos"),
    )
    inv = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.sum(F.col("doc_id") * F.col("first_pos")).cast("long")
        .alias("pos_checksum"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )
    return (
        inv.where(F.col("df") >= _INV_MIN_DF)
        .orderBy(F.desc("df"), "term")
        .limit(_INV_TOPK)
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity proxy — the classic LM-based quality filter
# (CCNet/RedPajama shape): score every document by its mean per-token
# information content under the corpus's own add-1-smoothed unigram model.
# High bits/token = unusual vocabulary (noise, boilerplate soup, wrong
# language); the 100 TB pipeline thresholds on this score next to the
# Gopher gates.  Two linear keyed aggregates + one broadcast join — the
# vocabulary is orders of magnitude smaller than the corpus, and the
# per-doc score is a plain hash aggregate, so the shape is flat at any
# corpus size.  (A real deployment swaps the corpus-trained unigram model
# for a fixed reference model — same join, the model table just stops
# depending on the input.)
# ---------------------------------------------------------------------------


@register(
    "text_perplexity_unigram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    toks2 AS (SELECT doc_id, t FROM toks WHERE t != ''),
    vocab AS (SELECT t, count(*) AS n FROM toks2 GROUP BY t),
    stats AS (SELECT sum(n) AS total, count(*) AS vsize FROM vocab)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           ROUND(avg(-log2((v.n + 1) / (s.total + s.vsize))), 6)
               AS bits_per_token
      FROM toks2 JOIN vocab v USING (t) CROSS JOIN stats s
     GROUP BY doc_id
    """,
)
def text_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    stats = vocab.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("vsize")
    )
    # add-1 smoothing; -log2 p stays double end-to-end and the mean is
    # rounded to 6 decimals on both engines (sum order across engines
    # differs at the ULP, never at 1e-6 over per-doc token counts)
    bits = -F.log2((F.col("n") + 1) / (F.col("total") + F.col("vsize")))
    return (
        toks.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(bits), 6).alias("bits_per_token"),
        )
    )
