"""Training-data pipeline operators over ``documents`` (SURVEY.md §7
extension surface: the ops a large-scale LLM data pipeline runs between
raw ingest and tokenization, beyond the dedup/ANN/text families).

Every operator is built from JVM-side built-ins (no Python in the hot
path) and carries a full-value DuckDB oracle.  Cross-engine hashing uses
the md5-prefix-as-integer trick established in text.py:216 — Spark's
``conv(substring(md5(x),1,k),16,10)`` equals DuckDB's
``('0x' || substr(md5(x),1,k))::BIGINT`` byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark.operators import pins, register
from iceberg_trino_sql_demo_spark.session import read_parquet, table_path


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, table_path(sf_dir, "documents"))


# ---------------------------------------------------------------------------
# deterministic hash-bucket split — reproducible train/holdout assignment.
# A pure stateless projection: no shuffle, no rand() (nondeterministic and
# engine-specific), so the same document lands in the same split on every
# engine, every run, at every scale — the property that matters when a
# holdout must stay stable across pipeline re-runs over 100 TB.
# ---------------------------------------------------------------------------
_HOLDOUT_PCT = 10  # buckets 0-9 of 100


@register(
    "sample_hash_bucket",
    oracle=f"""
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS INT)
               AS bucket,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                     < {_HOLDOUT_PCT}
                THEN 'holdout' ELSE 'train' END AS split
      FROM documents
    """,
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < _HOLDOUT_PCT, "holdout").otherwise("train").alias("split"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/valid/test split — the correctness rule behind every
# held-out eval: duplicate documents must land in the SAME split, or the
# "held-out" set is silently inside the training set.  Splitting on the
# raw doc_id (sample_hash_bucket above) violates this on any deduplicated
# corpus; here the split key is the duplicate GROUP's representative
# (min doc_id per content hash), so every member inherits one verdict.
# Plan shape at 100 TB: one hash aggregate on the 128-bit content hash
# and one co-partitioned join back on the same key — the second shuffle
# reuses the first's partitioning; no window, no driver state.  The
# 80/10/10 bucketing reuses the md5-prefix identity, keyed by the
# representative id so the assignment is stable under re-crawls that
# add more duplicates (new copies join the old group's split).
# ---------------------------------------------------------------------------
def _split_leakage_oracle() -> str:
    from iceberg_trino_sql_demo_spark.operators.dedup import _CORPUS_SQL

    return f"""
    WITH c AS ({_CORPUS_SQL}),
    g AS (SELECT md5(text) AS h, MIN(doc_id) AS rep FROM c GROUP BY 1),
    j AS (SELECT c.doc_id, g.rep,
                 ('0x' || substr(md5(CAST(g.rep AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
            FROM c JOIN g ON md5(c.text) = g.h)
    SELECT doc_id, rep AS group_rep,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split
      FROM j
    """


@register("split_leakage_safe", oracle=_split_leakage_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_trino_sql_demo_spark.operators.dedup import _corpus_with_dups

    corpus = _corpus_with_dups(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("h")
    )
    groups = corpus.groupBy("h").agg(F.min("doc_id").alias("group_rep"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("group_rep").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return corpus.join(groups, "h").select(
        "doc_id",
        "group_rep",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup — the crawl-side dedup that runs BEFORE any
# content hashing: the same page fetched as https://WWW.Site.com:443/a?utm=x
# and https://site.com/a must collapse.  The corpus has no URL column, so
# a deterministic synthetic URL derives from (source, doc_id) with the
# classic noise injected — mixed host case, www. prefix, explicit :443
# default port, utm tracking params — and normalization strips all four
# (lowercase host, drop www., drop default port, drop the query).  The
# URL parse runs through Spark's parse_url (the url_extract_* family the
# frontend maps); DuckDB re-derives the same parts with regexes.  Plan:
# scan-side expressions + ONE hash aggregate on the canonical key —
# content never moves, exactly how a 100 TB frontier dedup runs.
# ---------------------------------------------------------------------------
@register(
    "url_normalize_dedup",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' ||
             CASE WHEN doc_id % 3 = 0 THEN upper(source) || '.Example.COM'
                  WHEN doc_id % 3 = 1 THEN 'www.' || source || '.example.com'
                  ELSE source || '.example.com' END ||
             CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
             '/doc/' || CAST(doc_id % 500 AS VARCHAR) ||
             '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
    ),
    n AS (
      SELECT doc_id,
             regexp_replace(
               lower(string_split(regexp_extract(url, '://([^/]+)', 1), ':')[1]),
               '^www\\.', '') ||
             regexp_extract(url, '://[^/]+([^?#]*)', 1) AS norm_url
        FROM u
    )
    SELECT norm_url,
           CAST(count(*) AS BIGINT) AS n_dups,
           MIN(doc_id) AS keeper
      FROM n GROUP BY 1
    """,
)
def url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.upper("source"), F.lit(".Example.COM")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")))
        .otherwise(F.concat(F.col("source"), F.lit(".example.com"))),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/doc/"),
        (F.col("doc_id") % 500).cast("string"),
        F.lit("?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    norm = F.concat(
        F.regexp_replace(
            F.lower(F.parse_url(F.col("url"), F.lit("HOST"))), r"^www\.", ""
        ),
        F.parse_url(F.col("url"), F.lit("PATH")),
    )
    return (
        with_url.select("doc_id", norm.alias("norm_url"))
        .groupBy("norm_url")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper"))
    )


# ---------------------------------------------------------------------------
# greedy sequence packing — assign documents to fixed-token-budget packs.
# One window per source: cumulative token sum ordered by doc_id; a document
# joins the pack its START offset falls in (contiguous greedy fill).  At
# 100 TB the partition key becomes (source, ingest-day) so window state is
# bounded per partition; the window itself is the one unavoidable sort.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 2048


@register(
    "doc_pack_greedy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    offs AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
        FROM toks
    )
    SELECT source,
           CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
      FROM offs
     GROUP BY 1, 2
    """,
)
def doc_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    offs = toks.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        offs.groupBy(
            "source",
            (F.col("start_off") / _PACK_BUDGET).cast("long").alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
        )
        .select("source", "pack_id", "n_docs", "pack_tokens")
    )


# ---------------------------------------------------------------------------
# normalization-aware exact dedup — exact dedup after canonicalization
# (lowercase, strip non-alphanumerics, collapse whitespace): catches the
# near-exact duplicates raw md5 misses.  Same single hash-shuffle shape as
# dedup_exact; the normalization is codegen'd string work in the scan.
# The corpus injects UPPERCASED+punctuated copies of every 10th doc (the
# injection is replicated in the oracle), so the query provably collapses
# pairs that byte-exact dedup cannot: every group must span id ranges.
# ---------------------------------------------------------------------------
_NORM_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, upper(text) || '!!' AS text
      FROM documents WHERE doc_id % 10 = 0
"""


@register(
    "dedup_exact_normalized",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS ntext
        FROM ({_NORM_CORPUS_SQL})
    )
    SELECT md5(ntext) AS content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS keep_id
      FROM norm
     GROUP BY 1
    HAVING count(*) > 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    perturbed = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("!!")).alias("text"),
    )
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        d.unionAll(perturbed)
        .select("doc_id", ntext.alias("ntext"))
        .groupBy(F.md5("ntext").alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# benchmark-contamination scan — per training document, how many of its
# word 3-grams appear in the eval set (docs with doc_id % 97 = 0 stand in
# for a benchmark corpus).  The eval shingle set is DISTINCT and tiny
# relative to the corpus, so Spark broadcasts it and the scan is one
# map-side semi-join pass over training shingles — the corpus itself never
# shuffles, which is the only shape that survives 100 TB of training text.
# ---------------------------------------------------------------------------
_EVAL_MOD = 97


def _contamination_oracle() -> str:
    from iceberg_trino_sql_demo_spark.operators.dedup import (
        _SH_PAIRS_SQL,
        _SHINGLE_OCC_SQL,
    )

    pairs = _SH_PAIRS_SQL.format(
        occ=_SHINGLE_OCC_SQL.format(corpus="SELECT doc_id, text FROM documents")
    )
    return f"""
    WITH sh AS ({pairs}),
    eval_sh AS (
      SELECT DISTINCT h1, h2 FROM sh WHERE doc_id % {_EVAL_MOD} = 0
    ),
    train AS (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} != 0),
    hits AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        FROM train t JOIN eval_sh e ON t.h1 = e.h1 AND t.h2 = e.h2
       GROUP BY 1
    )
    SELECT h.doc_id, h.n_overlap, s.n_shingles
      FROM hits h
      JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM train GROUP BY 1) s
        ON s.doc_id = h.doc_id
    """


@register("contamination_ngram", oracle=_contamination_oracle())
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_trino_sql_demo_spark.operators.dedup import shingle_hash_pairs

    # shingle each side from a PRE-filtered doc set: the eval subtree only
    # ever explodes eval docs (it is re-scanned to build the broadcast), and
    # the predicate needn't survive pushdown through the distinct.
    # UNCAPPED hashed identity (shingle_hash_pairs, not hashed_shingles):
    # the DF cap exists to keep shingle SELF-joins skew-safe; this scan
    # joins the corpus against a BROADCAST eval-shingle set, so a high-DF
    # shingle costs linear counting, not a quadratic shuffle key — and
    # decontamination must count boilerplate overlap too (the oracle is
    # uncapped to match).  Hash-early: the membership join probes two
    # longs instead of gram strings, and the broadcast build side packs
    # 16 B/row.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_sh = shingle_hash_pairs(docs.where(is_eval)).select("h1", "h2").distinct()
    train = shingle_hash_pairs(docs.where(~is_eval))
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(F.broadcast(eval_sh), ["h1", "h2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hits.join(sizes, "doc_id").select("doc_id", "n_overlap", "n_shingles")


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination — same RESULT as contamination_ngram
# (the bloom is lossless here: every false positive dies in the exact
# membership join that follows), different 100 TB plan: the broadcast
# carries ~10 BITS per eval shingle instead of the 16-byte (h1, h2) exact
# set — 13x smaller for benchmark suites with 10^8 grams — and the
# membership test is a pure scan-side JVM expression, so corpus shingles
# that miss the bloom never reach the join at all.  Construction is
# distributed end-to-end: eval shingles explode into k (word, mask)
# probes, bit_or-aggregated per 64-bit word; the driver only ever holds
# the m/64-long dense bitset (the same double-hashing scheme as the
# per-file blooms in sources/bloom.py, reduced mod a power-of-two m with
# an odd stride so the probe family stays coprime).
# ---------------------------------------------------------------------------


@register("contamination_bloom_prefilter", oracle=_contamination_oracle())
def contamination_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from iceberg_trino_sql_demo_spark.operators.dedup import shingle_hash_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_sh = shingle_hash_pairs(docs.where(is_eval)).select("h1", "h2").distinct()
    pins.pin(eval_sh)
    n_eval = eval_sh.count()  # one scalar to the driver (sizes the bitset)

    m_bits = max(1024, 1 << math.ceil(math.log2(n_eval * 10 + 1)))
    n_words, k = m_bits // 64, 7

    # reduced probe bases: values < m_bits, so idx arithmetic stays far
    # from BIGINT overflow (h1 + i*h2 on the raw 60-bit halves would not);
    # SQL-expression probes because pyspark's shiftleft/shiftright helpers
    # only accept literal bit counts
    def _probe_sql(i: int) -> str:
        return (
            f"pmod(pmod(h1, {m_bits}) + {i} * (pmod(h2, {m_bits}) | 1), {m_bits})"
        )

    probes = ", ".join(_probe_sql(i) for i in range(k))
    set_words = (
        eval_sh.selectExpr(f"explode(array({probes})) AS idx")
        .selectExpr(
            "cast(idx div 64 AS int) AS w",
            "shiftleft(1L, cast(idx % 64 AS int)) AS m",
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in set_words:
        words[r["w"]] = r["bits"]
    bloom = spark.createDataFrame([(words,)], "bits array<long>")

    # the train shingle set feeds TWO branches (per-doc sizes and the
    # bloom-filtered candidate scan) — pin it so the second branch reads
    # the cache instead of re-exploding + re-hashing the corpus
    train = pins.pin(shingle_hash_pairs(docs.where(~is_eval)))
    # n_shingles counts the UNfiltered per-doc shingle set (the bloom only
    # prunes the overlap-join side)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    member = " AND ".join(
        f"(shiftright(element_at(bits, cast({_probe_sql(i)} div 64 AS int) + 1), "
        f"cast({_probe_sql(i)} % 64 AS int)) & 1) = 1"
        for i in range(k)
    )
    candidates = (
        train.crossJoin(F.broadcast(bloom))
        .where(F.expr(member))
        .select("doc_id", "h1", "h2")
    )

    hits = (
        candidates.join(F.broadcast(eval_sh), ["h1", "h2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hits.join(sizes, "doc_id").select("doc_id", "n_overlap", "n_shingles")


# ---------------------------------------------------------------------------
# PII scrub statistics — the compliance pass every training pipeline runs
# before tokenization: count email/phone matches per source (the scrub
# itself is the same regexp_replace; counting keeps the output small and
# fully checkable).  Pure codegen'd regex scan: no shuffle beyond the
# per-source aggregate.  The corpus injects synthetic PII into every 20th
# doc (replicated in the oracle) since the testdata itself is clean.
# ---------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+[.][a-z]+"
_PHONE_RE = "[+][0-9] [0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_SUFFIX = " contact bob@example.com or +1 555-123-4567"


@register(
    "pii_scrub_stats",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source,
             text || CASE WHEN doc_id % 20 = 0 THEN '{_PII_SUFFIX}' ELSE '' END AS text
        FROM documents
    ),
    counted AS (
      SELECT source,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone
        FROM corpus
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs_scanned,
           CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS n_emails,
           CAST(SUM(n_phone) AS BIGINT) AS n_phones
      FROM counted
     GROUP BY source
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 20 == 0, _PII_SUFFIX).otherwise(""),
        ).alias("text"),
    )
    n_email = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0)))
    return (
        corpus.select("source", n_email.alias("n_email"), n_phone.alias("n_phone"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_scanned"),
            F.sum(((F.col("n_email") + F.col("n_phone")) > 0).cast("long")).alias(
                "docs_with_pii"
            ),
            F.sum("n_email").cast("long").alias("n_emails"),
            F.sum("n_phone").cast("long").alias("n_phones"),
        )
    )


# ---------------------------------------------------------------------------
# per-source mixture sampling — build a training mixture by keeping a
# deterministic 10% of each source: rank docs per source by their md5
# hash (a stable pseudo-random order) and keep the first ceil(n/10).
# No rand(), so the mixture is reproducible across engines/runs/retries
# — at scale the window becomes a per-(source, shard) rank with the same
# semantics, or the hash-threshold form sample_hash_bucket uses when an
# exact per-source count is not required.
# ---------------------------------------------------------------------------
@register(
    "source_mixture_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT doc_id, source
      FROM ranked
     WHERE rk <= (n + 9) // 10
    """,
)
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    order = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    whole = Window.partitionBy("source")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.row_number().over(order).alias("rk"),
            F.count(F.lit(1)).over(whole).alias("n"),
        )
        .where(F.col("rk") <= ((F.col("n") + 9) / 10).cast("long"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Temperature-weighted source resampling — the mixture-rebalancing step of
# multilingual/multi-source training (alpha-sampling a la multilingual
# BERT / XLM: quota_s ~ n_s^alpha with alpha = 0.5, so small sources are
# upweighted relative to their raw share).  All quota arithmetic is exact
# integers: weight_s = floor(sqrt(n_s)*1000) (sqrt is IEEE
# exactly-rounded, identical in both engines), total budget = half the
# corpus, quota_s = (budget * weight_s) // sum(weights) — no float
# summation anywhere.  Selection inside a source is by md5 rank (a
# deterministic uniform "random" sample, reproducible across runs and
# engines).  100 TB plan: quotas come from an S-row aggregate (S =
# #sources) pushed through a single-partition window — trivially small;
# the only data-scale shuffle is ONE row_number window on source, and the
# quota join back is a broadcast.  A badly skewed source (one source =
# 90% of corpus) serializes its rank sort — the salting remedy is the
# same staged top-k used by events_topk_per_type.
# ---------------------------------------------------------------------------
@register(
    "source_temperature_resample",
    oracle="""
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
    w AS (SELECT source, n, CAST(floor(sqrt(n) * 1000) AS BIGINT) AS wt FROM c),
    t AS (SELECT source, wt,
                 CAST(SUM(wt) OVER () AS BIGINT) AS tot_w,
                 CAST(SUM(n) OVER () AS BIGINT) AS tot_n
            FROM w),
    q AS (SELECT source, CAST(((tot_n // 2) * wt) // tot_w AS BIGINT) AS quota FROM t),
    r AS (SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents)
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk
      FROM r JOIN q ON r.source = q.source
     WHERE r.rk <= q.quota
    """,
)
def source_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # the OVER () windows below move S rows to one partition — S = #sources
    quotas = (
        counts.select(
            "source",
            "n",
            F.floor(F.sqrt("n") * 1000).cast("long").alias("wt"),
        )
        .select(
            "source",
            F.expr(
                "((CAST(sum(n) OVER () AS BIGINT) div 2) * wt) "
                "div CAST(sum(wt) OVER () AS BIGINT)"
            ).alias("quota"),
        )
    )
    order = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(order).cast("long").alias("rk")
    )
    return ranked.join(F.broadcast(quotas), "source").where(
        F.col("rk") <= F.col("quota")
    ).select("doc_id", "source", "rk")


# ---------------------------------------------------------------------------
# end-to-end corpus selection — the composed "what this engine is for"
# query: one Catalyst DAG chaining the Gopher quality gate, exact-dup
# keeper election, benchmark-decontamination scan, and the deterministic
# md5 train/valid/test split, emitting the final training-corpus roster.
# Every stage reuses the EXACT identity its standalone operator (and that
# operator's oracle) uses — quality_filter_gopher's integer rules,
# dedup_exact's min-id-per-md5 keeper, contamination_ngram's uncapped
# hashed-shingle overlap vs the broadcast eval set, sample_hash_bucket's
# md5 bucketing — so the composition is verified end-to-end by one DuckDB
# oracle rather than stage-by-stage trust.  Shuffles: tokenize agg on
# doc_id, keeper agg on the 128-bit content hash, shingle agg on doc_id,
# three doc_id-keyed joins (co-partitioned); the eval shingle set stays a
# broadcast.  No stage is new state — at 100 TB this runs at the same
# cost as its most expensive member, not the sum of separate scans.
# ---------------------------------------------------------------------------
def _corpus_select_oracle() -> str:
    from iceberg_trino_sql_demo_spark.operators.dedup import (
        _SH_PAIRS_SQL,
        _SHINGLE_OCC_SQL,
    )
    from iceberg_trino_sql_demo_spark.operators.text import _STOP_SQL

    pairs = _SH_PAIRS_SQL.format(
        occ=_SHINGLE_OCC_SQL.format(corpus="SELECT doc_id, text FROM documents")
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
       WHERE doc_id % {_EVAL_MOD} != 0
    ),
    quality AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(t)) AS BIGINT) AS sum_len,
             CAST(sum(CASE WHEN regexp_matches(t, '[A-Za-z]') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alpha,
             CAST(count(DISTINCT CASE WHEN t IN {_STOP_SQL} THEN t END)
                  AS BIGINT) AS n_stop
        FROM tok WHERE t != '' GROUP BY doc_id
    ),
    passing AS (
      SELECT doc_id, n_words FROM quality
       WHERE n_words >= 50 AND n_words <= 100000
         AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
         AND 5 * n_alpha >= 4 * n_words
         AND n_stop >= 2
    ),
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    sh AS ({pairs}),
    eval_sh AS (
      SELECT DISTINCT h1, h2 FROM sh WHERE doc_id % {_EVAL_MOD} = 0
    ),
    contaminated AS (
      SELECT DISTINCT t.doc_id
        FROM (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} != 0) t
        JOIN eval_sh e ON t.h1 = e.h1 AND t.h2 = e.h2
    )
    SELECT p.doc_id, p.n_words,
           CASE WHEN ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
                THEN 'train'
                WHEN ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                THEN 'valid' ELSE 'test' END AS split
      FROM passing p
      JOIN keepers k ON k.doc_id = p.doc_id
      LEFT JOIN contaminated c ON c.doc_id = p.doc_id
     WHERE c.doc_id IS NULL
    """


@register("training_corpus_select", oracle=_corpus_select_oracle())
def training_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final training-corpus roster: non-eval docs that pass the Gopher
    rules, win their exact-dup keeper election, carry zero eval-shingle
    overlap, and get a deterministic md5 80/10/10 split."""
    from iceberg_trino_sql_demo_spark.operators.dedup import shingle_hash_pairs
    from iceberg_trino_sql_demo_spark.operators.text import _STOPWORDS

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    nonval = docs.where(~is_eval)

    toks = (
        nonval.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    quality = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("t")).alias("sum_len"),
        F.sum(F.col("t").rlike("[A-Za-z]").cast("long")).alias("n_alpha"),
        F.countDistinct(
            F.when(F.col("t").isin(*_STOPWORDS), F.col("t"))
        ).alias("n_stop"),
    )
    passing = quality.where(
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (3 * F.col("n_words") <= F.col("sum_len"))
        & (F.col("sum_len") <= 10 * F.col("n_words"))
        & (5 * F.col("n_alpha") >= 4 * F.col("n_words"))
        & (F.col("n_stop") >= 2)
    ).select("doc_id", "n_words")

    keepers = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))

    eval_sh = shingle_hash_pairs(docs.where(is_eval)).select("h1", "h2").distinct()
    contaminated = (
        shingle_hash_pairs(nonval)
        .join(F.broadcast(eval_sh), ["h1", "h2"])
        .select("doc_id")
        .distinct()
    )

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        passing.join(keepers.select("doc_id"), "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "n_words", split.alias("split"))
    )


# ---------------------------------------------------------------------------
# span-level exact dedup (the Dolma/CCNet paragraph-dedup shape).  Whole-doc
# dedup misses boilerplate: a page whose body is unique but whose header/
# footer is everywhere.  Real pipelines dedup at the paragraph grain; this
# corpus has no newlines, so the grain is non-overlapping 10-word spans —
# the same plan shape (explode to spans, count cross-doc frequency, roll
# back up to the document).
#
# Scale path: three keyed exchanges, all on fixed-width-ish keys —
# (doc_id, md5) for the within-doc collapse, md5 for the corpus frequency,
# doc_id for the rollup — each a plain hash agg with map-side partials; no
# self-join of the span table, so cost is O(total spans), never pairs.
# The doc frame repartitions to session parallelism before the explode
# (the CPU-expansion lesson from SCALING.md: one ~50 MB parquet file
# otherwise serializes the dominant stage onto 1-2 tasks).  Span identity
# is the full 128-bit md5 hex (32 bytes shuffled instead of ~60-byte span
# text; no truncated-hash collision risk).
# ---------------------------------------------------------------------------
_SPAN_WORDS = 10


@register(
    "dedup_span_exact",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS parts FROM documents
    ),
    spans AS (
      SELECT doc_id,
             md5(array_to_string(
                 parts[chunk*{_SPAN_WORDS}+1 : chunk*{_SPAN_WORDS}+{_SPAN_WORDS}],
                 ' ')) AS key
        FROM (SELECT doc_id, parts,
                     unnest(range(CAST(ceil(len(parts)/{_SPAN_WORDS}.0) AS BIGINT)))
                         AS chunk
                FROM d)
    ),
    per_doc AS (
      SELECT doc_id, key, COUNT(*) AS n_occ FROM spans GROUP BY 1, 2
    ),
    freq AS (
      SELECT key, COUNT(*) AS ndoc FROM per_doc GROUP BY 1
    )
    SELECT p.doc_id,
           CAST(SUM(p.n_occ) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN f.ndoc > 1 THEN p.n_occ ELSE 0 END) AS BIGINT)
               AS dup_spans,
           CAST(SUM(CASE WHEN f.ndoc > 1 THEN p.n_occ ELSE 0 END) AS DOUBLE)
               / SUM(p.n_occ) AS dup_frac
      FROM per_doc p
      JOIN freq f ON f.key = p.key
     GROUP BY 1
     ORDER BY 1
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-span profile: how much of each document's
    text exists verbatim (at 10-word granularity) in OTHER documents.
    ``dup_frac`` is the removal signal a paragraph-dedup pass thresholds
    on.  Counts are integers and the one division is of identical longs,
    so values are bit-identical across engines."""
    p = spark.sparkContext.defaultParallelism
    span = F.concat_ws(
        " ", F.slice("parts", F.col("chunk") * _SPAN_WORDS + 1, _SPAN_WORDS)
    )
    # split("") -> [""] so size >= 1 and sequence(0, nspan-1) never sees a
    # negative bound (sequence would happily count DOWN otherwise)
    spans = (
        _docs(spark, sf_dir)
        .repartition(p)
        .select("doc_id", F.split("text", " ").alias("parts"))
        .select(
            "doc_id",
            "parts",
            F.explode(
                F.sequence(
                    F.lit(0),
                    (F.ceil(F.size("parts") / F.lit(float(_SPAN_WORDS))) - 1).cast(
                        "int"
                    ),
                )
            ).alias("chunk"),
        )
        .select("doc_id", F.md5(span).alias("key"))
    )
    per_doc = spans.groupBy("doc_id", "key").agg(F.count(F.lit(1)).alias("n_occ"))
    freq = per_doc.groupBy("key").agg(F.count(F.lit(1)).alias("ndoc"))
    dup_occ = F.sum(F.when(F.col("ndoc") > 1, F.col("n_occ")).otherwise(F.lit(0)))
    return (
        per_doc.join(freq, "key")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_spans"),
            dup_occ.alias("dup_spans"),
            (dup_occ.cast("double") / F.sum("n_occ")).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# span-level scrub — the TRANSFORM complement of dedup_span_exact: rewrite
# every document with its cross-doc duplicated spans removed, keeping one
# canonical copy corpus-wide (the minimum doc_id — deterministic keeper
# election, same rule as dedup_keep_list).  This is the Dolma-style
# paragraph-dedup output: not a report, the cleaned training text itself.
#
# Scale shape: identical exchanges to the profile operator plus one
# per-doc reassembly aggregate.  Reassembly is collect_list of
# (chunk, span) structs + sort_array — the list is bounded by DOCUMENT
# length (spans per doc), never by corpus size, so the aggregate buffer
# is as bounded as the document itself.  Docs that are 100% duplicate
# scrub to NULL (the removal signal downstream filters on).
# ---------------------------------------------------------------------------
@register(
    "dedup_span_scrub",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS parts FROM documents
    ),
    spans AS (
      SELECT doc_id, chunk,
             array_to_string(
                 parts[chunk*{_SPAN_WORDS}+1 : chunk*{_SPAN_WORDS}+{_SPAN_WORDS}],
                 ' ') AS span
        FROM (SELECT doc_id, parts,
                     unnest(range(CAST(ceil(len(parts)/{_SPAN_WORDS}.0) AS BIGINT)))
                         AS chunk
                FROM d)
    ),
    freq AS (
      SELECT md5(span) AS key, COUNT(DISTINCT doc_id) AS ndoc,
             MIN(doc_id) AS keeper
        FROM spans GROUP BY 1
    )
    SELECT s.doc_id,
           string_agg(s.span, ' ' ORDER BY s.chunk)
               FILTER (WHERE f.ndoc = 1 OR s.doc_id = f.keeper) AS scrubbed,
           CAST(COUNT(*) FILTER (WHERE f.ndoc > 1 AND s.doc_id <> f.keeper)
                AS BIGINT) AS removed_spans
      FROM spans s JOIN freq f ON f.key = md5(s.span)
     GROUP BY 1
     ORDER BY 1
    """,
)
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.sparkContext.defaultParallelism
    span = F.concat_ws(
        " ", F.slice("parts", F.col("chunk") * _SPAN_WORDS + 1, _SPAN_WORDS)
    )
    spans = (
        _docs(spark, sf_dir)
        .repartition(p)
        .select("doc_id", F.split("text", " ").alias("parts"))
        .select(
            "doc_id",
            "parts",
            F.explode(
                F.sequence(
                    F.lit(0),
                    (F.ceil(F.size("parts") / F.lit(float(_SPAN_WORDS))) - 1).cast(
                        "int"
                    ),
                )
            ).alias("chunk"),
        )
        .select("doc_id", "chunk", span.alias("span"))
        .withColumn("key", F.md5("span"))
    )
    freq = spans.groupBy("key").agg(
        F.countDistinct("doc_id").alias("ndoc"),
        F.min("doc_id").alias("keeper"),
    )
    joined = spans.join(freq, "key")
    keep = (F.col("ndoc") == 1) | (F.col("doc_id") == F.col("keeper"))
    kept_sorted = F.sort_array(
        F.collect_list(F.when(keep, F.struct("chunk", "span")))
    )
    scrubbed = F.array_join(
        F.transform(kept_sorted, lambda x: x["span"]), " "
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.when(F.size(kept_sorted) > 0, scrubbed).alias("scrubbed"),
            F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias(
                "removed_spans"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Context-window chunking with overlap — the step between cleaning and
# tokenization in a pretraining pipeline: split every document into
# L-token windows advancing by stride s = L - o, so consecutive chunks
# share o tokens and no token is more than L-1 positions from a chunk
# start.  Start positions 1, 1+s, 1+2s, ... <= max(1, n - o) provably
# cover the document (the last start f satisfies f > n - L, so
# f + L - 1 >= n) without emitting a tail chunk fully contained in its
# predecessor.
#
# 100 TB plan: explode(sequence(...)) fans each doc into ceil(n/s) rows
# inside one codegen stage — no shuffle at all (the output is written
# partition-parallel); chunk text re-materializes from the shared token
# array per row, so memory per task is one document, not one corpus.
# Chunks surface as md5 fingerprints here to keep the oracle rows narrow;
# a real pipeline writes the text column straight out.
# ---------------------------------------------------------------------------
_CHUNK_L = 32   # tokens per chunk
_CHUNK_O = 8    # overlap tokens; stride = L - o = 24


@register(
    "doc_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ),
    starts AS (
      SELECT doc_id, t,
             unnest(range(1, greatest(len(t) - {_CHUNK_O}, 1) + 1, {_CHUNK_L - _CHUNK_O}))
               AS s
        FROM toks
    )
    SELECT doc_id,
           CAST((s - 1) / {_CHUNK_L - _CHUNK_O} AS BIGINT) AS chunk_idx,
           CAST(len(t[s:s+{_CHUNK_L}-1]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(t[s:s+{_CHUNK_L}-1], ' ')) AS chunk_hash
      FROM starts
     ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    L, o = _CHUNK_L, _CHUNK_O
    s = L - o
    toks = (
        _docs(spark, sf_dir)
        .where(F.trim(F.col("text")) != "")
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    )
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.size("t") - o, F.lit(1)), F.lit(s)
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / s).cast("long").alias("chunk_idx"),
            F.size(F.slice("t", F.col("s"), L)).cast("long").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", F.slice("t", F.col("s"), L))).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# PII scrub TRANSFORM — the complement of pii_scrub_stats: the cleaned
# training text itself, emails/phones replaced with typed placeholder
# tokens (the standard pre-training redaction contract: the model sees
# <EMAIL>/<PHONE>, never the value; placeholders keep sentence structure
# where deletion would splice unrelated tokens together).  Same injected
# synthetic PII as the stats op, same regexes — one codegen'd
# regexp_replace chain per row, zero shuffles; the audit row-count
# invariant (scrubbed docs == corpus docs) is structural.
# ---------------------------------------------------------------------------
@register(
    "pii_scrub_text",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source,
             text || CASE WHEN doc_id % 20 = 0 THEN '{_PII_SUFFIX}' ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id, source,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                + len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)
               AS n_redactions
      FROM corpus
    """,
)
def pii_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 20 == 0, _PII_SUFFIX).otherwise(""),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>",
    )
    n_red = (
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0)))
    ).cast("long")
    return corpus.select(
        "doc_id", "source", clean.alias("clean_text"),
        n_red.alias("n_redactions"),
    )


# ---------------------------------------------------------------------------
# Sequence packing — the last shaping step of a pre-training pipeline:
# concatenate the token stream in a deterministic document order and split
# it into fixed-length training sequences (the standard concat-and-split
# packing; zero padding except the final tail).  Output: one row per
# (sequence, document) assignment with the document's token span inside
# that sequence — exactly what a loader needs to build attention/loss
# masks across packed boundaries.
#
# Scale design: the global running offset is a prefix scan, and the naive
# form (one unpartitioned window) funnels 100 TB of token counts through a
# single task.  Instead: deterministic order-preserving buckets
# (doc_id DIV K, bucket count self-sized from the corpus footer row count
# — ~100k docs per bucket, floor 64, ceiling 1M), a local exclusive
# cumsum per bucket, bucket totals rolled into an exclusive prefix (one
# bucket-count-row window, bounded by the ceiling), broadcast-joined
# back.  Every stage is a keyed shuffle or a broadcast; nothing global
# ever lands in one task, and cumsum parallelism GROWS with the corpus
# instead of capping at a constant.
# ---------------------------------------------------------------------------
_PACK_CTX = 512
#: bucket sizing: ~this many documents per prefix-scan bucket.  The
#: bucket count SCALES WITH THE CORPUS (footer row count, no job) instead
#: of a fixed 64 — a fixed count caps the cumsum stage at 64-way
#: parallelism forever (VERDICT r6/r7 #6).  Floor 64 keeps small corpora
#: on the historical plan; the 1M ceiling bounds the bucket-prefix frame
#: (one task over <=1M tiny rows) and the prefix broadcast (~16 MB).
_PACK_DOCS_PER_BUCKET = 100_000
_PACK_MIN_BUCKETS = 64
_PACK_MAX_BUCKETS = 1_000_000


def _pack_buckets(n_docs: int) -> int:
    import math

    return min(
        _PACK_MAX_BUCKETS,
        max(_PACK_MIN_BUCKETS, math.ceil(n_docs / _PACK_DOCS_PER_BUCKET)),
    )
#: release-on-next-invocation persisted frames (see operators.release_caches)


@register(
    "training_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents) u
       WHERE t != ''
       GROUP BY doc_id
    ),
    offs AS (
      SELECT doc_id, n,
             CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS off0
        FROM toks
    ),
    spans AS (
      SELECT doc_id, n, off0,
             unnest(generate_series(off0 // {_PACK_CTX},
                                    (off0 + n - 1) // {_PACK_CTX})) AS s
        FROM offs
    )
    SELECT CAST(s AS BIGINT) AS seq_id,
           doc_id,
           CAST(GREATEST(off0, s * {_PACK_CTX})
                - s * {_PACK_CTX} AS BIGINT) AS begin_in_seq,
           CAST(LEAST(off0 + n, (s + 1) * {_PACK_CTX})
                - GREATEST(off0, s * {_PACK_CTX}) AS BIGINT) AS n_toks
      FROM spans
    """,
)
def training_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = pins.pin(
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        # persisted: three consumers (max_id job, the per-bucket window
        # branch, the bucket-totals branch) would otherwise each re-run
        # the tokenize+agg scan — the heaviest stage at corpus scale
    )
    # order-preserving deterministic buckets: doc_id DIV K
    from iceberg_trino_sql_demo_spark.session import parquet_row_count, table_path

    n_buckets = _pack_buckets(parquet_row_count(table_path(sf_dir, "documents")))
    max_id = toks.agg(F.max("doc_id")).head()[0]
    k = max(1, (int(max_id) + n_buckets) // n_buckets)
    b = toks.withColumn("__b", (F.col("doc_id") / k).cast("long"))
    from pyspark.sql import Window

    local = Window.partitionBy("__b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    b = b.withColumn("__local0", F.coalesce(F.sum("n").over(local), F.lit(0)))
    # bucket totals -> exclusive prefix: a <=64-row frame, constant at any
    # corpus size, then broadcast back onto the bucketed rows
    btot = b.groupBy("__b").agg(F.sum("n").alias("__bt"))
    wpre = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    bpre = btot.withColumn("__pre", F.coalesce(F.sum("__bt").over(wpre), F.lit(0))).select(
        "__b", "__pre"
    )
    off = b.join(F.broadcast(bpre), "__b").select(
        "doc_id", "n", (F.col("__local0") + F.col("__pre")).alias("off0")
    )
    s = F.col("s")
    return (
        off.select(
            "doc_id", "n", "off0",
            F.explode(
                F.sequence(
                    (F.col("off0") / _PACK_CTX).cast("long"),
                    ((F.col("off0") + F.col("n") - 1) / _PACK_CTX).cast("long"),
                )
            ).alias("s"),
        )
        .select(
            s.alias("seq_id"),
            "doc_id",
            (F.greatest("off0", s * _PACK_CTX) - s * _PACK_CTX)
            .cast("long").alias("begin_in_seq"),
            (
                F.least(F.col("off0") + F.col("n"), (s + 1) * _PACK_CTX)
                - F.greatest("off0", s * _PACK_CTX)
            ).cast("long").alias("n_toks"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-based keeper election — the FineWeb/Dolma refinement of exact
# dedup: instead of keeping the lowest-id duplicate, keep the HIGHEST-
# QUALITY member of each duplicate group (dedup should discard the worse
# crawl of a page, not the later one).  The quality score here is a
# deterministic md5-derived stand-in for a learned quality model's output
# (duplicate members share text, so a content-only score could not
# discriminate); the election itself — rank within content-hash groups by
# (score DESC, doc_id ASC) — is exactly the production plan: one hash
# aggregate's worth of shuffle, a per-group window, no driver state.
# ---------------------------------------------------------------------------
def _quality_keeper_oracle() -> str:
    from iceberg_trino_sql_demo_spark.operators.dedup import _CORPUS_SQL

    return f"""
    WITH c AS ({_CORPUS_SQL}),
    scored AS (
      SELECT doc_id, md5(text) AS content_hash,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 1000 AS BIGINT) AS quality
        FROM c
    ),
    ranked AS (
      SELECT *, row_number() OVER (
                 PARTITION BY content_hash
                 ORDER BY quality DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT) AS n_copies
        FROM scored
    )
    SELECT content_hash, doc_id AS keep_id, quality AS keep_quality, n_copies
      FROM ranked WHERE rn = 1 AND n_copies > 1
    """


@register("dedup_quality_keeper", oracle=_quality_keeper_oracle())
def dedup_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from iceberg_trino_sql_demo_spark.operators.dedup import _corpus_with_dups

    scored = _corpus_with_dups(spark, sf_dir).select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 1000
        ).alias("quality"),
    )
    w = Window.partitionBy("content_hash").orderBy(
        F.desc("quality"), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("content_hash")))
        .where((F.col("rn") == 1) & (F.col("n_copies") > 1))
        .select("content_hash", F.col("doc_id").alias("keep_id"),
                F.col("quality").alias("keep_quality"), "n_copies")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS 2023 — public
# method): score every document by the log-likelihood ratio of its
# hashed-bigram features under a TARGET distribution (here: the corpus's
# 'en' documents, standing in for a high-quality target domain) vs the
# RAW distribution, then select the top-K.  The hashed feature space
# (_DSIR_B buckets) makes both unigram models fixed-size regardless of
# corpus size.
#
# 100 TB plan shape: bigrams are built row-locally (zip_with over the
# token array — no window, no extra shuffle), both bucket-count models
# are map-side-combinable keyed aggregates into _DSIR_B rows, the
# log-ratio table broadcasts onto the bigram stream, and the per-doc
# score is one more keyed aggregate.  The top-K selection is a
# TakeOrderedAndProject (per-partition local top-K, only K rows
# converge) whose K-th (weight, doc_id) tuple broadcasts back as a
# row-local cutoff comparison — NO doc-grain row ever crosses a
# SinglePartition exchange.  Cross-engine determinism: the bucket hash is the
# established md5-prefix bridge, and the summed log-ratio rounds to 6
# decimals on both engines before ranking (same contract as
# text_perplexity_unigram; ULP-order drift never reaches 1e-6 over
# per-doc bigram counts).
# ---------------------------------------------------------------------------

_DSIR_B = 4096
_DSIR_TOP_K = 150


@register(
    "source_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(sp) AS t, generate_subscripts(sp, 1) AS pos
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS sp
                FROM documents)
    ),
    bg AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(t || ' ' || lead(t, 1) OVER w), 1, 8)
             )::BIGINT % {_DSIR_B} AS b
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    bg2 AS (SELECT doc_id, lang, b FROM bg WHERE b IS NOT NULL),
    raw AS (SELECT b, count(*) AS cr FROM bg2 GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM bg2 WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM bg2) AS tr,
                   (SELECT count(*) FROM bg2 WHERE lang = 'en') AS tt),
    lr AS (
      SELECT raw.b,
             ln((coalesce(ct, 0) + 1.0) / (tt + {_DSIR_B}))
               - ln((cr + 1.0) / (tr + {_DSIR_B})) AS logratio
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(sum(logratio), 6) AS dsir_logweight
        FROM bg2 JOIN lr ON bg2.b = lr.b GROUP BY doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY dsir_logweight DESC,
                                   doc_id ASC) AS rk
        FROM scored
    )
    SELECT doc_id, n_bigrams, dsir_logweight,
           CAST(rk <= {_DSIR_TOP_K} AS BIGINT) AS selected
      FROM ranked
    """,
)
def source_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.split("text", " ").alias("arr")
    )
    # row-local bigrams: zip the token array with itself shifted by one
    # (zip_with pads the shorter side with null; concat of a null is
    # null, filtered after the explode) — no window, no shuffle
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.zip_with(
                "arr",
                F.slice("arr", 2, F.greatest(F.size("arr") - 1, F.lit(1))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("g"),
    ).where(F.col("g").isNotNull())
    b = (F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
         % _DSIR_B)
    # the bigram stream feeds TWO passes (bucket model, then scoring);
    # pin it so the corpus is read/split/hashed once per invocation
    bg2 = pins.pin(bg.select("doc_id", b.alias("b"),
                             (F.col("lang") == "en").alias("en")))
    # ONE map-side-combinable aggregate builds BOTH unigram models
    # (raw count + target count per bucket); the totals fold from the
    # 4096-row model, not from another corpus pass
    model = bg2.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.col("en").cast("long")).alias("ct"),
    )
    tot = model.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    lr = (
        model.crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.col("ct") + 1.0) / (F.col("tt") + _DSIR_B))
                - F.log((F.col("cr") + 1.0) / (F.col("tr") + _DSIR_B))
            ).alias("logratio"),
        )
    )
    scored = (
        bg2.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("logratio"), 6).alias("dsir_logweight"),
        )
    )
    # Top-K selection WITHOUT a global SinglePartition window (VERDICT
    # r10 finding #1): orderBy().limit(K) compiles to
    # TakeOrderedAndProject — each partition keeps its local top-K and
    # only K rows ever converge — then the K-th (weight, doc_id) tuple
    # (the LAST of the top-K in (weight DESC, doc_id ASC) order) is
    # reduced to ONE row and broadcast back onto the scored stream.
    # `selected` is then a row-local comparison against that cutoff:
    # identical tie semantics to row_number() <= K because (weight,
    # doc_id) is a total order (doc_id is unique).  When the corpus has
    # fewer than K docs the cutoff IS the global minimum, so every row
    # still selects.  No doc-grain row ever crosses a SinglePartition
    # exchange.
    scored = pins.pin(scored)
    cut = (
        scored.orderBy(F.col("dsir_logweight").desc(), F.col("doc_id"))
        .limit(_DSIR_TOP_K)
        .orderBy(F.col("dsir_logweight").asc(), F.col("doc_id").desc())
        .limit(1)
        .select(
            F.col("dsir_logweight").alias("cut_w"),
            F.col("doc_id").alias("cut_id"),
        )
    )
    sel = (F.col("dsir_logweight") > F.col("cut_w")) | (
        (F.col("dsir_logweight") == F.col("cut_w"))
        & (F.col("doc_id") <= F.col("cut_id"))
    )
    return scored.crossJoin(F.broadcast(cut)).select(
        "doc_id", "n_bigrams", "dsir_logweight",
        sel.cast("long").alias("selected"),
    )
