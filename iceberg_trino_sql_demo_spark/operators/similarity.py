"""Similarity search over an embedding column (SURVEY.md §7 Phase 7).

- **brute-force cosine top-k** — the correctness baseline: one pass over
  the table, dot/norm as unrolled codegen'd expressions (no Python, no
  interpreted lambdas in the loop), top-k via orderBy+limit (Spark runs
  this as a per-partition TakeOrdered, so nothing but k rows per
  partition ever moves);
- **LSH-bucketed top-k** — scale path #1: sign-random-hyperplane buckets
  computed once per row; the query only scans buckets within a hamming
  radius of the query's bucket.  At 100 TB the bucket column is a
  partition/cluster key and a probe touches a fixed fraction of the data;
- **IVF top-k** — scale path #2: inverted lists under a sampled coarse
  quantizer; a probe reads only the N_PROBE nearest lists.

The query vector is the embedding of ``vec_id = 0`` (deterministic; the
oracle picks the same row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark.functions.trino import iround_long
from iceberg_trino_sql_demo_spark.operators import pins, register
from iceberg_trino_sql_demo_spark.session import parquet_row_count, read_parquet, table_path

K = 10
N_PLANES = 8
PROBE_RADIUS = 3



def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, table_path(sf_dir, "embeddings"))


#: embeddings dimension in the testdata (uniform across sf0.001/0.01/0.1)
_DIM = 64


# Dot products are built as unrolled left-to-right sums handed to Spark as
# ONE sql string (F.expr).  Three alternatives measured at sf0.1:
# - zip_with/aggregate lambdas: generic, but higher-order functions are
#   CodegenFallback — interpreted per element, the slow path at scale;
# - unrolled python Column arithmetic: codegen'd, but building 512 Column
#   objects costs thousands of py4j round-trips (~4 s of *driver* time per
#   query construction);
# - unrolled SQL string (this): one py4j call, whole-stage-codegen'd, and
#   the left-associative `+` chain adds in the same sequential order as
#   DuckDB's list_dot_product, so values stay bit-identical.


def _dot(a: str, b: str):
    """Column-column dot product over two array<float> columns (by name)."""
    return F.expr(
        " + ".join(
            f"CAST({a}[{k}] AS DOUBLE) * CAST({b}[{k}] AS DOUBLE)"
            for k in range(_DIM)
        )
    )


def _dot_lit(a: str, values):
    """Column-literal dot product: the literal side folds to double
    literals (repr() round-trips exactly; D-suffix keeps Spark from
    parsing them as DECIMAL)."""
    return F.expr(
        " + ".join(
            f"CAST({a}[{k}] AS DOUBLE) * {float(v)!r}D"
            for k, v in enumerate(values)
        )
    )


def _norm_lit(values) -> float:
    """sqrt(v·v) computed driver-side with the same sequential order both
    engines use, so it can be inlined as one constant."""
    import math

    acc = 0.0
    for v in values:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = _emb(spark, sf_dir).where(F.col("vec_id") == 0).select("embedding").head()
    vec = [float(x) for x in row[0]]
    # the unrolled dot products AND the oracle SQL bake _DIM in as literals;
    # a regenerated-testdata dim change must fail loudly here, not surface
    # as NULL-poisoned cosines downstream (the driver regenerates testdata
    # per round and has changed physical types before)
    if len(vec) != _DIM:
        raise ValueError(
            f"embeddings dim changed: data has {len(vec)}, engine built for "
            f"{_DIM} — update similarity._DIM (oracle SQL embeds it too)"
        )
    return vec


def _probe_ids(cent_rows: list, qv: list, n_probe: int) -> list[int]:
    """Top-``n_probe`` centroid ids by cosine to the query, computed on the
    driver from the ALREADY-collected centroid rows (r14, guide §1.2: the
    IVF operators collected the centroids for the assignment kernel AND
    ran a second scan + TakeOrdered job just to rank the same ~C rows
    against the query — one whole Spark job per invocation for work on
    manifest-cardinality data the driver is already holding).

    Every IEEE operation replicates the retired JVM expression form
    bit-for-bit so the probe set cannot drift from the oracle on
    near-ties: the dot and norm accumulate as a dimension-sequential
    LEFT FOLD in float64 (``acc = acc + c[d] * q[d]`` — the same
    association order as the unrolled ``_dot``/``_dot_lit`` columns),
    then ``1 - dot / (sqrt(norm) * qnorm)`` with the identical operation
    order, then a lexicographic (distance, cent_id) sort."""
    import numpy as np

    ids = [int(r.cent_id) for r in cent_rows]
    if not ids:
        return []
    C = np.stack([np.asarray(r.cent, dtype=np.float64) for r in cent_rows])
    q = [float(x) for x in qv]
    qn = _norm_lit(qv)
    dotq = C[:, 0] * q[0]
    nrm = C[:, 0] * C[:, 0]
    for d in range(1, C.shape[1]):
        dotq = dotq + C[:, d] * q[d]
        nrm = nrm + C[:, d] * C[:, d]
    key = 1.0 - dotq / (np.sqrt(nrm) * qn)
    order = sorted(range(len(ids)), key=lambda i: (key[i], ids[i]))
    return [ids[i] for i in order[:n_probe]]


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT vec_id,
             list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q))
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q))))
             AS cosine
        FROM embeddings
       WHERE vec_id != 0
    )
    SELECT vec_id, round(cosine, 6) AS cosine
      FROM scored
     ORDER BY cosine DESC, vec_id
     LIMIT {K}
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vector(spark, sf_dir)
    cosine = _dot_lit("embedding", qv) / (
        F.sqrt(_dot("embedding", "embedding")) * F.lit(_norm_lit(qv))
    )
    return (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") != 0)
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(K)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


def _hyperplanes(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded; no numpy needed at
    executor side — these are query-time literals broadcast in the plan).
    The first N_PLANES rows are identical for any n_planes >= N_PLANES, so
    an adaptive caller growing the plane count refines the default
    bucketing instead of re-randomizing it."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.standard_normal((max(n_planes, N_PLANES), dim)).tolist()


def lsh_bucket_col(planes: list[list[float]]):
    """Sign-bit bucket id for the embedding column.

    NOTE: inlining this into the same projection as a cosine expression
    fuses N_PLANES*dim + 2*dim multiply-adds into ONE codegen method and
    overflows janino's 64 KB method ceiling — the whole stage then runs
    interpreted (measured: 2x wall time at sf0.1).  Callers that also
    compute cosine must stage the per-plane dots as separate columns
    first (see ann_topk_lsh) so codegen splits them into per-expression
    methods."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(
            _dot_lit("embedding", p) >= 0, F.lit(1)
        ).otherwise(F.lit(0))
        bucket = bucket + bit.cast("long") * F.lit(2 ** i).cast("long")
    return bucket


def _bucket_from_dots(n_planes: int = N_PLANES):
    """Bucket id assembled from pre-computed per-plane dot columns d0..dN —
    the cheap second stage of the staged bucket computation."""
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bit = F.when(F.col(f"d{i}") >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("long") * F.lit(2 ** i).cast("long")
    return bucket


def _bucket_sql(planes: list[list[float]]) -> str:
    """The sign-LSH bucket as a SQL expression over DOUBLE[] column ``e`` —
    same plane literals (repr() round-trips doubles exactly) and same
    bit weights as lsh_bucket_col."""
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(e, {lit}) >= 0 THEN {2 ** i} ELSE 0 END)"
        )
    return "(" + "\n       + ".join(terms) + ")"


_LSH_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (
      SELECT e AS qe, {_bucket_sql(_hyperplanes(_DIM))}::BIGINT AS qb
        FROM base WHERE vec_id = 0
    ),
    cand AS (
      SELECT vec_id, e
        FROM base, q
       WHERE vec_id != 0
         AND bit_count(xor({_bucket_sql(_hyperplanes(_DIM))}::BIGINT, qb)) <= {PROBE_RADIUS}
    ),
    scored AS (
      SELECT vec_id,
             list_dot_product(e, (SELECT qe FROM q))
             / (sqrt(list_dot_product(e, e))
                * sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q))))
             AS cosine
        FROM cand
    )
    SELECT vec_id, round(cosine, 6) AS cosine
      FROM scored
     ORDER BY cosine DESC, vec_id
     LIMIT {K}
"""


@register("ann_topk_lsh", oracle=_LSH_ORACLE)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates are rows whose sign-LSH signature is
    within hamming distance PROBE_RADIUS of the query's (popcount of XOR —
    a pure integer filter; the 64-float cosine only runs on survivors).

    Sign-LSH guarantees: a vector at angle theta from the query disagrees
    with each hyperplane with probability theta/pi, so true near-duplicates
    (cos >= 0.9 => theta <= 26 deg => p ~ 0.14) pass an r=3-of-8 filter with
    probability > 0.99, while the bulk of a random corpus is rejected before
    any vector math.  At 100 TB the signature is a cluster/partition key and
    this filter becomes partition pruning.  Oracle-checked end-to-end (the
    seeded hyperplanes are inlined as double literals in the SQL); recall
    vs brute force is additionally asserted in tests/test_extensions.py.
    """
    qv = _query_vector(spark, sf_dir)
    planes = _hyperplanes(len(qv))
    e = _emb(spark, sf_dir).where(F.col("vec_id") != 0)
    # STAGED bucket: project the 8 plane dots as separate columns (codegen
    # emits one method per expression — each ~dim terms, under the 64 KB
    # janino ceiling), then assemble the bucket from those scalars.  The
    # persist is the stage barrier that stops CollapseProject from fusing
    # the dots back into the downstream cosine projection — and it is the
    # honest production shape anyway: at 100 TB the bucket is computed
    # once at WRITE time and stored as a cluster/partition key, never
    # recomputed per probe.
    dots = pins.pin(e.select(
        "vec_id",
        "embedding",
        *[_dot_lit("embedding", p).alias(f"d{i}") for i, p in enumerate(planes)],
    ))
    bucketed = dots.select("vec_id", "embedding", _bucket_from_dots().alias("bucket"))

    q_bucket = 0
    for i, p in enumerate(planes):
        dot = sum(a * b for a, b in zip(qv, p))
        q_bucket += (1 if dot >= 0 else 0) * (2 ** i)

    hamming = F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bucket)))
    cosine = _dot_lit("embedding", qv) / (
        F.sqrt(_dot("embedding", "embedding")) * F.lit(_norm_lit(qv))
    )
    return (
        bucketed.where(hamming <= PROBE_RADIUS)
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(K)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) top-k — the other classic ANN scale path, alongside
# sign-LSH above.  Coarse quantizer: a deterministic sample of the corpus
# (vec_id % 100 = 1) serves as centroids; every vector is assigned to its
# nearest centroid (argmin cosine distance, centroid id as tie-break); a
# query probes only the N_PROBE nearest inverted lists and scores those
# candidates exactly.  At 100 TB the assignment is a write-time clustering
# key, a probe reads N_PROBE/K of the data, and the centroid set is a
# broadcast table — assignment and probe are both one broadcast join.
# Every step (sampling, assignment, probing, scoring) is the same
# arithmetic in DuckDB, so the operator is oracle-checked end-to-end.
# ---------------------------------------------------------------------------
N_PROBE = 2
_CENT_MOD, _CENT_RESIDUE = 100, 1


#: centroid-count ceiling for the SQL-expression assignment branch.  All
#: oracle-checked corpora (<= 2000 vectors at MOD 100) stay at or under
#: 20 centroids, so the oracle only ever sees the byte-identical SQL
#: branch; bigger quantizers take the numpy-GEMM mapInPandas branch.
_ASSIGN_SQL_MAX_CENTROIDS = 20


def _adaptive_cent_mod(n_vecs: int) -> int:
    """Centroid-sampling modulus keeping the coarse-quantizer size near
    sqrt(n) — textbook IVF sizing.  A FIXED modulus makes the centroid
    count grow linearly with the corpus, so assignment work grows n²/MOD:
    the scaling harness measured ann_topk_ivf collapsing 0.7 s -> 69 s at
    a 20x corpus before this (40k vectors x 400 centroids).  With
    MOD ~ sqrt(n) assignment is n^1.5.  Floored at _CENT_MOD so every
    oracle-checked corpus (<= 2000 vectors) keeps the static SQL's
    centroid set byte-identical."""
    import math

    return max(_CENT_MOD, int(math.sqrt(n_vecs)))


def _assign(
    e_df: DataFrame,
    cent: DataFrame,
    n_rows: int | None = None,
    cent_rows: list | None = None,
) -> DataFrame:
    """(vec_id, embedding, cluster): nearest centroid by cosine distance.

    The argmin is ONE hash aggregate (``min_by`` keyed on a
    (distance, cent_id) struct — lexicographic struct ordering gives the
    same deterministic tie-break as ORDER BY dist, cent_id), not a
    row_number() window: the window plan shuffled AND sorted the full
    n×C expanded frame, while min_by partial-aggregates map-side so only
    one row per vec_id ever crosses the wire.

    The min_by PAYLOAD is just the centroid id (a long): carrying the
    embedding array through the aggregation buffer forced
    ObjectHashAggregate with per-update array copies (and sort-based
    fallback on big corpora — the scaling harness caught it); the
    embedding is joined back by vec_id afterwards, one narrow shuffle of
    n rows.

    The stream side is repartitioned to the session's parallelism first:
    the n x C expansion multiplies CPU work per INPUT byte, so parquet's
    bytes-based split (one ~50 MB file -> 1-2 tasks) serializes exactly
    the expensive stage — the scaling harness measured a 20x corpus
    running 66 s nearly single-task vs ~4 s spread (the repartition
    itself moves only n narrow rows).

    Beyond the oracle-checked centroid counts (<= 20 at the correctness
    scales) the row-expansion model itself is wrong: n x C joined rows
    each carry two 64-float arrays, so 100k vectors x 316 centroids
    push ~17 GB of array payload through the expression path (measured
    49 s at the 50x scale point).  The scale branch instead broadcasts
    the centroid MATRIX to an Arrow-batched mapInPandas and assigns a
    whole batch with one numpy GEMM — no expansion, no shuffle; the
    SQL-expression branch stays byte-identical to the DuckDB oracle
    where the oracle is evaluated."""
    spark = e_df.sparkSession
    if cent_rows is None:
        cent_rows = cent.collect()  # C rows (driver-side, manifest-cardinality)
    else:
        cent_rows = list(cent_rows)
    if len(cent_rows) <= _ASSIGN_SQL_MAX_CENTROIDS:
        # expansion parallelism scales with the corpus when the caller
        # knows its size (parquet footer count): a 2k-vector corpus at 32
        # tasks x 4 stages is pure scheduler floor (~0.2 s of the r5
        # bench's ann_topk_ivf), while the 50x point still fans out fully
        p = spark.sparkContext.defaultParallelism
        if n_rows is not None:
            p = max(1, min(p, -(-n_rows // 2000)))
        # norms are hand-CSE'd BELOW the join: inlining sqrt(dot(x,x)) in
        # the post-join cosine recomputes each side's 64-term norm n*C
        # times (and triples the expansion stage's codegen, the JIT-warmup
        # hot spot bench run 1-2 pays).  Projected here they run n+C
        # times; the division chain e_norm * c_norm keeps the exact
        # multiply order of the inlined form, so values stay bit-identical
        # to the DuckDB oracle.
        e_n = e_df.repartition(p).withColumn(
            "e_norm", F.sqrt(_dot("embedding", "embedding"))
        )
        c_n = cent.withColumn("c_norm", F.sqrt(_dot("cent", "cent")))
        d = e_n.crossJoin(F.broadcast(c_n))
        cos = _dot("embedding", "cent") / (F.col("e_norm") * F.col("c_norm"))
        best = F.min_by(
            F.col("cent_id"),
            F.struct((1 - cos).alias("dist"), F.col("cent_id").alias("cent_id")),
        ).alias("cluster")
        # the embedding rides the assignment aggregate (first() over the
        # expansion is deterministic: every expanded row carries the same
        # vector) — one vec_id shuffle instead of agg-shuffle + join-back
        # shuffle, the same bytes moved once
        return d.groupBy("vec_id").agg(
            best, F.first("embedding").alias("embedding")
        ).select("vec_id", "embedding", "cluster")

    import numpy as np
    import pandas as pd

    cent_rows.sort(key=lambda r: r.cent_id)
    ids = np.array([r.cent_id for r in cent_rows], dtype=np.int64)
    cm = np.stack([np.asarray(r.cent, dtype=np.float64) for r in cent_rows])
    cm /= np.linalg.norm(cm, axis=1, keepdims=True)

    def assign_batches(batches):
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xn = x / np.linalg.norm(x, axis=1, keepdims=True)
            # centroids sorted by id + argmax returning the FIRST maximum
            # reproduce the SQL branch's (dist, cent_id) tie-break
            best = ids[np.argmax(xn @ cm.T, axis=1)]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": pdf["embedding"],
                 "cluster": best}
            )

    p = spark.sparkContext.defaultParallelism
    return e_df.repartition(p).mapInPandas(
        assign_batches, "vec_id long, embedding array<float>, cluster long"
    )


_IVF_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cent_id, e AS c FROM base
       WHERE vec_id % {_CENT_MOD} = {_CENT_RESIDUE}
    ),
    q AS (SELECT e AS qe FROM base WHERE vec_id = 0),
    assign AS (
      SELECT vec_id, e, cent_id AS cluster
        FROM (
          SELECT b.vec_id, b.e, cent.cent_id,
                 row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY 1 - list_dot_product(b.e, cent.c)
                            / (sqrt(list_dot_product(b.e, b.e))
                               * sqrt(list_dot_product(cent.c, cent.c))) ASC,
                            cent.cent_id ASC) AS rk
            FROM base b CROSS JOIN cent
        ) WHERE rk = 1
    ),
    probes AS (
      SELECT cent_id
        FROM cent CROSS JOIN q
       ORDER BY 1 - list_dot_product(qe, c)
                / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c, c))) ASC,
                cent_id ASC
       LIMIT {N_PROBE}
    ),
    scored AS (
      SELECT a.vec_id,
             list_dot_product(a.e, (SELECT qe FROM q))
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q))))
             AS cosine
        FROM assign a
       WHERE a.cluster IN (SELECT cent_id FROM probes) AND a.vec_id != 0
    )
    SELECT vec_id, round(cosine, 6) AS cosine
      FROM scored
     ORDER BY cosine DESC, vec_id
     LIMIT {K}
"""


@register("ann_topk_ivf", oracle=_IVF_ORACLE)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: score only the members of the N_PROBE inverted lists
    nearest the query.  Recall vs brute force is asserted in
    tests/test_extensions.py; values are oracle-checked."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    n_rows = parquet_row_count(table_path(sf_dir, "embeddings"))
    cent_mod = _adaptive_cent_mod(n_rows)
    cent = e.where(F.col("vec_id") % cent_mod == _CENT_RESIDUE).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    # ONE collect serves both the assignment kernel and the probe
    # ranking (bit-identical driver-side fold — see _probe_ids); the
    # separate probe scan + TakeOrdered job is gone
    cent_rows = cent.collect()
    assigned = _assign(e, cent, n_rows=n_rows, cent_rows=cent_rows)

    qv = _query_vector(spark, sf_dir)
    probes = _probe_ids(cent_rows, qv, N_PROBE)

    cosine = _dot_lit("embedding", qv) / (
        F.sqrt(_dot("embedding", "embedding")) * F.lit(_norm_lit(qv))
    )
    return (
        assigned.where(F.col("cluster").isin(probes) & (F.col("vec_id") != 0))
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(K)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# one k-means (Lloyd) iteration over the embedding corpus — the iterative-
# algorithm shape on top of the same broadcast-assign kernel IVF uses:
# assignment is the min_by hash aggregate, and the update step's state is
# per-cluster running sums (count + exact integer-scaled norm sum here;
# a full implementation carries 64 per-dimension sums in the identical
# aggregate — same plan shape, wider buffer).  Each further iteration is
# this same job with the new centroids broadcast back — no driver-side
# data movement beyond the C centroid vectors.
# ---------------------------------------------------------------------------
@register(
    "kmeans_iteration_stats",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cent_id, e AS c FROM base
       WHERE vec_id % {_CENT_MOD} = {_CENT_RESIDUE}
    ),
    assign AS (
      SELECT vec_id, e, cent_id AS cluster
        FROM (
          SELECT b.vec_id, b.e, cent.cent_id,
                 row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY 1 - list_dot_product(b.e, cent.c)
                            / (sqrt(list_dot_product(b.e, b.e))
                               * sqrt(list_dot_product(cent.c, cent.c))) ASC,
                            cent.cent_id ASC) AS rk
            FROM base b CROSS JOIN cent
        ) WHERE rk = 1
    )
    SELECT cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(round(sqrt(list_dot_product(e, e)) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_norm_micros
      FROM assign
     GROUP BY cluster
    """,
)
def kmeans_iteration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment + update-state aggregation of one Lloyd iteration.
    Norms are summed as round(x*1e6) BIGINTs — exact and order-free, so
    the distributed aggregate matches DuckDB bit-for-bit (float SUM would
    diverge with partitioning)."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    n_rows = parquet_row_count(table_path(sf_dir, "embeddings"))
    cent_mod = _adaptive_cent_mod(n_rows)
    cent = e.where(F.col("vec_id") % cent_mod == _CENT_RESIDUE).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    assigned = _assign(e, cent, n_rows=n_rows)
    norm = F.sqrt(_dot("embedding", "embedding"))
    return (
        # F.round, NOT iround_long, deliberately: iround_long references
        # its input expression five times, and here the input is the full
        # 64-term dot + sqrt — codegen CSE does not fully collapse the
        # repeats (measured 0.58 vs 0.49 s warm at sf0.1), while the
        # BigDecimal cost it avoids is per-ROW and this projection is
        # vector-cardinality.  iround_long pays off when the input is a
        # cheap column expression (the monetary sites).
        assigned.select("cluster", F.round(norm * 1e6).cast("long").alias("nm"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("nm").alias("sum_norm_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Batch k-NN JOIN: many query vectors x one corpus in a single pass.
# The single-query top-k operators above answer "neighbors of THIS vector";
# a training pipeline usually needs neighbors for a whole probe SET
# (eval-set contamination, cluster seeding, retrieval eval).  Scoring all
# queries in one scan beats Q separate top-k jobs: the corpus is read once
# and every query's dot products ride the same codegen stage.
# Reference analog: the demo's federated join surface
# (iceberg_trino_sqldemo.sql:286-295) — here the "dimension side" is the
# broadcast query set.
# ---------------------------------------------------------------------------
_KNN_Q = 5  # query set: vec_id < 5 (deterministic; oracle picks the same)
_KNN_K = 3  # neighbors returned per query



@register(
    "ann_knn_join",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < {_KNN_Q}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qe, q.qe))) AS cosine
        FROM embeddings e CROSS JOIN q
       WHERE e.vec_id != q.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT q_id, vec_id, round(cosine, 6) AS cosine, CAST(rnk AS INT) AS rnk
      FROM ranked WHERE rnk <= {_KNN_K}
    """,
)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: top-{_KNN_K} cosine neighbors for each of the {_KNN_Q}
    probe vectors, one corpus scan.

    Plan shape: the probe set is collected driver-side (fixed Q rows — the
    same scalar-cardinality class as ``_query_vector``) and inlined as
    literal dot products, one staged column per query (separate codegen
    methods, the janino-safe pattern from ann_topk_lsh); scores then
    explode to (q_id, cosine) pairs and one window ranks per q_id.  No
    join operator at all — the "broadcast" is literal folding.

    At 100 TB: the rank's parallelism is Q-way here, which is fine for a
    fixed probe set; for large probe sets compose with the sign-LSH bucket
    prefilter (each query ranks only its hamming-radius probe buckets, so
    the window keys become (q_id, bucket)) or the IVF lists — both
    operators above share this scoring kernel's shape.
    """
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    qrows = (
        e.where(F.col("vec_id") < _KNN_Q).select("vec_id", "embedding").collect()
    )
    qs = sorted((int(r[0]), [float(x) for x in r[1]]) for r in qrows)
    for _, vec in qs:
        if len(vec) != _DIM:
            raise ValueError(
                f"embeddings dim changed: data has {len(vec)}, engine built "
                f"for {_DIM} — update similarity._DIM"
            )
    # stage 1: per-query dots + self-norm as separate top-level expressions
    scored = e.select(
        "vec_id",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
        *[_dot_lit("embedding", vec).alias(f"d{i}") for i, (_, vec) in enumerate(qs)],
    )
    scored = pins.pin(scored)
    # stage 2: assemble cosines from the cached scalars, explode, rank
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(qid).alias("q_id"),
                    (F.col(f"d{i}") / (F.col("nrm") * F.lit(_norm_lit(vec)))).alias(
                        "cosine"
                    ),
                )
                for i, (qid, vec) in enumerate(qs)
            ]
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.select("vec_id", pairs.alias("p"))
        .select("vec_id", F.col("p.q_id").alias("q_id"), F.col("p.cosine").alias("cosine"))
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _KNN_K)
        .select(
            "q_id",
            "vec_id",
            F.round("cosine", 6).alias("cosine"),
            "rnk",
        )
    )



_KNN_LSH_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (
      SELECT vec_id AS q_id, e AS qe,
             {_bucket_sql(_hyperplanes(_DIM))}::BIGINT AS qb
        FROM base WHERE vec_id < {_KNN_Q}
    ),
    cand AS (
      SELECT q.q_id, b.vec_id, b.e, q.qe
        FROM base b, q
       WHERE b.vec_id != q.q_id
         AND bit_count(xor({_bucket_sql(_hyperplanes(_DIM))}::BIGINT, q.qb))
             <= {PROBE_RADIUS}
    ),
    scored AS (
      SELECT q_id, vec_id,
             list_dot_product(e, qe)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))
             AS cosine
        FROM cand
    ),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT q_id, vec_id, round(cosine, 6) AS cosine, CAST(rnk AS INT) AS rnk
      FROM ranked WHERE rnk <= {_KNN_K}
"""


@register("ann_knn_join_lsh", oracle=_KNN_LSH_ORACLE)
def ann_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path batch k-NN join: ann_knn_join's one-scan scoring
    composed with ann_topk_lsh's sign-LSH prefilter — each query ranks
    only the rows within hamming PROBE_RADIUS of its own bucket, so the
    64-float cosine runs on a fixed fraction of the corpus per query and
    the per-query rank windows shrink to probe-set size.  At 100 TB the
    bucket is a write-time cluster/partition key and this filter becomes
    partition pruning per probe — the batch-retrieval shape
    (eval-contamination sweeps, retrieval eval) at any corpus size.

    Same staged-dot discipline as the single-query operator (plane dots
    and per-query dots are separate codegen methods under the persist
    barrier); the probe buckets are 5 integers computed driver-side."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    planes = _hyperplanes(_DIM)
    qrows = (
        e.where(F.col("vec_id") < _KNN_Q).select("vec_id", "embedding").collect()
    )
    qs = sorted((int(r[0]), [float(x) for x in r[1]]) for r in qrows)
    for _, vec in qs:
        if len(vec) != _DIM:
            raise ValueError(
                f"embeddings dim changed: data has {len(vec)}, engine built "
                f"for {_DIM} — update similarity._DIM"
            )
    q_buckets = []
    for qid, vec in qs:
        b = 0
        for i, p in enumerate(planes):
            dot = sum(a * c for a, c in zip(vec, p))
            b += (1 if dot >= 0 else 0) * (2 ** i)
        q_buckets.append(b)
    staged = e.select(
        "vec_id",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
        *[_dot_lit("embedding", p).alias(f"d{i}") for i, p in enumerate(planes)],
        *[_dot_lit("embedding", vec).alias(f"s{i}") for i, (_, vec) in enumerate(qs)],
    )
    staged = pins.pin(staged)
    bucketed = staged.withColumn("bucket", _bucket_from_dots())
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(qid).alias("q_id"),
                    (
                        F.bit_count(
                            F.col("bucket").bitwiseXOR(F.lit(q_buckets[i]))
                        )
                        <= PROBE_RADIUS
                    ).alias("member"),
                    (F.col(f"s{i}") / (F.col("nrm") * F.lit(_norm_lit(vec)))).alias(
                        "cosine"
                    ),
                )
                for i, (qid, vec) in enumerate(qs)
            ]
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        bucketed.select("vec_id", pairs.alias("p"))
        .where(F.col("p.member") & (F.col("vec_id") != F.col("p.q_id")))
        .select("vec_id", F.col("p.q_id").alias("q_id"), F.col("p.cosine").alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _KNN_K)
        .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rnk")
    )


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized top-k — the memory-bandwidth scale path.  Per
# dimension, the corpus min/max define a 256-level grid; each float
# quantizes to one byte.  At 100 TB the quantized codes are the 4x-smaller
# column the scan actually reads (array<tinyint> beside the float array;
# here the codes are computed in-expression because the point is the
# QUERY pipeline shape): prescore everything on dequantized codes, keep
# the top PRESCORE_C by approximate score via TakeOrdered (no global
# window, no shuffle beyond k rows per partition), then rescore only
# those C rows with exact float cosine.
#
# Determinism across engines: Spark bakes the collected per-dim min/max
# as double literals (repr round-trips exactly; a 128-scalar collect —
# the same scalar-cardinality exception as IVF's centroid ids) while the
# oracle recomputes them in SQL — identical values, and the quantize/
# dequantize formula is written with the same operation sequence, so
# every IEEE intermediate matches bit-for-bit.  The approximate score
# drops the constant |q| factor (rank-invariant).
# ---------------------------------------------------------------------------
PRESCORE_C = 50


def _sq8_stats_sql() -> str:
    cols = ", ".join(
        f"min(CAST(embedding[{k + 1}] AS DOUBLE)) AS lo{k}, "
        f"max(CAST(embedding[{k + 1}] AS DOUBLE)) AS hi{k}"
        for k in range(_DIM)
    )
    return f"SELECT {cols} FROM embeddings"


def _sq8_vhat_sql(k: int) -> str:
    e = f"CAST(embedding[{k + 1}] AS DOUBLE)"
    return (
        f"CASE WHEN hi{k} = lo{k} THEN lo{k} ELSE "
        f"lo{k} + floor(({e} - lo{k}) * (255.0 / (hi{k} - lo{k})))"
        f" * ((hi{k} - lo{k}) / 255.0) END"
    )


_SQ8_ORACLE = f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    stats AS ({_sq8_stats_sql()}),
    vhat AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_sq8_vhat_sql(k)} AS v{k}" for k in range(_DIM))}
        FROM embeddings, stats
       WHERE vec_id != 0
    ),
    pre AS (
      SELECT vec_id, embedding,
             ({" + ".join(f"(SELECT qe[{k + 1}] FROM q) * v{k}" for k in range(_DIM))})
             / sqrt({" + ".join(f"v{k} * v{k}" for k in range(_DIM))})
             AS ascore
        FROM vhat
       ORDER BY ascore DESC, vec_id
       LIMIT {PRESCORE_C}
    )
    SELECT vec_id,
           round(
             list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q))
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q)))),
             6) AS cosine
      FROM pre
     ORDER BY cosine DESC, vec_id
     LIMIT {K}
    """


@register("ann_topk_sq8", oracle=_SQ8_ORACLE)
def ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vector(spark, sf_dir)
    stats_exprs = []
    for k in range(_DIM):
        e = f"CAST(embedding[{k}] AS DOUBLE)"
        stats_exprs += [f"min({e}) AS lo{k}", f"max({e}) AS hi{k}"]
    srow = _emb(spark, sf_dir).selectExpr(*stats_exprs).head()
    lo = [srow[f"lo{k}"] for k in range(_DIM)]
    hi = [srow[f"hi{k}"] for k in range(_DIM)]

    def vhat(k: int) -> str:
        if hi[k] == lo[k]:
            return f"{float(lo[k])!r}D"
        e = f"CAST(embedding[{k}] AS DOUBLE)"
        l, h = f"{float(lo[k])!r}D", f"{float(hi[k])!r}D"
        return (
            f"{l} + floor(({e} - {l}) * (255.0D / ({h} - {l})))"
            f" * (({h} - {l}) / 255.0D)"
        )

    # stage the 64 dequantized values as named columns so neither the dot
    # nor the norm expression exceeds janino's method ceiling
    staged = (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") != 0)
        .selectExpr(
            "vec_id", "embedding",
            *[f"{vhat(k)} AS v{k}" for k in range(_DIM)],
        )
    )
    adot = F.expr(" + ".join(f"{float(qv[k])!r}D * v{k}" for k in range(_DIM)))
    anorm = F.sqrt(F.expr(" + ".join(f"v{k} * v{k}" for k in range(_DIM))))
    pre = (
        staged.select(
            "vec_id", "embedding", (adot / anorm).alias("ascore")
        )
        .orderBy(F.desc("ascore"), "vec_id")
        .limit(PRESCORE_C)
    )
    cosine = _dot_lit("embedding", qv) / (
        F.sqrt(_dot("embedding", "embedding")) * F.lit(_norm_lit(qv))
    )
    return (
        pre.select("vec_id", F.round(cosine, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(K)
    )


# ---------------------------------------------------------------------------
# Product quantization ANN (Jegou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split each vector into M subvectors, quantize
# each against a KC-entry per-subspace codebook, and score queries from
# the codes alone by table lookup (ADC) — the index is M one-byte codes
# per vector (8 B vs SQ8's 64 B vs 256 B raw), the deepest compression
# tier in this ANN family.
#
# Correctness contract: like LSH (and unlike SQ8, whose quantizer is
# SQL-derivable), the MECHANISM is replicated in the oracle — codebooks
# are a deterministic evenly-spaced sample of the vec_id-ordered corpus
# (floor(k*(nn-1)/(KC-1)), capped), and every arithmetic step (subspace
# distances, ADC lookups, the score fold) is written in the identical
# left-to-right order on both engines, so codes, candidate pool and the
# exactly-rescored top-K match bit-for-bit.  Lloyd refinement of the
# sampled codebooks would only move recall (measured 0.9 here without
# it); it is omitted exactly because the oracle must re-derive the books.
# Distance ties between DIFFERENT sampled vectors have measure zero;
# ties from duplicate sample rows yield identical lookup values either
# way, so argmin tie-breaking cannot split the engines.
#
# 100 TB plan: codebooks are sample-trained at every scale (the collect
# is capped — PQ training never scans the corpus); codes would be
# materialized once per snapshot as M tinyint columns, making a query one
# codes-only scan against a broadcast (M x KC) lookup table, per-row work
# M array lookups, shuffle-free TakeOrdered for the pool.  Here
# encode+score run fused in ONE Arrow-batched mapInPandas pass (a
# registry query is stateless); only the C=100 survivors have raw
# vectors re-read (broadcast id join) for the exact-cosine final order.
# ---------------------------------------------------------------------------
_PQ_M = 8            # subspaces (64 dims -> 8 dims per subspace)
_PQ_KC = 256         # codebook entries per subspace (standard 8-bit codes)
_PQ_C = 100          # exact-rescore candidate pool (10x K)
_PQ_CAP = 16384      # codebook training-sample ceiling


def _pq_oracle() -> str:
    M, KC, C, ds = _PQ_M, _PQ_KC, _PQ_C, _DIM // _PQ_M

    def sub_dist(j: int) -> str:
        return " + ".join(
            f"(o.e[{j * ds + d + 1}] - bk.c[{j * ds + d + 1}])"
            f" * (o.e[{j * ds + d + 1}] - bk.c[{j * ds + d + 1}])"
            for d in range(ds)
        )

    def sub_adot(j: int) -> str:
        return " + ".join(
            f"b{j}.c[{j * ds + d + 1}] * (SELECT qe[{j * ds + d + 1}] FROM q)"
            for d in range(ds)
        )

    def sub_an2(j: int) -> str:
        return " + ".join(
            f"b{j}.c[{j * ds + d + 1}] * b{j}.c[{j * ds + d + 1}]"
            for d in range(ds)
        )

    qq = " + ".join(f"qe[{d + 1}] * qe[{d + 1}]" for d in range(_DIM))
    code_cols = ",\n             ".join(
        f"arg_min(bk.k, {sub_dist(j)}) AS k{j}" for j in range(M)
    )
    book_joins = "\n      ".join(
        f"JOIN book b{j} ON b{j}.k = codes.k{j}" for j in range(M)
    )
    adot = " + ".join(f"({sub_adot(j)})" for j in range(M))
    an2 = " + ".join(f"({sub_an2(j)})" for j in range(M))
    return f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id != 0
    ),
    ord_s AS (
      SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM base
    ),
    nn AS (SELECT least(count(*), {_PQ_CAP}) AS n FROM base),
    book AS MATERIALIZED (
      SELECT ks.k, o.e AS c
        FROM (SELECT unnest(range({KC})) AS k) ks, nn
        JOIN ord_s o
          ON o.rn = CAST(floor(ks.k * (nn.n - 1) / {KC - 1}.0) AS BIGINT)
    ),
    codes AS MATERIALIZED (
      SELECT o.vec_id,
             {code_cols}
        FROM base o CROSS JOIN book bk
       GROUP BY o.vec_id
    ),
    scored AS (
      SELECT codes.vec_id,
             ({adot}) / (sqrt({an2}) * sqrt((SELECT {qq} FROM q))) AS ascore
        FROM codes
      {book_joins}
    ),
    pool AS (
      SELECT vec_id FROM scored ORDER BY ascore DESC, vec_id LIMIT {C}
    )
    SELECT base.vec_id,
           round(
             list_dot_product(base.e, (SELECT qe FROM q))
             / (sqrt(list_dot_product(base.e, base.e))
                * sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q)))),
             6) AS cosine
      FROM base JOIN pool USING (vec_id)
     ORDER BY cosine DESC, vec_id
     LIMIT {K}
    """


@register("ann_topk_pq", oracle=_pq_oracle())
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    qv = _query_vector(spark, sf_dir)
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    ds = _DIM // _PQ_M

    sample = (
        e.where(F.col("vec_id") != 0).orderBy("vec_id").limit(_PQ_CAP).collect()
    )
    S = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in sample])
    nn = len(S)
    idx = np.floor(np.arange(_PQ_KC) * (nn - 1) / float(_PQ_KC - 1)).astype(int)
    books = [S[idx][:, j * ds:(j + 1) * ds].copy() for j in range(_PQ_M)]

    q = np.asarray(qv, dtype=np.float64)
    qn = _norm_lit(qv)  # same left-fold the oracle's sqrt(qq) performs
    # ADC lookup tables, accumulated left-to-right exactly as the oracle
    # writes its unrolled sums
    lut_dot, lut_n2 = [], []
    for j in range(_PQ_M):
        Cj, qj = books[j], q[j * ds:(j + 1) * ds]
        acc_d = Cj[:, 0] * qj[0]
        acc_n = Cj[:, 0] * Cj[:, 0]
        for d in range(1, ds):
            acc_d = acc_d + Cj[:, d] * qj[d]
            acc_n = acc_n + Cj[:, d] * Cj[:, d]
        lut_dot.append(acc_d)
        lut_n2.append(acc_n)

    # dual-branch encode kernel, same pattern as _assign: at oracle scales
    # the subspace distances accumulate in the exact left-to-right fold the
    # oracle SQL writes (argmin bit-agreement); past the threshold — where
    # no oracle is ever evaluated — the ||x||^2 - 2xC' + ||c||^2 GEMM form
    # computes the same argmins ~8x faster (measured 12.5 s -> GEMM-bound
    # at the 50x/250k scaling point; ulp-reordered sums could only flip an
    # argmin on a near-exact distance tie, which the fold branch protects
    # against precisely where hash equality is checked)
    n_rows = parquet_row_count(table_path(sf_dir, "embeddings"))
    use_gemm = n_rows > 10_000
    c2 = [(books[j] * books[j]).sum(1) for j in range(_PQ_M)]

    def score_batches(batches):
        for pdf in batches:
            Xb = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            dot = None
            nrm2 = None
            for j in range(_PQ_M):
                Xj = Xb[:, j * ds:(j + 1) * ds]
                Cj = books[j]
                if use_gemm:
                    d2 = (Xj * Xj).sum(1)[:, None] - 2.0 * (Xj @ Cj.T) + c2[j][None, :]
                else:
                    diff = Xj[:, None, 0] - Cj[None, :, 0]
                    d2 = diff * diff
                    for d in range(1, ds):
                        diff = Xj[:, None, d] - Cj[None, :, d]
                        d2 = d2 + diff * diff
                codes = d2.argmin(1)  # first-min: smallest k on exact ties
                dot = lut_dot[j][codes] if dot is None else dot + lut_dot[j][codes]
                nrm2 = lut_n2[j][codes] if nrm2 is None else nrm2 + lut_n2[j][codes]
            asc = dot / (np.sqrt(nrm2) * qn)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "ascore": asc})

    pre = (
        e.where(F.col("vec_id") != 0)
        .mapInPandas(score_batches, "vec_id long, ascore double")
        .orderBy(F.desc("ascore"), F.asc("vec_id"))
        .limit(_PQ_C)
    )
    cosine = _dot_lit("embedding", qv) / (
        F.sqrt(_dot("embedding", "embedding")) * F.lit(_norm_lit(qv))
    )
    return (
        e.join(F.broadcast(pre.select("vec_id")), "vec_id")
        .select("vec_id", F.round(cosine, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(K)
    )


# ---------------------------------------------------------------------------
# Filtered vector search — top-K among vectors whose DOCUMENT passes a
# metadata predicate (lang = 'en').  The production question this answers
# is pre- vs post-filtering: post-filtering (top-K first, filter after)
# under-returns whenever the filter is selective — K survivors of a
# filtered corpus are NOT the filtered survivors of a top-K — so the
# exact semantics demand the predicate BEFORE the ranking.  Plan: the
# metadata side reduces to a keep-set of ids joined to the vector scan
# (broadcast while small, co-keyed equi-join at scale — never a filter
# on the collected result), then the same staged-literal cosine and
# TakeOrdered as the brute-force kernel.  At 100 TB with an IVF index
# the same join applies per probed list; exactness here is what the
# oracle pins.
# ---------------------------------------------------------------------------
@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    scored AS (
      SELECT e.vec_id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q))
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q))))
             AS cosine
        FROM embeddings e JOIN keep k ON k.doc_id = e.vec_id
       WHERE e.vec_id != 0
    )
    SELECT vec_id, round(cosine, 6) AS cosine
      FROM scored
     ORDER BY cosine DESC, vec_id
     LIMIT {K}
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_trino_sql_demo_spark.session import table_path

    qv = _query_vector(spark, sf_dir)
    keep = (
        read_parquet(spark, table_path(sf_dir, "documents"))
        .where(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    cosine = _dot_lit("embedding", qv) / (
        F.sqrt(_dot("embedding", "embedding")) * F.lit(_norm_lit(qv))
    )
    return (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") != 0)
        .join(F.broadcast(keep), "vec_id")
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(K)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Range search — ALL neighbors within a cosine radius of each probe, the
# retrieval mode dedup/contamination pipelines actually run ("give me every
# candidate above τ", not a fixed k).  Semantics differ from ann_knn_join
# in the way that matters at scale: there is NO per-query ranking window —
# the kernel is one corpus scan + a filter, embarrassingly parallel with
# zero shuffles after the scan (TakeOrdered/window never appears).
#
# Plan shape: probe set collected driver-side (scalar cardinality, same
# class as _query_vector), inlined as staged literal dot columns (the
# janino-safe two-projection pattern from ann_topk_lsh), exploded to
# (q_id, cosine) pairs, filtered on the 6-decimal-ROUNDED cosine so the
# τ boundary cannot flip on a last-ulp libm divergence (the rounding rule
# the whole cosine family uses).  At 100 TB the same sign-LSH bucket
# prefilter as ann_topk_lsh composes in front (scan only hamming-radius
# buckets per probe); the exact scan is the recall baseline.
# ---------------------------------------------------------------------------
_RANGE_MOD = 101  # probe set: vec_id % 101 == 0 (deterministic both engines)
_RANGE_TAU = 0.25
#: probe-count ceiling for the staged-literal branch; larger probe sets
#: take the batched-GEMM branch.  Measured crossover at sf0.1 (20 probes,
#: 5000 rows): literal 2.1 s warm (janino-heavy 1300-expression plan) vs
#: GEMM 0.26 s — the literal branch only wins for handfuls of probes
#: where its zero-Python, zero-shuffle plan is unbeatable
_RANGE_LITERAL_MAX = 8
#: probe-workload contract (VERDICT r10 "what's wrong" #2): a probe set
#: is semantically a QUERY workload — small and independent of corpus
#: size — but the deterministic `vec_id % 101` rule grows it with the
#: corpus, and the GEMM branch must ship the probe matrix to every
#: executor anyway.  The collect is therefore bounded STRUCTURALLY
#: (limit(cap+1), so the driver can never fetch more rows than this no
#: matter the corpus) and refused loudly past the cap: 4096 probes x 64
#: dims x 8 B = 2 MiB driver/broadcast bytes, flat at any corpus size.
#: A probe set that genuinely scales with the corpus is an all-pairs
#: workload — that's dedup_embedding_prefiltered / ann_knn_join.
_RANGE_PROBE_CAP = 4096


@register(
    "ann_range_search",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (
      SELECT vec_id AS q_id, e AS qe FROM base WHERE vec_id % {_RANGE_MOD} = 0
    ),
    scored AS (
      SELECT q.q_id, b.vec_id,
             round(list_dot_product(b.e, q.qe)
                   / (sqrt(list_dot_product(b.e, b.e))
                      * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
        FROM base b CROSS JOIN q
       WHERE b.vec_id != q.q_id
    )
    SELECT q_id, vec_id, cosine
      FROM scored
     WHERE cosine >= {_RANGE_TAU}
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    qrows = (
        e.where(F.col("vec_id") % _RANGE_MOD == 0)
        .select("vec_id", "embedding")
        .limit(_RANGE_PROBE_CAP + 1)  # structural driver-bytes bound
        .collect()
    )
    if len(qrows) > _RANGE_PROBE_CAP:
        raise ValueError(
            f"ann_range_search probe set exceeds {_RANGE_PROBE_CAP} "
            "vectors — a probe set is a query workload and must not "
            "scale with the corpus; for corpus-x-corpus range retrieval "
            "use dedup_embedding_prefiltered or ann_knn_join (bucketed "
            "pair generation, no driver materialization)"
        )
    qs = sorted((int(r[0]), [float(x) for x in r[1]]) for r in qrows)
    for _, vec in qs:
        if len(vec) != _DIM:
            raise ValueError(
                f"embeddings dim changed: data has {len(vec)}, engine built "
                f"for {_DIM} — update similarity._DIM"
            )
    if len(qs) > _RANGE_LITERAL_MAX:
        # scale branch (probe set grows with the corpus under the % rule):
        # inlining q probes as literal dot columns builds a q×DIM-term
        # projection — fine to ~32 probes, pathological past it (plan size
        # and codegen grow with q).  Beyond the cap, score a whole Arrow
        # batch against ALL probes with one numpy GEMM per batch — same
        # no-shuffle shape (scan -> mapInPandas -> filter), same rounded-
        # cosine contract; only activates beyond oracle scale (same
        # convention as the IVF/PQ/semantic GEMM branches; np.round is
        # half-even vs Spark's HALF_UP — indistinguishable off the exact
        # 5e-7 boundary, and this branch is never oracle-compared).
        import numpy as np
        import pandas as pd

        Q = np.array([vec for _, vec in qs], dtype=np.float64)
        qids = np.array([qid for qid, _ in qs], dtype=np.int64)
        qn = np.sqrt((Q * Q).sum(axis=1))

        def score_batches(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                vn = np.sqrt((V * V).sum(axis=1))
                C = V @ Q.T
                # normalize in place (no rows×probes temporaries) and
                # round ONLY the selected entries: np.round over the full
                # matrix dominated the batch at 1000-probe scale (measured
                # 33.6 s -> see SCALING.md).  The pre-select threshold is
                # relaxed by the rounding grain so boundary entries that
                # round UP to tau are still selected.
                C /= vn[:, None]
                C /= qn[None, :]
                ii, jj = np.nonzero(C >= _RANGE_TAU - 5e-7)
                vid = pdf["vec_id"].to_numpy()
                cos = np.round(C[ii, jj], 6)
                keep = (cos >= _RANGE_TAU) & (vid[ii] != qids[jj])
                yield pd.DataFrame(
                    {
                        "q_id": qids[jj][keep],
                        "vec_id": vid[ii][keep],
                        "cosine": cos[keep],
                    }
                )

        # Partitioning: only intervene in the SMALL regime.  A blanket
        # repartition(defaultParallelism) turns a 5k-row corpus into 32
        # near-empty Arrow batches whose python-worker round-trips dominate
        # (measured 1.75 s warm vs ~0.3 s single-batch), while at true
        # scale a forced repartition would shuffle the whole embedding
        # table for nothing — the parquet scan's own splits already give
        # executor parallelism, so the big regime maps the scan partitions
        # directly (zero shuffle).
        par = spark.sparkContext.defaultParallelism
        n_rows = parquet_row_count(table_path(sf_dir, "embeddings"))
        src = e.select("vec_id", "embedding")
        if n_rows < 20_000 * par:
            src = src.repartition(max(1, min(par, (n_rows + 19_999) // 20_000)))
        return src.mapInPandas(
            score_batches, "q_id long, vec_id long, cosine double"
        )
    # stage 1: per-probe dots + self-norm as separate top-level expressions
    # (separate codegen methods); stage 2 assembles, explodes, filters —
    # no persist needed: single pass, nothing is re-read
    scored = e.select(
        "vec_id",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
        *[_dot_lit("embedding", vec).alias(f"d{i}") for i, (_, vec) in enumerate(qs)],
    )
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(qid).alias("q_id"),
                    F.round(
                        F.col(f"d{i}") / (F.col("nrm") * F.lit(_norm_lit(vec))), 6
                    ).alias("cosine"),
                )
                for i, (qid, vec) in enumerate(qs)
            ]
        )
    )
    return (
        scored.select("vec_id", pairs.alias("p"))
        .select("p.q_id", "vec_id", "p.cosine")
        .where(F.col("vec_id") != F.col("q_id"))
        .where(F.col("cosine") >= F.lit(_RANGE_TAU))
    )


# ---------------------------------------------------------------------------
# Embedding outlier filter — per-label centroid-distance curation: within
# each label, flag the rows farthest from the label centroid (mislabeled /
# junk candidates a curation pipeline drops before training).
#
# Exactness: the centroid is never materialized as floats.  Components are
# quantized to integer micros per row FIRST (the kmeans_iteration_stats
# rule: integer sums are order-independent, float sums are not), then for
# row x in a label with n rows and per-position component sums S:
#     n^2 * ||x - S/n||^2  =  Σ_pos (n·x_pos − S_pos)²
# — all-integer, computed in decimal(38,0)/HUGEINT (a long accumulator
# would wrap: at sf0.1 the per-position term reaches ~2.5e17 and 64
# positions sum past 9.2e18 — the events_anomaly_zscore lesson).
# Flag rule is integer too: rnk * 20 <= n  (top 5%, ties by vec_id).
#
# Plan shape / 100 TB: posexplode -> (label,pos) hash-agg (map-side
# combine; output is labels×dim rows — tiny), broadcast back onto the
# exploded frame, (vec_id) hash-agg for the distance, one window per
# label for the rank.  Shuffle keys are (label,pos) and label — fixed
# width, bounded cardinality; the window's partition count equals the
# label count, which is fine for classifier-style label spaces (for
# unbounded label spaces the flag threshold composes with approx
# quantiles instead of a rank window).
# ---------------------------------------------------------------------------


@register(
    "embedding_outlier_filter",
    oracle="""
    WITH comp AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(round(CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE)
                        * 1000000) AS BIGINT) AS xq
        FROM embeddings
    ),
    sums AS (
      SELECT label, pos,
             CAST(SUM(xq) AS HUGEINT) AS s,
             CAST(COUNT(*) AS HUGEINT) AS n
        FROM comp GROUP BY label, pos
    ),
    dist AS (
      SELECT c.vec_id, c.label,
             SUM((s.n * c.xq - s.s) * (s.n * c.xq - s.s)) AS d2,
             MAX(s.n) AS n
        FROM comp c JOIN sums s ON s.label = c.label AND s.pos = c.pos
       GROUP BY c.vec_id, c.label
    ),
    ranked AS (
      SELECT vec_id, label,
             CAST(row_number() OVER (PARTITION BY label
                                     ORDER BY d2 DESC, vec_id ASC) AS INT)
                 AS outlier_rank,
             n
        FROM dist
    )
    SELECT vec_id, label, outlier_rank
      FROM ranked
     WHERE outlier_rank * 20 <= n
    """,
)
def embedding_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Expansion of the oracle's per-position squared term (identical exact
    # integer value, cheaper arithmetic placement):
    #     Σ_pos (n·x_p − S_p)²  =  n²·Σx² − 2n·Σ(x_p·S_p) + Σ_pos S_p²
    # The three Σ run as LONG multiply-adds over the exploded components
    # (decimal128 products on the component rows were the wall: measured
    # 21 s warm at the 100k-doc scale point, ~1 s after this split); the
    # decimal(38,0) combination happens on ONE row per vector.  Long-range
    # audit at micro quantization: x·S ≤ 1e6 · (n·1e6), so the Σ over dim
    # stays under 2^63 through n ≈ 2.5e5 rows/label — past that, promote
    # sxs to decimal before the dim-sum (the combination stays decimal
    # either way).  ΣS² is one constant per label from the tiny sums
    # frame.
    from pyspark.sql.window import Window

    d38 = "decimal(38,0)"
    comp = _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "vec_id",
        "label",
        # DuckDB generate_subscripts is 1-based; align
        (F.col("pos0") + 1).alias("pos"),
        iround_long(F.col("x").cast("double") * 1000000).alias("xq"),
    )
    sums = comp.groupBy("label", "pos").agg(
        F.sum("xq").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    per_label = sums.groupBy("label").agg(
        F.sum(F.col("s").cast(d38) * F.col("s").cast(d38)).alias("ss2"),
        F.max("n").alias("n"),
    )
    per_vec = (
        comp.join(F.broadcast(sums.select("label", "pos", "s")), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("xq") * F.col("xq")).alias("sx2"),
            F.sum(F.col("xq") * F.col("s")).alias("sxs"),
        )
    )
    n_d = F.col("n").cast(d38)
    dist = per_vec.join(F.broadcast(per_label), "label").select(
        "vec_id",
        "label",
        (
            n_d * n_d * F.col("sx2").cast(d38)
            - F.lit(2).cast(d38) * n_d * F.col("sxs").cast(d38)
            + F.col("ss2")
        ).alias("d2"),
        "n",
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), F.asc("vec_id"))
    return (
        dist.select(
            "vec_id",
            "label",
            F.row_number().over(w).alias("outlier_rank"),
            "n",
        )
        .where(F.col("outlier_rank").cast(d38) * 20 <= F.col("n"))
        .select("vec_id", "label", "outlier_rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the production ANN composition at 100 TB: the coarse quantizer
# prunes the corpus to N_PROBE inverted lists (IVF, ~1/sqrt(n) of the
# data), PQ's 8-byte ADC codes rank ONLY those list members (so the
# expensive exact arithmetic never touches the corpus), and a bounded
# exact-cosine rescore fixes the quantization error on the candidate
# pool.  Memory math at scale: 64-dim float32 vectors = 256 B/vector;
# the scan that ranks candidates here reads 8 B/vector codes — a 32x
# bandwidth cut on top of IVF's list pruning.
#
# Every stage reuses an already-oracle-checked kernel: the coarse
# assignment is ann_topk_ivf's _assign (min_by hash aggregate / GEMM
# branch past oracle scale), the codebook + ADC fold is ann_topk_pq's
# (sample-derived, identical left-to-right accumulation on both
# engines), the rescore is the brute-force staged-literal cosine.  The
# DuckDB oracle is the same composition in SQL, so codes, probe set,
# ADC pool and final top-K all hash-match.
# ---------------------------------------------------------------------------
def _ivfpq_oracle() -> str:
    M, KC, C, ds = _PQ_M, _PQ_KC, _PQ_C, _DIM // _PQ_M

    def sub_dist(j: int) -> str:
        return " + ".join(
            f"(o.e[{j * ds + d + 1}] - bk.c[{j * ds + d + 1}])"
            f" * (o.e[{j * ds + d + 1}] - bk.c[{j * ds + d + 1}])"
            for d in range(ds)
        )

    def sub_adot(j: int) -> str:
        return " + ".join(
            f"b{j}.c[{j * ds + d + 1}] * (SELECT qe[{j * ds + d + 1}] FROM q)"
            for d in range(ds)
        )

    def sub_an2(j: int) -> str:
        return " + ".join(
            f"b{j}.c[{j * ds + d + 1}] * b{j}.c[{j * ds + d + 1}]"
            for d in range(ds)
        )

    qq = " + ".join(f"qe[{d + 1}] * qe[{d + 1}]" for d in range(_DIM))
    code_cols = ",\n             ".join(
        f"arg_min(bk.k, {sub_dist(j)}) AS k{j}" for j in range(M)
    )
    book_joins = "\n      ".join(
        f"JOIN book b{j} ON b{j}.k = codes.k{j}" for j in range(M)
    )
    adot = " + ".join(f"({sub_adot(j)})" for j in range(M))
    an2 = " + ".join(f"({sub_an2(j)})" for j in range(M))
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id != 0
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    cent AS (
      SELECT vec_id AS cent_id, e AS c FROM base
       WHERE vec_id % {_CENT_MOD} = {_CENT_RESIDUE}
    ),
    assign AS (
      SELECT vec_id, e, cent_id AS cluster
        FROM (
          SELECT b.vec_id, b.e, cent.cent_id,
                 row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY 1 - list_dot_product(b.e, cent.c)
                            / (sqrt(list_dot_product(b.e, b.e))
                               * sqrt(list_dot_product(cent.c, cent.c))) ASC,
                            cent.cent_id ASC) AS rk
            FROM base b CROSS JOIN cent
        ) WHERE rk = 1
    ),
    probes AS (
      SELECT cent_id
        FROM cent CROSS JOIN q
       ORDER BY 1 - list_dot_product(qe, c)
                / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c, c))) ASC,
                cent_id ASC
       LIMIT {N_PROBE}
    ),
    cand AS (
      SELECT vec_id, e FROM assign
       WHERE cluster IN (SELECT cent_id FROM probes)
    ),
    ord_s AS (
      SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM base
    ),
    nn AS (SELECT least(count(*), {_PQ_CAP}) AS n FROM base),
    book AS MATERIALIZED (
      SELECT ks.k, o.e AS c
        FROM (SELECT unnest(range({KC})) AS k) ks, nn
        JOIN ord_s o
          ON o.rn = CAST(floor(ks.k * (nn.n - 1) / {KC - 1}.0) AS BIGINT)
    ),
    codes AS MATERIALIZED (
      SELECT o.vec_id,
             {code_cols}
        FROM cand o CROSS JOIN book bk
       GROUP BY o.vec_id
    ),
    scored AS (
      SELECT codes.vec_id,
             ({adot}) / (sqrt({an2}) * sqrt((SELECT {qq} FROM q))) AS ascore
        FROM codes
      {book_joins}
    ),
    pool AS (
      SELECT vec_id FROM scored ORDER BY ascore DESC, vec_id LIMIT {C}
    )
    SELECT base.vec_id,
           round(
             list_dot_product(base.e, (SELECT qe FROM q))
             / (sqrt(list_dot_product(base.e, base.e))
                * sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q)))),
             6) AS cosine
      FROM base JOIN pool USING (vec_id)
     ORDER BY cosine DESC, vec_id
     LIMIT {K}
    """


@register("ann_topk_ivfpq", oracle=_ivfpq_oracle())
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    qv = _query_vector(spark, sf_dir)
    e = _emb(spark, sf_dir).select("vec_id", "embedding").where(
        F.col("vec_id") != 0
    )
    n_rows = parquet_row_count(table_path(sf_dir, "embeddings"))
    ds = _DIM // _PQ_M

    # --- IVF side: coarse quantizer + probe set (ann_topk_ivf kernels)
    cent_mod = _adaptive_cent_mod(n_rows)
    cent = e.where(F.col("vec_id") % cent_mod == _CENT_RESIDUE).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    # one collect serves assignment + probe ranking (see ann_topk_ivf)
    cent_rows = cent.collect()
    assigned = _assign(e, cent, n_rows=n_rows, cent_rows=cent_rows)
    probes = _probe_ids(cent_rows, qv, N_PROBE)
    cand = assigned.where(F.col("cluster").isin(probes)).select(
        "vec_id", "embedding"
    )

    # --- PQ side: the ann_topk_pq codebook + ADC fold, over candidates only
    sample = e.orderBy("vec_id").limit(_PQ_CAP).collect()
    S = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in sample])
    nn = len(S)
    idx = np.floor(np.arange(_PQ_KC) * (nn - 1) / float(_PQ_KC - 1)).astype(int)
    books = [S[idx][:, j * ds:(j + 1) * ds].copy() for j in range(_PQ_M)]
    q = np.asarray(qv, dtype=np.float64)
    qn = _norm_lit(qv)
    lut_dot, lut_n2 = [], []
    for j in range(_PQ_M):
        Cj, qj = books[j], q[j * ds:(j + 1) * ds]
        acc_d = Cj[:, 0] * qj[0]
        acc_n = Cj[:, 0] * Cj[:, 0]
        for d in range(1, ds):
            acc_d = acc_d + Cj[:, d] * qj[d]
            acc_n = acc_n + Cj[:, d] * Cj[:, d]
        lut_dot.append(acc_d)
        lut_n2.append(acc_n)
    use_gemm = n_rows > 10_000
    c2 = [(books[j] * books[j]).sum(1) for j in range(_PQ_M)]

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Xb = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            dot = None
            nrm2 = None
            for j in range(_PQ_M):
                Xj = Xb[:, j * ds:(j + 1) * ds]
                Cj = books[j]
                if use_gemm:
                    d2 = (Xj * Xj).sum(1)[:, None] - 2.0 * (Xj @ Cj.T) + c2[j][None, :]
                else:
                    diff = Xj[:, None, 0] - Cj[None, :, 0]
                    d2 = diff * diff
                    for d in range(1, ds):
                        diff = Xj[:, None, d] - Cj[None, :, d]
                        d2 = d2 + diff * diff
                codes = d2.argmin(1)
                dot = lut_dot[j][codes] if dot is None else dot + lut_dot[j][codes]
                nrm2 = lut_n2[j][codes] if nrm2 is None else nrm2 + lut_n2[j][codes]
            asc = dot / (np.sqrt(nrm2) * qn)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "ascore": asc})

    pool = (
        cand.mapInPandas(score_batches, "vec_id long, ascore double")
        .orderBy(F.desc("ascore"), F.asc("vec_id"))
        .limit(_PQ_C)
    )
    cosine = _dot_lit("embedding", qv) / (
        F.sqrt(_dot("embedding", "embedding")) * F.lit(_norm_lit(qv))
    )
    return (
        e.join(F.broadcast(pool.select("vec_id")), "vec_id")
        .select("vec_id", F.round(cosine, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(K)
    )
