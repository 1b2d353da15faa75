"""Empirical scale validation (VERDICT r3 next-round #1, SCALING.md).

The scaled corpus (scripts/scale_corpus.py) replicates the base with a
per-replica perturbation that preserves within-replica duplicate structure
and zeroes cross-replica shingle/cosine overlap, so TRUE duplicate pairs
grow exactly m-fold by construction.  On that corpus these tests assert
the two properties the 100 TB design claims:

- **linear results**: every dedup operator finds exactly m times the base
  pairs (recall neither collapses nor explodes with scale);
- **bounded candidates**: candidate pairs PER DOCUMENT stay flat (the
  O(n·avg_bucket) bound of banded/blocked/bucketed generation — the thing
  that dies first in a naive all-pairs design).

Wall-clock assertions live in SCALING.md, not here (host-load flaky);
counts are deterministic.
"""

from __future__ import annotations

import os

import pytest

from iceberg_trino_sql_demo_spark.operators import dedup_diag

M = 4  # scale multiplier under test


@pytest.fixture(scope="module")
def scaled(spark, sf_dir, tmp_path_factory):
    """(base_dir, scaled_dir): documents+embeddings at 1x and Mx."""
    import shutil
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.scale_corpus import build_scaled_corpus

    root = tmp_path_factory.mktemp("scaled")
    base = str(root / "x1")
    big = str(root / f"x{M}")
    os.makedirs(base)
    for f in ("documents.parquet", "embeddings.parquet"):
        shutil.copy(os.path.join(sf_dir, f), os.path.join(base, f))
    build_scaled_corpus(sf_dir, big, M)
    return base, big


def _counts(spark, name, base, big):
    from iceberg_trino_sql_demo_spark import operators as ops

    ops.load_all()
    return (
        ops.QUERIES[name](spark, base).count(),
        ops.QUERIES[name](spark, big).count(),
    )


def test_results_scale_linearly(spark, scaled):
    base, big = scaled
    for name in (
        "dedup_exact",
        # one output row per doc; M-fold exactly, and the run itself
        # proves the span pipeline handles the scaled corpus
        "dedup_span_exact",
        "dedup_shingle_jaccard",
        "dedup_embedding_prefiltered",
        "dedup_cluster_components",
        # injected exact copies share their original's assignment by
        # construction (identical vector -> identical argmin), so cluster
        # re-partitioning at the bigger corpus cannot split a TRUE pair
        "dedup_semantic_clusters",
    ):
        n1, nm = _counts(spark, name, base, big)
        assert nm == M * n1, f"{name}: {n1} -> {nm}, expected exactly {M}x"
    # minhash banding is probabilistic (per-pair miss ~2e-4 at s=0.9);
    # allow a whisker below exact m-fold, never above
    n1, nm = _counts(spark, "dedup_minhash_lsh", base, big)
    assert M * n1 * 0.99 <= nm <= M * n1, f"minhash: {n1} -> {nm}"
    # simhash results include statistical hamming<=3 collisions on top of
    # the injected class; bound growth within [m/2, 2m]
    n1, nm = _counts(spark, "dedup_simhash", base, big)
    assert M * n1 / 2 <= nm <= 2 * M * n1, f"simhash: {n1} -> {nm}"


def test_candidate_pairs_per_doc_stay_bounded(spark, scaled):
    """The O(n·avg_bucket) claim: candidates per document must not grow
    faster than 2x across an Mx corpus (flat in the ideal; small drift
    allowed for bucket-occupancy effects at these corpus sizes)."""
    base, big = scaled
    n_docs1 = spark.read.parquet(os.path.join(base, "documents.parquet")).count()
    n_docsm = spark.read.parquet(os.path.join(big, "documents.parquet")).count()
    assert n_docsm == M * n_docs1
    for diag in (
        "jaccard_candidate_pairs",
        "minhash_candidate_pairs",
        "simhash_candidate_pairs",
    ):
        c1 = getattr(dedup_diag, diag)(spark, base).count()
        cm = getattr(dedup_diag, diag)(spark, big).count()
        per1, perm = c1 / n_docs1, cm / n_docsm
        assert perm <= 2.0 * per1, (
            f"{diag}: candidates/doc grew {per1:.2f} -> {perm:.2f} "
            f"(> 2x) — candidate generation is not scale-bounded"
        )


def test_semantic_cluster_pairs_obey_sqrt_bound(spark, scaled):
    """SemDeDup candidate generation is deliberately n * avg_cluster_size:
    n/cent_mod balanced clusters of ~cent_mod members give n*cent_mod/2
    within-cluster pairs — NOT flat per-doc like the LSH family, but
    sub-quadratic (cent_mod ~ sqrt(n) once past the oracle-stability
    floor of 100, so n^1.5 asymptotically).  Assert the total stays under
    n*cent_mod (2x slack over the balanced expectation absorbs
    cluster-size variance)."""
    from iceberg_trino_sql_demo_spark.operators.similarity import (
        _adaptive_cent_mod,
    )

    base, big = scaled
    for d in (base, big):
        n = (
            spark.read.parquet(os.path.join(d, "embeddings.parquet")).count()
        )
        n_corpus = n + n // 10  # + injected copies
        bound = n_corpus * _adaptive_cent_mod(n_corpus)
        cand = dedup_diag.semantic_cluster_pairs(spark, d).count()
        assert cand <= bound, (
            f"semantic candidates {cand} exceed n*cent_mod ({bound}) "
            "— clusters degenerate"
        )


def test_prefiltered_bucket_pairs_obey_occupancy_bound(
    spark, sf_dir, tmp_path_factory
):
    """Sign-LSH candidate pairs in the ADAPTIVE regime (corpus large enough
    that the plane count is no longer pinned to the oracle's 8) must obey
    the absolute O(n · occupancy) bound, and per-vector pairs must be
    ~flat between two engaged scale points.  Below the adaptive threshold
    the 8-plane floor (required for oracle parity) intentionally leaves
    bucket growth quadratic — that regime tops out at ~2300 vectors, where
    all-pairs would be trivial anyway."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.scale_corpus import build_scaled_corpus

    from iceberg_trino_sql_demo_spark.operators.dedup import (
        _adaptive_planes,
        _PREF_TARGET_OCCUPANCY,
    )
    from iceberg_trino_sql_demo_spark.operators.similarity import N_PLANES

    root = tmp_path_factory.mktemp("pref_scaled")
    per_vec = {}
    for m in (12, 24):
        d = str(root / f"x{m}")
        build_scaled_corpus(sf_dir, d, m)
        n_vecs = spark.read.parquet(os.path.join(d, "embeddings.parquet")).count()
        corpus_n = n_vecs + n_vecs // 10
        assert _adaptive_planes(n_vecs) > N_PLANES, "regime not engaged"
        pairs = dedup_diag.prefiltered_bucket_pairs(spark, d).count()
        # absolute bound: pairs <= C * occupancy * corpus (C=3 absorbs
        # cluster skew — real corpora cluster, that's what LSH is for)
        assert pairs <= 3 * _PREF_TARGET_OCCUPANCY * corpus_n, (
            f"x{m}: {pairs} bucket pairs exceed the O(n*occupancy) bound"
        )
        per_vec[m] = pairs / corpus_n
    assert per_vec[24] <= 1.5 * per_vec[12], (
        f"per-vector bucket pairs grew {per_vec[12]:.2f} -> "
        f"{per_vec[24]:.2f} between engaged scale points"
    )


def test_simhash_blocking_schemes_equal_results(spark):
    """The 4-single-chunk and 15-chunk-pair blockings must produce the
    SAME hamming<=3 pair set (both are recall-1.0 pigeonhole blockings;
    the multi-index only shrinks the candidate superset), so the scheme
    switch at _SIMHASH_MULTIINDEX_MIN_DOCS can never change results."""
    from pyspark.sql import functions as F

    from iceberg_trino_sql_demo_spark.operators.dedup import _simhash_block_keys

    # synthetic signatures: a base value, hamming-1/2/3 neighbours, a
    # far value, plus bit patterns straddling chunk boundaries
    base = 0x0ABCDEF012345
    sigs = [
        (1, base),
        (2, base ^ 0b1),                     # hamming 1
        (3, base ^ 0b11),                    # hamming 2 (same low chunk)
        (4, base ^ (1 | 1 << 20 | 1 << 45)), # hamming 3 across 3 chunks
        (5, base ^ 0xF000F),                 # hamming 8 — must NOT pair with 1
        (6, (1 << 60) - 1),
        (7, 0),
    ]
    sig = spark.createDataFrame(sigs, "doc_id long, simhash long")

    def pairs(n_docs_hint):
        ch = _simhash_block_keys(sig, n_docs_hint)
        cand = (
            ch.alias("x")
            .join(ch.alias("y"),
                  (F.col("x.chunk_id") == F.col("y.chunk_id"))
                  & (F.col("x.chunk") == F.col("y.chunk"))
                  & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
                    F.col("x.simhash").alias("sa"), F.col("y.simhash").alias("sb"))
            .distinct()
        )
        ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
        return {(r.a, r.b) for r in cand.where(ham <= 3).collect()}

    single = pairs(n_docs_hint=10)            # below threshold: 4 chunks
    multi = pairs(n_docs_hint=10_000_000)     # above: 15 chunk pairs
    assert single == multi == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}


def test_assign_gemm_branch_matches_sql_branch(spark, sf_dir, monkeypatch):
    """The numpy-GEMM assignment (scale branch) must assign every vector
    to the same centroid as the SQL-expression branch on the same data —
    forced here by dropping the SQL branch's centroid ceiling to zero."""
    from pyspark.sql import functions as F

    from iceberg_trino_sql_demo_spark.operators import similarity as sim

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    cent = e.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    sql_assign = {
        r.vec_id: r.cluster for r in sim._assign(e, cent).collect()
    }
    monkeypatch.setattr(sim, "_ASSIGN_SQL_MAX_CENTROIDS", -1)
    gemm_assign = {
        r.vec_id: r.cluster for r in sim._assign(e, cent).collect()
    }
    assert sql_assign == gemm_assign


def test_prefiltered_adaptive_plane_path_keeps_exact_copies(
    spark, sf_dir, monkeypatch
):
    """Forcing the adaptive-plane (pandas-UDF bucket) branch on the small
    corpus: every injected exact-copy pair must still be found (identical
    vectors share every bucket regardless of plane count)."""
    from pyspark.sql import functions as F

    from iceberg_trino_sql_demo_spark.operators import dedup

    # tiny occupancy target -> more than 8 planes even at this corpus size
    monkeypatch.setattr(dedup, "_PREF_TARGET_OCCUPANCY", 1)
    n_vecs = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).count()
    assert dedup._adaptive_planes(n_vecs) > 8
    out = {
        (r.id_a, r.id_b)
        for r in dedup.dedup_embedding_prefiltered(spark, sf_dir).collect()
    }
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    injected = [
        r.vec_id
        for r in e.where(F.col("vec_id") % 10 == 0).select("vec_id").collect()
    ]
    for vid in injected:
        assert (vid, vid + 1000000) in out, vid


def test_adaptive_knobs_engage_beyond_oracle_scales(spark):
    """The plane/centroid adaptivity must be invisible at every
    oracle-checked corpus size and engage beyond them."""
    from iceberg_trino_sql_demo_spark.operators.dedup import _adaptive_planes
    from iceberg_trino_sql_demo_spark.operators.similarity import (
        _CENT_MOD,
        _adaptive_cent_mod,
        N_PLANES,
    )

    # oracle scales: sf0.001/0.01/0.1 have <= 2000 embeddings
    for n in (20, 200, 2000):
        assert _adaptive_planes(n) == N_PLANES
        assert _adaptive_cent_mod(n) == _CENT_MOD
    # scale engagement: bucket count tracks n, centroids track sqrt(n)
    assert _adaptive_planes(40_000) > N_PLANES
    assert _adaptive_cent_mod(40_000) == 200
    assert _adaptive_planes(1_000_000) >= 16


def test_semantic_pair_branches_agree(spark, scaled):
    """The GEMM scale branch of dedup_semantic_clusters must reproduce the
    oracle-checked SQL-expression branch exactly on the same assignment
    (same pair set; cosines within the 6-decimal rounding the operator
    emits).  Mirrors the simhash two-blockings-identical-results proof."""
    from iceberg_trino_sql_demo_spark.operators.dedup import (
        _semantic_pairs,
        emb_corpus_with_dups,
    )
    from iceberg_trino_sql_demo_spark.operators.similarity import (
        _CENT_RESIDUE,
        _adaptive_cent_mod,
        _assign,
    )

    _base, big = scaled
    corpus = emb_corpus_with_dups(spark, big)
    cent_mod = _adaptive_cent_mod(corpus.count())
    from pyspark.sql import functions as F

    cent = corpus.where(F.col("vec_id") % cent_mod == _CENT_RESIDUE).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    assigned = _assign(corpus, cent).persist()
    try:
        sql_pairs = {
            (r.cluster, r.id_a, r.id_b): r.cosine
            for r in _semantic_pairs(assigned, use_gemm=False).collect()
        }
        gemm_pairs = {
            (r.cluster, r.id_a, r.id_b): r.cosine
            for r in _semantic_pairs(assigned, use_gemm=True).collect()
        }
    finally:
        assigned.unpersist()
    assert sql_pairs.keys() == gemm_pairs.keys()
    assert sql_pairs, "scaled corpus must contain injected duplicate pairs"
    for k, c in sql_pairs.items():
        assert abs(c - gemm_pairs[k]) <= 1e-6, (k, c, gemm_pairs[k])


def test_multiprobe_pair_branches_agree(spark, sf_dir, tmp_path_factory):
    """The cogrouped-GEMM scale branch of the multiprobe operator must
    reproduce the oracle-checked SQL-expression branch exactly on the
    same bucketed corpus, in the adaptive-plane regime where the scale
    branch actually engages."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.scale_corpus import build_scaled_corpus

    from iceberg_trino_sql_demo_spark.operators.dedup import (
        _multiprobe_pairs,
        prefiltered_bucketed_corpus,
    )
    from iceberg_trino_sql_demo_spark.operators.similarity import N_PLANES

    d = str(tmp_path_factory.mktemp("mp_scaled") / "x12")
    build_scaled_corpus(sf_dir, d, 12)
    bucketed, n_planes = prefiltered_bucketed_corpus(spark, d, persist=False)
    assert n_planes > N_PLANES, "adaptive regime not engaged"
    bucketed = bucketed.persist()
    try:
        sql_pairs = {
            (r.id_a, r.id_b): r.cosine
            for r in _multiprobe_pairs(bucketed, n_planes, use_gemm=False).collect()
        }
        gemm_pairs = {
            (r.id_a, r.id_b): r.cosine
            for r in _multiprobe_pairs(bucketed, n_planes, use_gemm=True).collect()
        }
    finally:
        bucketed.unpersist()
    assert sql_pairs.keys() == gemm_pairs.keys()
    assert sql_pairs, "scaled corpus must contain injected duplicate pairs"
    for k, c in sql_pairs.items():
        assert abs(c - gemm_pairs[k]) <= 1e-6, (k, c, gemm_pairs[k])


# ---------------------------------------------------------------------------
# Relational family (VERDICT r4 #6): the TPC-H join+agg shapes on the
# replicated-fact corpus (scripts/scale_corpus.build_scaled_relational —
# per-replica orderkey shifts make the lineitem x orders join output
# exactly linear by construction).  Deterministic linearity proof: the
# pricing_summary scaled-long sums are EXACTLY M-fold (integer adds,
# order-free); plan-shape invariance: the physical plan at Mx has the
# same join strategy (no cartesian/BNLJ, same exchange count) as 1x —
# scale changes data volume, never the plan family.  Wall-time gets a
# deliberately loose ceiling (floor-dominated at test scale; the real
# curves live in SCALING.md's relational section).
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def scaled_rel(spark, sf_dir, tmp_path_factory):
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.scale_corpus import build_scaled_corpus, build_scaled_relational

    root = tmp_path_factory.mktemp("scaled_rel")
    base, big = str(root / "x1"), str(root / f"x{M}")
    build_scaled_relational(sf_dir, base, 1)
    build_scaled_relational(sf_dir, big, M)
    build_scaled_corpus(sf_dir, base, 1)   # documents for the pipeline DAG
    build_scaled_corpus(sf_dir, big, M)
    return base, big


def test_relational_family_scales_linearly(spark, scaled_rel):
    import time as _time

    from iceberg_trino_sql_demo_spark import operators as ops

    ops.load_all()
    base, big = scaled_rel

    # exact M-fold aggregates: every scaled-long sum and count
    p1 = {(r.l_returnflag, r.l_linestatus): r for r in
          ops.QUERIES["pricing_summary"](spark, base).collect()}
    pm = {(r.l_returnflag, r.l_linestatus): r for r in
          ops.QUERIES["pricing_summary"](spark, big).collect()}
    assert set(p1) == set(pm)
    for k, r1 in p1.items():
        rm = pm[k]
        assert rm.count_order == M * r1.count_order
        for col in ("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge"):
            assert abs(rm[col] - M * r1[col]) < 1e-6, (k, col)

    # plan-shape invariance under scale for the heaviest shapes, the
    # widest join tree (q9) and the end-to-end pipeline DAG (VERDICT r5 #7)
    for name in ("q18_large_volume_customer", "q21_sole_late_supplier",
                 "q9_product_type_profit", "training_corpus_select"):
        plans = []
        for d in (base, big):
            df = ops.QUERIES[name](spark, d)
            df.collect()  # finalize AQE
            from iceberg_trino_sql_demo_spark.plans import (
                final_plan_section,
            )

            plan = final_plan_section(
                df._jdf.queryExecution().executedPlan().toString())
            assert "CartesianProduct" not in plan and \
                "BroadcastNestedLoopJoin" not in plan, (name, d)
            plans.append(plan.count("Exchange"))
        assert plans[0] == plans[1], f"{name}: exchange count changed with scale"

    # loose wall ceiling: M-fold data may not cost more than 8x warm time
    # (linear would be <=Mx; the slack absorbs scheduler-floor noise)
    for name in ("pricing_summary", "q18_large_volume_customer"):
        warm = {}
        for d in (base, big):
            df = ops.QUERIES[name](spark, d)
            runs = []
            for _ in range(3):
                t0 = _time.perf_counter()
                df.count()
                runs.append(_time.perf_counter() - t0)
            warm[d] = min(runs)
        assert warm[big] <= max(8 * warm[base], warm[base] + 2.0), (
            name, warm)


def test_range_search_gemm_branch_matches_literal_branch(spark, sf_dir, monkeypatch):
    """ann_range_search's batched-GEMM branch (probe sets past the
    staged-literal ceiling) must produce the same (q_id, vec_id) pair set
    as the literal branch, with cosines agreeing to the rounding grain —
    forced here by dropping the literal ceiling to zero."""
    from iceberg_trino_sql_demo_spark.operators import similarity as sim

    lit = {
        (r.q_id, r.vec_id): r.cosine
        for r in sim.ann_range_search(spark, sf_dir).collect()
    }
    monkeypatch.setattr(sim, "_RANGE_LITERAL_MAX", 0)
    gemm = {
        (r.q_id, r.vec_id): r.cosine
        for r in sim.ann_range_search(spark, sf_dir).collect()
    }
    assert set(lit) == set(gemm)
    for k, v in lit.items():
        assert abs(v - gemm[k]) <= 1e-6, (k, v, gemm[k])


def test_range_search_probe_collect_is_bounded(spark, sf_dir, monkeypatch):
    """VERDICT r10 #2: the probe-set collect must never scale with the
    corpus.  (a) the collect is structurally bounded — a LIMIT cap+1 sits
    between the filter and the driver, so even a huge corpus ships at
    most cap+1 rows (collect-spy proves it); (b) past the cap the
    operator refuses loudly instead of silently materializing a
    corpus-sized probe set."""
    try:  # the concrete class owns collect in pyspark 4's classic mode
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from iceberg_trino_sql_demo_spark.operators import similarity as sim

    sizes: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", spy)
    sim.ann_range_search(spark, sf_dir)  # plan build triggers the collect
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert sizes and max(sizes) <= sim._RANGE_PROBE_CAP + 1, sizes

    monkeypatch.setattr(sim, "_RANGE_PROBE_CAP", 1)
    with pytest.raises(ValueError, match="probe set exceeds"):
        sim.ann_range_search(spark, sf_dir)


def test_batch5_ops_scale_shapes(spark, scaled):
    """Scale invariants for the batch-5 curation ops: the OOV audit is one
    row per document (exactly M-fold); the cross-source matrix is one row
    per source PAIR — constant across corpus scale (replicas keep their
    source, so the pair space never grows)."""
    base, big = scaled
    n1, nm = _counts(spark, "text_oov_rate", base, big)
    assert nm == M * n1, f"text_oov_rate: {n1} -> {nm}, expected exactly {M}x"
    m1, mm = _counts(spark, "dedup_cross_source_matrix", base, big)
    assert m1 == mm, f"cross_source_matrix rows changed with scale: {m1} -> {mm}"


def test_pack_sequences_bucket_count_self_sizes_and_is_invariant(
    spark, sf_dir, monkeypatch
):
    """The packing prefix scan's bucket count grows with the corpus
    (footer row count) instead of capping at a constant, and the OUTPUT
    is bucket-count-invariant: identical rows at 1, 7, and 64+ buckets."""
    from iceberg_trino_sql_demo_spark import operators as ops
    from iceberg_trino_sql_demo_spark.operators import pipeline as pl

    ops.load_all()
    # sizing math: floor, linear growth, ceiling
    assert pl._pack_buckets(500) == pl._PACK_MIN_BUCKETS
    assert pl._pack_buckets(pl._PACK_DOCS_PER_BUCKET * 640) == 640
    assert pl._pack_buckets(10**13) == pl._PACK_MAX_BUCKETS

    def run():
        return sorted(
            tuple(r)
            for r in ops.QUERIES["training_pack_sequences"](spark, sf_dir).collect()
        )

    base = run()
    assert base, "packing produced no rows"
    for dpb in (10**9, 80):  # -> 64 (floor) and a handful of buckets
        monkeypatch.setattr(pl, "_PACK_DOCS_PER_BUCKET", dpb)
        assert run() == base
    monkeypatch.setattr(pl, "_PACK_MIN_BUCKETS", 1)
    monkeypatch.setattr(pl, "_PACK_DOCS_PER_BUCKET", 10**9)  # -> 1 bucket
    assert run() == base


@pytest.fixture(scope="module")
def skewed_events_dir(tmp_path_factory):
    """events replicated 50x with per-replica user-id offsets and the
    SAME timestamps: hot-hour distinct-user cardinality grows 50-fold
    (9 -> 450 at the sf0.01 base), crossing _TRI_ADAPTIVE_MAX while the
    corpus stays test-sized."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.01/events.parquet"
    base = pq.read_table(src)
    reps = []
    for i in range(50):
        t = base.set_column(
            base.column_names.index("user_id"), "user_id",
            pa.compute.add(base.column("user_id"), 10_000_000 * i))
        t = t.set_column(
            base.column_names.index("event_id"), "event_id",
            pa.compute.add(base.column("event_id"), 10_000_000 * i))
        reps.append(t)
    out = tmp_path_factory.mktemp("skew_events")
    pq.write_table(pa.concat_tables(reps), str(out / "events.parquet"))
    return str(out)


def test_triangles_adaptive_bound_engages_at_50x(spark, skewed_events_dir):
    """VERDICT r12 #3: the DEFAULT triangles query must have a bounded
    worst-hour candidate count at 50x.  The raw corpus's hot hour
    exceeds _TRI_ADAPTIVE_MAX (the bound actually bites); after
    _tri_participants it is exactly the bound, so the worst hour's edge
    build is C(bound, 2) instead of C(450, 2) — and at every
    oracle-checked scale the bound never engages (result-invariance)."""
    from pyspark.sql import functions as F

    from iceberg_trino_sql_demo_spark.operators import windows_ops as wo

    def worst_hour(df):
        row = (df.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
               .agg(F.max("n").alias("m")).first())
        return row["m"]

    p0 = (wo._events(spark, skewed_events_dir)
          .where(F.col("event_type") == "purchase")
          .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
          .distinct())
    raw = worst_hour(p0)
    assert raw > wo._TRI_ADAPTIVE_MAX, (
        f"fixture must exceed the bound (raw={raw})")
    capped = wo._tri_participants(p0)
    assert capped is not p0, "the cap must engage on the skewed corpus"
    assert worst_hour(capped) == wo._TRI_ADAPTIVE_MAX

    # oracle scales: the bound never engages — _tri_participants returns
    # the INPUT FRAME ITSELF (byte-identical plan, not just equal rows)
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        q0 = (wo._events(spark, sf)
              .where(F.col("event_type") == "purchase")
              .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
              .distinct())
        assert wo._tri_participants(q0) is q0, sf


def test_triangles_bite_branch_matches_oracle(spark, monkeypatch):
    """The md5-rank cap branch is value-checked, not just asserted: with
    the bound forced below the sf0.001 hot hour (3 users), the DEFAULT
    operator and its adaptive oracle SQL (same bound) must agree
    exactly — proving Spark's md5 ranking, the scalar-subquery CASE,
    and the capped pipeline all line up when the bound bites."""
    from tests.oracle_utils import canonical_rows, duckdb_run

    from iceberg_trino_sql_demo_spark.operators import windows_ops as wo

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(wo, "_TRI_ADAPTIVE_MAX", 2)
    got = wo.events_user_triangles(spark, sf).toPandas()
    want = duckdb_run(wo._tri_adaptive_oracle(2), sf)
    assert canonical_rows(got) == canonical_rows(want)
    # and the capped result differs from the uncapped one (the branch
    # actually changed the answer here — the parity above is not vacuous)
    monkeypatch.setattr(wo, "_TRI_ADAPTIVE_MAX", 256)
    base = wo.events_user_triangles(spark, sf).toPandas()
    assert canonical_rows(got) != canonical_rows(base)
