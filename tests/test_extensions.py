"""Phase-7 tests: the approximate operators are checked against their exact
counterparts (recall), the deterministic ones for stability and shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark import operators as ops

ops.load_all()

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates + exact verification must recover every true pair at
    tau=0.5 that banding can see; with 8 bands x 4 rows the miss
    probability for jaccard >= 0.9 pairs is ~(1-0.9^4)^8 < 0.03% per pair."""
    exact = _pairs(ops.QUERIES["dedup_shingle_jaccard"](spark, SF))
    approx = _pairs(ops.QUERIES["dedup_minhash_lsh"](spark, SF))
    assert approx <= exact, "verification step must kill false positives"
    high = exact  # planted dups in this corpus are jaccard ~1.0
    recall = len(approx & high) / max(len(high), 1)
    assert recall >= 0.9, f"recall {recall} over {len(high)} true pairs"


def test_simhash_finds_planted_dups(spark):
    """Exact duplicate texts have identical simhash -> hamming 0 pairs."""
    exact = _pairs(ops.QUERIES["dedup_shingle_jaccard"](spark, SF))
    sim = ops.QUERIES["dedup_simhash"](spark, SF)
    sim_pairs = _pairs(sim)
    ham0 = {(r.id_a, r.id_b) for r in sim.where("hamming = 0").collect()}
    assert ham0, "expected some hamming-0 pairs"
    overlap = len(sim_pairs & exact) / max(len(sim_pairs), 1)
    assert overlap >= 0.5, f"simhash pairs should mostly be true near-dups ({overlap})"


def test_ann_lsh_recall_vs_bruteforce(spark):
    brute = [r.vec_id for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()]
    approx = [r.vec_id for r in ops.QUERIES["ann_topk_lsh"](spark, SF).collect()]
    # random 64-dim corpus: top-10 neighbours sit at ~68-75 deg from the
    # query, where an 8-bit/r=3 sign-LSH filter passes ~half — recall on
    # *random* data is inherently modest; near-duplicates (the actual dedup
    # case) pass with p > 0.99 (see ann_topk_lsh docstring).
    recall = len(set(brute) & set(approx)) / len(brute)
    assert recall >= 0.3, f"multi-probe LSH top-k recall {recall}"
    # approximate scores must be a subset of genuine cosines: every returned
    # id that IS in the brute-force list must carry the same score there
    bs = {r.vec_id: r.cosine for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()}
    for r in ops.QUERIES["ann_topk_lsh"](spark, SF).collect():
        if r.vec_id in bs:
            assert abs(r.cosine - bs[r.vec_id]) < 1e-9


def test_ann_pq_recall_and_score_faithfulness(spark):
    # exactness of the PQ MECHANISM (codes, ADC pool, rescore) is gated by
    # the driver oracle, which re-derives the codebooks in SQL; this test
    # pins the approximation QUALITY floor and that every returned score
    # is a genuine exact cosine (rescore correctness), like the LSH test
    brute = {r.vec_id: r.cosine
             for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()}
    pq = [(r.vec_id, r.cosine)
          for r in ops.QUERIES["ann_topk_pq"](spark, SF).collect()]
    recall = len(set(v for v, _ in pq) & set(brute)) / len(brute)
    assert recall >= 0.6, f"PQ top-k recall {recall} (measured 0.9 on r5 data)"
    for vec_id, cosine in pq:
        if vec_id in brute:
            assert abs(cosine - brute[vec_id]) < 1e-9


def test_ann_pq_gemm_branch_matches_fold():
    # the >10k-row GEMM encode branch must produce the same codes as the
    # oracle-exact left-fold branch on real corpus data (ulp-reordered
    # sums may only differ on exact distance ties, which don't exist here)
    import numpy as np
    import duckdb

    rows = duckdb.sql(
        f"SELECT embedding FROM '{SF}/embeddings.parquet' "
        "WHERE vec_id != 0 ORDER BY vec_id"
    ).fetchall()
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    ds = 8
    for j in range(8):
        Xj = X[:, j * ds:(j + 1) * ds]
        Cj = X[np.linspace(0, len(X) - 1, 256).astype(int)][:, j * ds:(j + 1) * ds]
        diff = Xj[:, None, 0] - Cj[None, :, 0]
        fold = diff * diff
        for d in range(1, ds):
            diff = Xj[:, None, d] - Cj[None, :, d]
            fold = fold + diff * diff
        gemm = (Xj * Xj).sum(1)[:, None] - 2.0 * (Xj @ Cj.T) + (Cj * Cj).sum(1)[None, :]
        assert (fold.argmin(1) == gemm.argmin(1)).all()


def test_langid_deterministic_and_total(spark):
    a = ops.QUERIES["text_langid"](spark, SF)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    rows = a.collect()
    assert len(rows) == n_docs, "every document gets a prediction"
    assert all(r.predicted_lang is not None for r in rows)
    b = {r.doc_id: r.predicted_lang for r in ops.QUERIES["text_langid"](spark, SF).collect()}
    assert {r.doc_id: r.predicted_lang for r in rows} == b, "deterministic"


def test_fingerprint_identity(spark):
    """Identical texts -> identical fingerprints (the dedup_exact corpus has
    injected exact copies under shifted ids)."""
    fp = {r.doc_id: r.fingerprint for r in ops.QUERIES["text_fingerprint"](spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    # find two docs with identical text via the exact-dup query on the corpus
    same_text = {}
    for did, txt in texts.items():
        same_text.setdefault(txt, []).append(did)
    clusters = [ids for ids in same_text.values() if len(ids) > 1]
    for ids in clusters:
        assert len({fp[i] for i in ids if i in fp}) == 1


def test_multimodal_features(spark):
    out = ops.QUERIES["multimodal_features"](spark, SF)
    rows = out.collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == n_docs
    r0 = rows[0]
    assert r0.n_bytes > 0 and len(r0.checksum) == 16
    assert 0 <= r0.width < 1920 and 0 <= r0.height < 1080
    assert 0.0 <= r0.feature_norm <= 1.0
    # deterministic across runs
    again = {r.doc_id: r.checksum for r in ops.QUERIES["multimodal_features"](spark, SF).collect()}
    assert {r.doc_id: r.checksum for r in rows} == again
    # media table schema: opaque binary + typed metadata
    from iceberg_trino_sql_demo_spark.operators.multimodal import media_table

    mt = media_table(spark, SF)
    kinds = dict(mt.dtypes)
    assert kinds["media"] == "binary"
    assert kinds["media_type"] == "string"
    assert kinds["meta"].startswith("struct")


def test_asof_join_edge_semantics(spark):
    """equal-timestamp right rows match (<= semantics); keys with no
    earlier right row yield nulls; latest-of-several wins."""
    from datetime import datetime as dt

    from iceberg_trino_sql_demo_spark.operators.joins_ops import asof_join

    left = spark.createDataFrame(
        [(10, 1, dt(2024, 1, 1, 12, 0, 0)),   # two earlier clicks -> latest
         (11, 1, dt(2024, 1, 1, 9, 0, 0)),    # exactly at click ts -> match
         (12, 2, dt(2024, 1, 1, 8, 0, 0))],   # user 2 has no clicks -> null
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 1, dt(2024, 1, 1, 9, 0, 0)),
         (101, 1, dt(2024, 1, 1, 11, 30, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    out = {
        r.event_id: r.r_event_id
        for r in asof_join(left, right, on="user_id",
                           right_cols=("event_id",)).collect()
    }
    assert out == {10: 101, 11: 100, 12: None}


def test_ann_ivf_recall_vs_bruteforce(spark):
    brute = [r.vec_id for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()]
    approx = [r.vec_id for r in ops.QUERIES["ann_topk_ivf"](spark, SF).collect()]
    # probing 2 of ~5 inverted lists scans ~40% of a *random* corpus; true
    # neighbours of a query concentrate in its own list, so recall beats
    # the scan fraction
    recall = len(set(brute) & set(approx)) / len(brute)
    assert recall >= 0.3, f"IVF top-k recall {recall}"
    bs = {r.vec_id: r.cosine for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()}
    for r in ops.QUERIES["ann_topk_ivf"](spark, SF).collect():
        if r.vec_id in bs:
            assert abs(r.cosine - bs[r.vec_id]) < 1e-9


def test_no_unintended_cartesian_or_bnlj_plans(spark):
    """Plan audit over every registered batch query: no CartesianProduct
    and no BroadcastNestedLoopJoin may appear, except the one deliberate
    broadcast cross join (IVF corpus x broadcast centroid set).  Guards
    against a refactor silently degrading a join to the O(n*m) path."""
    from iceberg_trino_sql_demo_spark import operators as ops

    ops.load_all()
    sf = "/root/testdata/sf0.001"
    # engine scenarios mutate scratch tables (cost, not plans, is their
    # point) and streaming replays have no batch plan to inspect
    skip_prefixes = ("ice_", "events_stream", "events_stateful")
    # broadcast(centroids) cross joins — the intended assignment kernel —
    # plus the 1-row broadcast scalar-aggregate subquery in Q22
    allow_bnlj = {
        "ann_topk_ivf",
        "kmeans_iteration_stats",
        "dedup_semantic_clusters",
        "q22_idle_balance_customers",
        "q11_important_share",
        # 1-row broadcast bloom bitset attached to the shingle scan —
        # the intended membership-test shape (pipeline.py)
        "contamination_bloom_prefilter",
        # the same broadcast(centroids) assignment kernel as ann_topk_ivf
        # feeds the IVF-PQ composition's coarse stage
        "ann_topk_ivfpq",
        # one-row sketch-stat frames cross-joined into the single result
        # row (theta, counts) — scalar combination, not a data join
        "events_kmv_set_sketch",
        # the one-row (total tokens, vocab size) corpus-stats frame
        # broadcast onto the token stream — same scalar-attachment shape
        "text_perplexity_unigram",
        # the one-row (tr, tt) bigram-totals frame broadcast onto the
        # 4096-row bucket model — scalar attachment, same shape as
        # perplexity (r10 DSIR operator)
        "source_dsir_weights",
    }

    offenders = {}
    for name, fn in sorted(ops.QUERIES.items()):
        if name.startswith(skip_prefixes):
            continue
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        flags = [
            k
            for k in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if k in plan
        ]
        if flags and not (name in allow_bnlj and flags == ["BroadcastNestedLoopJoin"]):
            offenders[name] = flags
    assert not offenders, offenders


def test_no_global_window_over_unbounded_rows(spark):
    """Registry-wide scale invariant (VERDICT r10 #1): a Window fed by an
    ``Exchange SinglePartition`` funnels EVERY row of its input through
    one task — fine over a constant-size frame (per-source quotas,
    bucket-total prefixes), a straggler/OOM over doc-grain rows at 100 TB
    (exactly how r10's `source_dsir_weights` top-K shipped).  Heuristic:
    flag any query whose final plan contains BOTH a Window and a
    SinglePartition exchange, and require each flagged name to carry a
    written constant-size justification here.  Queries whose only
    SinglePartition exchange is a one-row global aggregate have no Window
    and pass; partitioned windows exchange by hash and pass."""
    from iceberg_trino_sql_demo_spark import operators as ops

    ops.load_all()
    sf = "/root/testdata/sf0.001"
    skip_prefixes = ("ice_", "events_stream", "events_stateful")
    allow = {
        # the OVER () windows run on the per-SOURCE counts frame — one
        # row per source, constant at any corpus size; doc-grain rows
        # only cross a partitionBy(source) hash window
        "source_temperature_resample",
        # the global prefix window runs on the <=64-row bucket-totals
        # frame (see _pack_buckets); doc-grain rows use the per-bucket
        # hash-partitioned window
        "training_pack_sequences",
    }
    offenders = []
    for name, fn in sorted(ops.QUERIES.items()):
        if name.startswith(skip_prefixes) or name in allow:
            continue
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        if "Exchange SinglePartition" in plan and "Window" in plan:
            offenders.append(name)
    assert not offenders, (
        "Window + SinglePartition exchange in the same plan — if the "
        f"window frame is NOT constant-size, this is a 100 TB scale "
        f"bug: {offenders}"
    )


def test_documents_text_is_ascii(spark, sf_oracle_dir):
    """The multimodal oracles slice media payloads with character-based
    substr; that equals byte slicing only while documents.text is pure
    ASCII.  If the testdata ever grows multibyte text this fails loudly
    instead of letting the oracles silently diverge."""
    d = spark.read.parquet(f"{sf_oracle_dir}/documents.parquet")
    non_ascii = d.where(F.octet_length("text") != F.length("text")).count()
    assert non_ascii == 0


def test_filters_and_projection_reach_parquet_scan(spark):
    """Pushdown audit: predicates must appear in the scan's PushedFilters
    and projection must narrow ReadSchema — if either stops happening, a
    full-table read is hiding behind a correct answer."""
    from pyspark.sql import functions as F  # noqa: F811

    sf = "/root/testdata/sf0.001"

    def formatted(df) -> str:
        jvm = spark._jvm
        return jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    plan = formatted(ops.QUERIES["orderdate_range"](spark, sf))
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "LessThan(o_orderdate" in plan
    # projection pruned to the single column the query touches
    assert "ReadSchema: struct<o_orderdate" in plan

    plan = formatted(ops.QUERIES["customer_pipeline"](spark, sf))
    assert "EqualTo(r_name,EUROPE)" in plan


def test_shingle_df_cap_bounds_hot_keys(spark):
    """A boilerplate trigram shared by every doc must be dropped by the DF
    cap BEFORE the candidate self-join (VERDICT r2 #1: without the cap one
    stop-shingle makes that join key quadratic in its doc count)."""
    from iceberg_trino_sql_demo_spark.operators.dedup import MAX_DF_FLOOR, shingles

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("COPYRIGHT NOTICE BOILERPLATE header unique"),
            F.lit(" tok"), F.col("id").cast("string"),
            F.lit(" body"), (F.col("id") * 7).cast("string"),
            F.lit(" tail"), (F.col("id") * 13).cast("string"),
        ).alias("text"),
    )
    raw_df = (
        shingles(docs)
        .groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    )
    assert raw_df == 60, f"expected the planted shingle in every doc, got {raw_df}"
    # the cap lives on the HASHED shingle identity (hashed_shingles) —
    # the frame every self-joining consumer reads
    from iceberg_trino_sql_demo_spark.operators.dedup import (
        _MINHASH_P,
        build_hashed_shingles,
    )

    raw, capped = build_hashed_shingles(docs)
    capped_max = (
        capped.groupBy("ha", "hb").count().agg(F.max("count")).collect()[0][0]
    )
    # 60 docs -> threshold max(MAX_DF_FLOOR, ceil(0.6)) = MAX_DF_FLOOR: every
    # key reaching the self-join now contributes <= floor^2 candidate rows
    assert capped_max is not None and capped_max <= MAX_DF_FLOOR
    import hashlib

    h = hashlib.md5(b"COPYRIGHT NOTICE BOILERPLATE").hexdigest()
    ha, hb = int(h[0:15], 16) % _MINHASH_P, int(h[16:31], 16) % _MINHASH_P
    assert capped.where((F.col("ha") == ha) & (F.col("hb") == hb)).count() == 0
    raw.unpersist()  # the builder hands ownership of the persist to us


def test_operators_leave_session_confs_untouched(spark):
    """Operators must not permanently mutate the caller session's runtime
    confs (VERDICT r2 #3): the codegen ceiling is pinned only around the
    eager materialization and restored; the tz pin was removed outright."""
    watch = ["spark.sql.codegen.maxFields", "spark.sql.session.timeZone"]
    before = {k: spark.conf.get(k) for k in watch}
    for name in ["dedup_minhash_lsh", "dedup_simhash", "events_tumbling_hourly"]:
        ops.QUERIES[name](spark, SF).collect()
        after = {k: spark.conf.get(k) for k in watch}
        assert after == before, f"{name} leaked session confs: {after} != {before}"


def test_cosine_guard_rejects_oversized_corpus(spark, monkeypatch):
    """dedup_embedding_cosine enforces its verify-kernel-only contract: a
    corpus above the standalone ceiling raises instead of scheduling an
    O(n^2) block-pair fan-out (VERDICT r2 #2)."""
    import pytest

    from iceberg_trino_sql_demo_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_COSINE_STANDALONE_ROWS", 10)
    with pytest.raises(ValueError, match="verify kernel"):
        dedup.dedup_embedding_cosine(spark, SF)


def test_star_components_chain_logn_rounds(spark):
    """Alternating large-star/small-star converges in O(log n) rounds on a
    1000-node chain — the adversarial case where min-label propagation
    needs O(n) rounds (VERDICT r2 next-round #7)."""
    from iceberg_trino_sql_demo_spark.operators.dedup import cluster_components_star

    edges = spark.range(999).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = cluster_components_star(edges).collect()
    assert len(out) == 1000
    assert all(r.label == 0 for r in out), "chain is one component rooted at 0"
    rounds = out[0].rounds
    assert rounds <= 15, f"expected O(log n) rounds on a 1000-chain, took {rounds}"


def test_driver_priority_order_and_window():
    """The correctness driver samples a fixed-size registry prefix (50 in
    rounds 1-2) in registration order.  Guard the round-3 reorder: every
    _DRIVER_PRIORITY name must exist (typo guard), and every query that
    has never received a driver-confirmed row — plus every entry whose
    oracle contract or implementation changed this round — must sit
    inside the first 50."""
    ops.load_all()
    missing = [n for n in ops._DRIVER_PRIORITY if n not in ops.QUERIES]
    assert not missing, f"_DRIVER_PRIORITY names not registered: {missing}"
    window = list(ops.QUERIES)[:50]
    must_sample = ops._DRIVER_PRIORITY[:31]
    out_of_window = [n for n in must_sample if n not in window]
    assert not out_of_window, out_of_window
    # every registered query still present exactly once, oracle keys subset
    assert len(set(ops.QUERIES)) == len(ops.QUERIES)
    assert set(ops.ORACLE) <= set(ops.QUERIES)


def test_prefiltered_cosine_finds_all_injected_dups(spark):
    """dedup_embedding_prefiltered: identical vectors always share a sign-
    LSH bucket, so every injected exact copy (vec_id + 1M) must surface as
    a pair with cosine ~ 1.0 — recall 1.0 on the exact-duplicate class."""
    out = {
        (r.id_a, r.id_b): r.cosine
        for r in ops.QUERIES["dedup_embedding_prefiltered"](spark, SF).collect()
    }
    import pyspark.sql.functions as F  # noqa: F811

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    injected = [r.vec_id for r in e.where(F.col("vec_id") % 10 == 0).select("vec_id").collect()]
    for vid in injected:
        assert (vid, vid + 1000000) in out, vid
        assert out[(vid, vid + 1000000)] >= 0.999999, vid


def test_jaccard_join_strategy_follows_size_guard(spark, monkeypatch):
    """The self-join broadcasts only while the shared cache proves the
    build side under budget; with the budget forced to zero the plan must
    fall back to the scalable shuffle join (no broadcast hint)."""
    from iceberg_trino_sql_demo_spark.operators import dedup

    ops.release_caches()
    small = dedup.dedup_shingle_jaccard(spark, SF)
    assert "broadcast" in small._jdf.queryExecution().analyzed().toString().lower()

    ops.release_caches()
    monkeypatch.setattr(dedup, "_BHJ_SHINGLE_BYTES", 0)
    big = dedup.dedup_shingle_jaccard(spark, SF)
    plan = big._jdf.queryExecution().analyzed().toString().lower()
    # sizes-side broadcasts remain; the self-join build side must not be
    # hinted — count hints instead of absence
    assert plan.count("broadcast") < small._jdf.queryExecution().analyzed().toString().lower().count("broadcast")
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))
    ops.release_caches()


def test_release_caches_unpins_everything(spark):
    """After release_caches() no persisted RDD may remain registered —
    the lazy next-invocation release plus this explicit drain together
    bound cache lifetime in long-lived sessions."""
    ops.load_all()
    ops.QUERIES["dedup_minhash_lsh"](spark, SF).count()
    ops.QUERIES["ann_topk_lsh"](spark, SF).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    ops.release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_next_registered_query_releases_intermediates(spark):
    """A registered query's persisted intermediates live until the next
    registered query starts (operators/pins.py): building that query
    unpersists them.  The release is correctness-free — the first
    result, collected again afterwards, recomputes the identical rows."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    ops.release_caches()
    first = ops.QUERIES["dedup_minhash_lsh"](spark, SF)
    rows = sorted(map(tuple, first.collect()))
    held = persisted()
    assert held
    ops.QUERIES["federation_agg"](spark, SF)
    assert not held & persisted()
    assert sorted(map(tuple, first.collect())) == rows
    ops.release_caches()


def test_multiprobe_prefiltered_superset_and_candidate_bound(spark, sf_oracle_dir):
    """hamming<=1 multi-probe: result pairs are a superset of the
    single-probe operator's (same threshold, wider candidate net) and the
    probe fan-out is exactly (n_planes + 1) keys per vector."""
    from iceberg_trino_sql_demo_spark.operators import dedup

    sp = {
        (r.id_a, r.id_b)
        for r in ops.QUERIES["dedup_embedding_prefiltered"](
            spark, sf_oracle_dir
        ).collect()
    }
    mp = {
        (r.id_a, r.id_b)
        for r in ops.QUERIES["dedup_embedding_prefiltered_multiprobe"](
            spark, sf_oracle_dir
        ).collect()
    }
    assert sp <= mp
    bucketed, n_planes = dedup.prefiltered_bucketed_corpus(spark, sf_oracle_dir)
    n = bucketed.count()
    # the bucketing is deterministic: a rebuild assigns the same buckets
    again, _ = dedup.prefiltered_bucketed_corpus(spark, sf_oracle_dir)
    assert sorted(again.select("vec_id", "bucket").collect()) == sorted(
        bucketed.select("vec_id", "bucket").collect()
    )
    assert n_planes >= 1 and n > 0


def test_banded_quantiles_adversarial(spark, tmp_path):
    """The sort-free quantile harness (_sketch_banded_ranked) must survive
    distributions the lineitem oracle never exercises: a CONSTANT column
    (every band's value window collapses to one value and all four windows
    overlap — every row explodes into every band) and a TWO-VALUED column
    (band edges sit exactly on the jump, where an off-by-one in the
    offset/rank arithmetic flips the answer).  Expected values are
    hand-computed order statistics with the quantile_cont interpolation
    v_lo*(1-f) + v_hi*f."""
    import numpy as np
    import pandas as pd

    from iceberg_trino_sql_demo_spark import operators as ops

    ops.load_all()
    n = 5000
    flags = np.where(np.arange(n) % 3 == 0, "A", "N")
    dists = {
        "const": np.full(n, 42.0),
        "twoval": np.where(np.arange(n) % 2 == 0, 1.0, 2.0),
        "ramp_ties": np.floor(np.arange(n) / 100.0),  # 50 heavy tie plateaus
    }
    for name, vals in dists.items():
        d = tmp_path / name
        d.mkdir()
        pd.DataFrame(
            {"l_returnflag": flags, "l_extendedprice": vals.astype(float)}
        ).to_parquet(str(d / "lineitem.parquet"))
        got = (
            ops.QUERIES["lineitem_price_quantiles"](spark, str(d))
            .toPandas()
            .set_index("l_returnflag")
            .sort_index()
        )
        for flag in ("A", "N"):
            grp = np.sort(vals[flags == flag])
            gn = len(grp)
            assert got.loc[flag, "n"] == gn
            for p, tag in ((0.25, "q25"), (0.50, "q50"), (0.75, "q75"), (0.95, "q95")):
                h = p * (gn - 1)
                lo = int(np.floor(h))
                f = h - np.floor(h)
                hi = min(gn - 1, lo + 1)
                expected = grp[lo] * (1.0 - f) + grp[hi] * f
                assert got.loc[flag, tag] == expected, (name, flag, tag)
        # the approx variant's band edges are exact order statistics at the
        # guarantee band; on these shapes its ok_* booleans must all hold
        apx = ops.QUERIES["lineitem_price_quantiles_approx"](spark, str(d)).toPandas()
        for tag in ("q25", "q50", "q75", "q95"):
            assert apx[f"ok_{tag}"].all(), (name, tag)
            assert apx[f"lo_{tag}"].notna().all() and apx[f"hi_{tag}"].notna().all()


def test_parquet_row_count_matches_scan(spark, sf_dir):
    from iceberg_trino_sql_demo_spark.session import parquet_row_count, table_path

    for t in ("documents", "embeddings", "orders"):
        path = table_path(sf_dir, t)
        assert parquet_row_count(path) == spark.read.parquet(path).count(), t


def test_knn_join_consistent_with_bruteforce_topk(spark, sf_oracle_dir):
    """ann_knn_join's neighbors for probe vec_id=0 must equal the first
    _KNN_K rows of ann_topk_bruteforce (same query vector, same ordering
    contract) — the batch join is the single-query operator run Q times."""
    from iceberg_trino_sql_demo_spark import operators as ops
    from iceberg_trino_sql_demo_spark.operators.similarity import _KNN_K

    ops.load_all()
    knn = (
        ops.QUERIES["ann_knn_join"](spark, sf_oracle_dir)
        .where("q_id = 0")
        .orderBy("rnk")
        .toPandas()
    )
    brute = ops.QUERIES["ann_topk_bruteforce"](spark, sf_oracle_dir).toPandas()
    assert list(knn["vec_id"]) == list(brute["vec_id"][:_KNN_K])
    assert list(knn["cosine"]) == list(brute["cosine"][:_KNN_K])


def test_knn_join_lsh_recall(spark, sf_oracle_dir):
    """The prefiltered batch k-NN join must recover most of the exact
    batch join's neighbor set (sign-LSH hamming<=3-of-8 keeps true
    near-neighbors with high probability — same guarantee the single-query
    recall test pins for ann_topk_lsh)."""
    from iceberg_trino_sql_demo_spark import operators as ops

    ops.load_all()
    exact = {
        (r.q_id, r.vec_id)
        for r in ops.QUERIES["ann_knn_join"](spark, sf_oracle_dir).collect()
    }
    pref = {
        (r.q_id, r.vec_id)
        for r in ops.QUERIES["ann_knn_join_lsh"](spark, sf_oracle_dir).collect()
    }
    assert len(pref & exact) / len(exact) >= 0.6


def test_plan_audit_invariants(spark):
    """Positive plan pinning for the flagship queries (scripts/plan_audit.py
    EXPECT table): required features present (broadcasts, pushed filters,
    single-exchange windows), pathological ones absent, Exchange ceilings
    hold.  PLANS.md is the human-readable dump of the same audit."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    from scripts.plan_audit import audit

    problems = audit(spark, write_md=False)
    assert not problems, problems


def test_triangles_degree_broadcast_gate(spark, monkeypatch):
    """The node-cardinality degree vector broadcasts ONLY below the
    measured-size gate; above it the same query takes a co-partitioned
    shuffle join with identical results.  Auto-broadcast is disabled for
    the whole test so the only broadcast left is the one the gate's
    explicit hint forces — proving the hint is present below the budget
    and absent above it (AQE would otherwise re-broadcast tiny sides and
    mask the gate)."""
    from iceberg_trino_sql_demo_spark.operators import windows_ops as wo

    def final_plan(df):
        from iceberg_trino_sql_demo_spark.plans import final_plan_section

        return final_plan_section(
            df._jdf.queryExecution().executedPlan().toString())

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # force the enumeration tiers: the r14 dense-GEMM gate would
        # otherwise take the whole query down the single-task numpy path
        # (covered by test_triangles_gemm_gate below) and leave no join
        # for this test to inspect
        monkeypatch.setattr(wo, "_TRI_GEMM_BUDGET", 0)
        below = ops.QUERIES["events_user_triangles"](spark, SF)
        below_rows = [tuple(r) for r in below.collect()]
        assert "BroadcastHashJoin" in final_plan(below)

        monkeypatch.setattr(wo, "_NODE_BROADCAST_BUDGET", 0)
        above = ops.QUERIES["events_user_triangles"](spark, SF)
        above_rows = [tuple(r) for r in above.collect()]
        assert "BroadcastHashJoin" not in final_plan(above)
        assert above_rows == below_rows
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_triangles_gemm_gate(spark, monkeypatch):
    """Below the dense-adjacency budget the triangle query runs the
    single-task diag(A^3)/2 numpy kernel; above it the degree-oriented
    enumeration.  Both paths must return the identical top-k (exact
    integer counts either way), and the gate must actually switch the
    physical plan (MapInPandas present below, absent above)."""
    from iceberg_trino_sql_demo_spark.operators import windows_ops as wo

    def final_plan(df):
        from iceberg_trino_sql_demo_spark.plans import final_plan_section

        return final_plan_section(
            df._jdf.queryExecution().executedPlan().toString())

    gemm = ops.QUERIES["events_user_triangles"](spark, SF)
    gemm_rows = [tuple(r) for r in gemm.collect()]
    assert "MapInPandas" in final_plan(gemm)

    monkeypatch.setattr(wo, "_TRI_GEMM_BUDGET", 0)
    enum = ops.QUERIES["events_user_triangles"](spark, SF)
    enum_rows = [tuple(r) for r in enum.collect()]
    assert "MapInPandas" not in final_plan(enum)
    assert gemm_rows == enum_rows


def test_incremental_minhash_consistency(spark):
    """The incremental (batch-vs-index) operator must find exactly the
    full operator's pairs that touch the batch slice — no index-index
    pairs, nothing missed.  Runs at sf0.01: the sf0.001 batch slice
    (md5 bucket 0, ~10% of 500 docs) happens to contain no near-dup
    pair at all, which would make the equality vacuous."""
    sf = "/root/testdata/sf0.01"
    full = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in ops.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
    }
    incr = [
        (r.id_new, r.id_old)
        for r in ops.QUERIES["dedup_incremental_minhash"](spark, sf).collect()
    ]
    import hashlib

    def is_batch(doc_id: int) -> bool:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10 == 0

    assert incr, "batch slice should hit some near-dups in this corpus"
    for new, old in incr:
        assert is_batch(new), "probe side must be a batch doc"
    got = {tuple(sorted(p)) for p in incr}
    want = {p for p in full if is_batch(p[0]) or is_batch(p[1])}
    assert got == want, (got - want, want - got)


def test_ann_sq8_recall_vs_bruteforce(spark):
    """255-level scalar quantization distorts cosines by <1%, so the
    prescore-C=50 + exact-rescore pipeline should recover nearly the
    whole exact top-10; returned cosines are exact by construction."""
    brute = [r.vec_id for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()]
    sq = [r.vec_id for r in ops.QUERIES["ann_topk_sq8"](spark, SF).collect()]
    recall = len(set(brute) & set(sq)) / len(brute)
    assert recall >= 0.8, f"SQ8 top-k recall {recall}"
    bs = {r.vec_id: r.cosine for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()}
    for r in ops.QUERIES["ann_topk_sq8"](spark, SF).collect():
        if r.vec_id in bs:
            assert abs(r.cosine - bs[r.vec_id]) < 1e-9


def test_python_datasource_matches_table_df(spark):
    # full-scan (no filter) read through the ice_table Python DataSource
    # equals the engine's own Table.df over the same snapshot
    import tempfile

    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog
    from iceberg_trino_sql_demo_spark.sources.pyds import (
        FORMAT_NAME,
        IceTableDataSource,
    )

    cat = Catalog(spark, tempfile.mkdtemp(prefix="wh_"))
    cat.create_schema("dst")
    cat.use("dst")
    src = spark.read.parquet(f"{SF}/nation.parquet")
    t = cat.ctas("nation_ds", src, partitioning=["n_regionkey"])
    from iceberg_trino_sql_demo_spark.session import pinned_conf

    spark.dataSource.register(IceTableDataSource)
    # a reader implementing pushFilters requires the conf even filterless
    with pinned_conf(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        via_ds = sorted(
            tuple(r) for r in
            spark.read.format(FORMAT_NAME).option("path", t.location).load().collect()
        )
    via_table = sorted(tuple(r) for r in t.df().collect())
    assert via_ds == via_table and len(via_ds) == src.count()


def test_segment_scan_route_matches_jvm(spark, monkeypatch):
    """Above the file-count gate, Table.df plans unpruned scans from
    manifest segments via the ice_table DataSource (no per-file Python
    objects, no Py4J path handoff, no JVM listing).  The route must be
    invisible to the user: identical rows, identical schema, and exact
    time-travel — and it must NOT engage when the state needs the
    snapshot_df machinery (schema evolution, MoR deletes, pruning)."""
    import tempfile

    from iceberg_trino_sql_demo_spark.sources import table as tmod
    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="wh_"))
    cat.create_schema("segscan")
    cat.use("segscan")
    src = spark.read.parquet(f"{SF}/orders.parquet")  # has a timestamp col
    t = cat.ctas("orders_ds", src)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    jvm_rows = sorted(tuple(r) for r in t.df().collect())
    jvm_schema = [(f.name, f.dataType) for f in t.df().schema.fields]

    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 1)
    routed = t.df()
    assert "BatchScan ice_table" in plan(routed)
    assert [(f.name, f.dataType) for f in routed.schema.fields] == jvm_schema
    assert sorted(tuple(r) for r in routed.collect()) == jvm_rows

    # time travel rides the snapshot_id option
    v1 = t.meta.refs["main"]
    t.insert([{"o_orderkey": 999_999, "o_custkey": 1, "o_orderstatus": "O",
               "o_totalprice": 1.0, "o_orderdate": jvm_rows[0][4],
               "o_orderpriority": "1-URGENT"}])
    old = t.df(version=v1)
    assert "BatchScan ice_table" in plan(old)
    assert sorted(tuple(r) for r in old.collect()) == jvm_rows
    assert t.df().count() == len(jvm_rows) + 1

    # a WHERE that prunes routes through the paths-file DataSource plan
    # (above the gate) with the filter still executed by Catalyst on top
    filtered = t.df(where="o_orderkey = 1")
    assert "BatchScan ice_table" in plan(filtered)
    assert filtered.count() == 1

    # schema evolution STAYS on the route (r9): the reader applies the
    # column-id projection per partition — old rows surface the default
    t.add_column("o_note", "string", default="n/a")
    evolved = t.df()
    assert "BatchScan ice_table" in plan(evolved)
    assert evolved.where(F.col("o_note") == "n/a").count() == len(jvm_rows) + 1
    # and the route's rows equal the snapshot_df machinery's rows exactly
    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 10_000)
    via_jvm = sorted(tuple(r) for r in t.df().collect())
    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 1)
    assert sorted(tuple(r) for r in t.df().collect()) == via_jvm

    # MoR position deletes STAY on the route too: emit_pos + anti-join
    # (merge_mode defaults to merge-on-read: this writes a position-delete)
    t.delete("o_orderkey % 3 = 0")
    mor = t.df()
    assert "BatchScan ice_table" in plan(mor)
    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 10_000)
    expect = sorted(tuple(r) for r in t.df().collect())
    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 1)
    got = sorted(tuple(r) for r in mor.collect())
    assert got == expect
    assert not any(r[0] % 3 == 0 for r in got)

    # equality deletes remain snapshot_df territory
    t.upsert_by_key(
        spark.createDataFrame(
            [(1, 1, "O", 2.0, expect[0][4], "1-URGENT", "eq")],
            t.df().schema,
        ),
        ["o_orderkey"],
    )
    eq = t.df()
    assert "BatchScan ice_table" not in plan(eq)


def test_pruned_scan_routes_through_paths_file(spark, monkeypatch):
    """Pruned reads with large survivor sets take the DataSource plan via
    a (path, size) side parquet — identical rows to the JVM route, and
    the WHERE still executes in Catalyst on top."""
    import tempfile

    from iceberg_trino_sql_demo_spark.sources import table as tmod
    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="wh_"))
    cat.create_schema("prsc")
    cat.use("prsc")
    src = spark.read.parquet(f"{SF}/orders.parquet")
    t = cat.ctas("orders_pr", src)
    where = "o_orderkey % 7 = 0 AND o_custkey > 20"
    jvm_rows = sorted(tuple(r) for r in t.df(where=where).collect())
    assert jvm_rows

    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 1)
    routed = t.df(where=where)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan ice_table" in plan
    assert sorted(tuple(r) for r in routed.collect()) == jvm_rows
    # the side file carries exactly the pruned survivors: a highly
    # selective equality prunes to fewer files than the full set
    full = len(t._manifest(t._resolve()).data_files)
    sel = t.df(where="o_orderkey = 1")
    assert "BatchScan ice_table" in \
        sel._jdf.queryExecution().executedPlan().toString()
    assert sel.count() == 1


def test_scan_route_is_bytes_aware(spark, monkeypatch):
    """The pyds route saves O(files) launch cost but reads via Python/Arrow
    at lower per-byte throughput (SCALING.md "Reader throughput"): above
    the count gate, MANY TINY files route pyds, FEW LARGE files stay on the
    JVM vectorized reader."""
    import tempfile

    from pyspark.sql import functions as Fx

    from iceberg_trino_sql_demo_spark.sources import table as tmod
    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="wh_"))
    cat.create_schema("bw")
    cat.use("bw")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 1)
    # many tiny files: launch savings dominate -> DataSource plan
    tiny = cat.ctas(
        "tiny", spark.read.parquet(f"{SF}/nation.parquet").repartition(8)
    )
    assert "BatchScan ice_table" in plan(tiny.df())
    # few large files (~8 MB): per-byte penalty dominates -> JVM plan
    big_src = spark.range(400_000).select(
        Fx.col("id").alias("k"), Fx.md5(Fx.col("id").cast("string")).alias("s")
    )
    big = cat.ctas("big", big_src.coalesce(1))
    man = big._manifest(big._resolve())
    nbytes = man.total_bytes()
    assert nbytes == sum(f.file_size_bytes for f in man.data_files)
    assert nbytes > 2_000_000  # the point needs real megabytes
    assert not big._pyds_bytes_ok(1, nbytes)
    assert "BatchScan ice_table" not in plan(big.df())
    # rows identical either way (force the route to prove equivalence)
    monkeypatch.setattr(tmod, "_PYDS_BYTE_PENALTY", 0.0)
    routed = big.df()
    assert "BatchScan ice_table" in plan(routed)
    assert routed.count() == 400_000


def test_segment_scan_reader_partitions_pack_by_bytes(spark):
    """The segment plan's task list is byte-packed from manifest sizes:
    max_files caps tiny-file fan-in, and every live file lands in exactly
    one partition."""
    import tempfile

    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog
    from iceberg_trino_sql_demo_spark.sources.pyds import IceSegmentScanReader

    cat = Catalog(spark, tempfile.mkdtemp(prefix="wh_"))
    cat.create_schema("segpack")
    cat.use("segpack")
    src = spark.read.parquet(f"{SF}/nation.parquet").repartition(6)
    t = cat.ctas("nation_ds", src)

    rdr = IceSegmentScanReader(t.location, None, max_bytes=1 << 40, max_files=2)
    parts = rdr.partitions()
    all_paths = [p for part in parts for p in part.paths]
    assert len(all_paths) == len(set(all_paths))
    live = {f.path for f in t._manifest(t._resolve()).data_files}
    assert set(all_paths) == live
    assert all(len(part.paths) <= 2 for part in parts)


def test_hll_registers_merge_by_max(spark, sf_oracle_dir):
    """The HLL sketch's core contract: partial register states built on
    disjoint corpus halves MERGE (per-bucket MAX) to exactly the
    full-corpus registers, so the estimate is identical whether the
    sketch was built in one pass or accumulated incrementally."""
    from pyspark.sql import functions as F

    from iceberg_trino_sql_demo_spark.operators.windows_ops import (
        _events,
        _hll_estimate,
        _hll_registers,
    )

    ev = _events(spark, sf_oracle_dir)
    h = (
        ev.select("event_type", "user_id")
        .distinct()
        .select("event_type", F.md5(F.col("user_id").cast("string")).alias("hx"),
                (F.col("user_id") % 2).alias("half"))
    )
    full = _hll_estimate(_hll_registers(h.drop("half")))
    parts = [
        _hll_registers(h.where(F.col("half") == i).drop("half"))
        for i in (0, 1)
    ]
    # m merges by MAX; nk by SUM (the halves partition the key space)
    merged_reg = (
        parts[0].unionByName(parts[1])
        .groupBy("event_type", "bucket")
        .agg(F.max("m").alias("m"), F.sum("nk").alias("nk"))
    )
    merged = _hll_estimate(merged_reg)
    a = {r.event_type: (r.ndv_exact, r.hll_est, r.m_nonzero)
         for r in full.collect()}
    b = {r.event_type: (r.ndv_exact, r.hll_est, r.m_nonzero)
         for r in merged.collect()}
    assert a == b and a


def test_ann_ivfpq_recall_and_exact_scores(spark):
    """IVF-PQ stacks two approximations (probe pruning + 8-byte codes);
    with N_PROBE=2 lists and a 10x rescore pool the composition should
    still recover most of the exact top-10, and every returned cosine is
    exact by construction (rescore reads the raw vectors)."""
    brute = [r.vec_id for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()]
    ivfpq = [r.vec_id for r in ops.QUERIES["ann_topk_ivfpq"](spark, SF).collect()]
    recall = len(set(brute) & set(ivfpq)) / len(brute)
    # IVF alone bounds this composition's recall from above; PQ within the
    # probed lists should cost little extra (pool is 10x K)
    ivf = [r.vec_id for r in ops.QUERIES["ann_topk_ivf"](spark, SF).collect()]
    ivf_recall = len(set(brute) & set(ivf)) / len(brute)
    assert recall >= max(0.5, ivf_recall - 0.2), (
        f"IVF-PQ recall {recall} vs IVF {ivf_recall}"
    )
    bs = {r.vec_id: r.cosine for r in ops.QUERIES["ann_topk_bruteforce"](spark, SF).collect()}
    for r in ops.QUERIES["ann_topk_ivfpq"](spark, SF).collect():
        if r.vec_id in bs:
            assert abs(r.cosine - bs[r.vec_id]) < 1e-9


def test_exotic_current_schema_stays_off_segment_route(spark):
    """A NEVER-evolved table whose current schema carries engine-only
    dual-representation types (variant, ns-timestamps) yields an
    all-'take' projection spec, so the spec-based gate alone would
    approve it — but the DataSource cannot emit those types in a Spark
    schema.  The current-schema type check must reject it (r9 review
    finding: the old per-entry guard did; the spec gate must too)."""
    import tempfile

    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="wh_exotic_"))
    cat.create_schema("ex")
    cat.use("ex")
    seed = spark.createDataFrame([(1, "a")], "k long, s string")
    plain = cat.ctas("plain_t", seed)
    assert plain._pyds_schemas_safe()
    exotic = cat.ctas("exotic_t", seed)
    exotic.add_column("payload", "variant", default=None)
    assert not exotic._pyds_schemas_safe()
    # the read path itself still works (Catalyst route)
    assert exotic.df().count() == 1


def test_segment_scan_declared_column_projection(spark, monkeypatch):
    """Table.df(columns=...) reaches the Arrow reader (VERDICT r9 #5):
    the Python DataSource API has no column-pruning hook, so a declared
    projection is the only way a narrow scan avoids decoding every
    column.  The BatchScan itself must be narrow (not a Project above a
    full-width scan), WHERE columns are scanned-but-dropped, evolution
    defaults surface, MoR anti-joins still apply, and unknown columns
    fail loudly."""
    import tempfile

    from iceberg_trino_sql_demo_spark.sources import table as tmod
    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="wh_proj_"))
    cat.create_schema("proj")
    cat.use("proj")
    src = spark.read.parquet(f"{SF}/orders.parquet")
    t = cat.ctas("orders_proj", src)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    expect = sorted(
        (r.o_orderkey, r.o_totalprice)
        for r in t.df().select("o_orderkey", "o_totalprice").collect()
    )
    monkeypatch.setattr(tmod, "_PYDS_SCAN_FILES", 1)
    narrow = t.df(columns=["o_orderkey", "o_totalprice"])
    p = plan(narrow)
    assert "BatchScan ice_table" in p
    # the SCAN is narrow: no other column name appears anywhere in the
    # executed plan (a Project above a full-width scan would show them)
    assert "o_orderdate" not in p and "o_orderpriority" not in p
    assert [f.name for f in narrow.schema.fields] == [
        "o_orderkey", "o_totalprice"]
    assert sorted(tuple(r) for r in narrow.collect()) == expect

    # WHERE on a column OUTSIDE the projection: scanned for the filter,
    # dropped from the output
    lim = sorted(r[0] for r in expect)[len(expect) // 2]
    filtered = t.df(columns=["o_totalprice"], where=f"o_orderkey <= {lim}")
    assert [f.name for f in filtered.schema.fields] == ["o_totalprice"]
    want_n = sum(1 for k, _ in expect if k <= lim)
    assert filtered.count() == want_n

    # evolution: a post-hoc column's default surfaces through the
    # projected spec
    t.add_column("o_note", "string", default="n/a")
    noted = t.df(columns=["o_orderkey", "o_note"])
    assert "BatchScan ice_table" in plan(noted)
    assert noted.where("o_note = 'n/a'").count() == len(expect)

    # MoR position deletes apply under a projection (emit_pos helper
    # columns are independent of the declared column set)
    t.delete("o_orderkey % 3 = 0")
    mor = t.df(columns=["o_orderkey"])
    assert "BatchScan ice_table" in plan(mor)
    keys = [r.o_orderkey for r in mor.collect()]
    assert keys and not any(k % 3 == 0 for k in keys)
    assert len(keys) == sum(1 for k, _ in expect if k % 3 != 0)

    # loud failure on unknown columns
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in the"):
        t.df(columns=["nope"])

    # the route's byte gate scales with the column fraction: a narrow
    # projection of a bytes-heavy table routes pyds where a full-width
    # scan routes JVM
    frac_ok = t._pyds_bytes_ok(1000, 10**9, ["o_orderkey"])
    full_ok = t._pyds_bytes_ok(1000, 10**9, None)
    assert frac_ok and not full_ok


def test_decode_wav_roundtrip_and_refusals():
    """decode_wav (r13 — real audio decode, VERDICT r12 #5) parses
    genuine RIFF/WAVE PCM: 16-bit round-trips the exact synthesized
    samples, 8-bit re-centers unsigned bytes, stereo keeps channel 0,
    and unsupported widths refuse loudly."""
    import io
    import wave

    import numpy as np

    from iceberg_trino_sql_demo_spark.operators.multimodal import (
        decode_wav, synthesize_wav,
    )

    # 16-bit mono: exact round-trip of the generator formula
    payload = synthesize_wav(7, 4000)
    rate, samples = decode_wav(payload)
    assert rate == 8000 and len(samples) == 4000
    i = np.arange(4000, dtype=np.int64)
    want = (7 * 31 + i * 17) % 65536 - 32768
    assert (samples == want).all()
    # includes genuinely negative amplitudes (sign/endianness check)
    assert samples.min() < 0 < samples.max()

    def wav_bytes(nch, width, frames: bytes) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(44100)
            w.writeframes(frames)
        return buf.getvalue()

    # 8-bit unsigned PCM re-centers around 0
    rate8, s8 = decode_wav(wav_bytes(1, 1, bytes([0, 128, 255])))
    assert rate8 == 44100 and list(s8) == [-128, 0, 127]

    # stereo: channel 0 only (interleaved L R L R)
    import struct

    inter = struct.pack("<4h", 10, -99, 20, -99)
    _, s2 = decode_wav(wav_bytes(2, 2, inter))
    assert list(s2) == [10, 20]

    # 24-bit refuses loudly
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="24-bit"):
        decode_wav(wav_bytes(1, 3, b"\x00" * 6))
