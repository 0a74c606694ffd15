"""Product quantization (r11): planner geometry, codebook determinism,
the ADC shortlist→exact re-rank path, the exhaustive-shortlist identity
with brute force, recall floors at two fixture scales, and the persisted
index's structural identity with the in-memory path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from priority_data_pipeline_postgres_db_spark.operators.similarity import (
    N_QUERIES,
    PQ_K,
    PQ_M,
    build_pq_index,
    cosine_topk,
    fit_pq_codebooks,
    load,
    load_pq_codebooks,
    plan_pq,
    pq_encode_udf,
    pq_topk,
    pq_topk_persisted,
    sim_pq_topk,
)
from priority_data_pipeline_postgres_db_spark.util import scratch_dir


def _emb(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return emb.drop("label") if "label" in emb.columns else emb


def test_plan_pq_classic_geometries():
    """At equal bits the planner prefers larger codebooks (the measured
    PQ ordering), landing on the classic m×8-bit layouts."""
    p4 = plan_pq(64, 4.0)
    assert (p4.m, p4.k_codes, p4.bits_per_vector) == (4, 256, 32)
    assert p4.compression_vs_float32 == 64.0
    p8 = plan_pq(64, 8.0)
    assert (p8.m, p8.k_codes) == (8, 256)
    # m always divides dim — a non-power-of-two dim still gets a plan
    p = plan_pq(48, 3.0)
    assert 48 % p.m == 0 and p.bytes_per_vector <= 3.0


def test_plan_pq_rejects_impossible_budget():
    with pytest.raises(ValueError):
        plan_pq(64, 0.1)


def test_codebooks_deterministic_and_shaped(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    b1 = fit_pq_codebooks(emb, m=PQ_M, k_codes=PQ_K)
    b2 = fit_pq_codebooks(emb, m=PQ_M, k_codes=PQ_K)
    assert b1.shape == (PQ_M, min(PQ_K, emb.count()), 64 // PQ_M)
    assert np.array_equal(b1, b2), "hash-ordered sample fit must be RNG-free"


def test_encode_codes_in_range_and_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    books = fit_pq_codebooks(emb)
    enc = pq_encode_udf(books)
    from priority_data_pipeline_postgres_db_spark.operators.dedup import quantize_expr

    codes = (
        emb.select("vec_id", enc(quantize_expr()).alias("codes"))
        .orderBy("vec_id")
        .toPandas()
    )
    k_eff = books.shape[1]
    for row in codes["codes"]:
        arr = np.asarray(row)
        assert arr.shape == (PQ_M,)
        assert ((arr >= 0) & (arr < k_eff)).all()
    codes2 = (
        emb.select("vec_id", enc(quantize_expr()).alias("codes"))
        .orderBy("vec_id")
        .toPandas()
    )
    assert [list(c) for c in codes["codes"]] == [list(c) for c in codes2["codes"]]


def test_exhaustive_shortlist_equals_brute_force(spark, sf_dir):
    """With rerank ≥ corpus the ADC stage cannot drop a candidate, so
    the exact re-rank IS `cosine_topk` — a structural identity that
    pins the whole two-stage plumbing (join keys, self-exclusion, rank
    tie-break) independent of any recall floor."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    n = emb.count()
    pq = (
        pq_topk(emb, queries, k=5, rerank=(n // 5) + 1)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    ex = cosine_topk(emb, queries, k=5).orderBy("query_id", "rank").toPandas()
    assert pq[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        ex[["query_id", "neighbor_id", "rank"]].values.tolist()
    )
    assert (np.abs(pq["cosine"].to_numpy() - ex["cosine"].to_numpy()) < 1e-12).all()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_pq_registry_entry_recall_floor(spark, sf_dir, sf):
    """sim_pq_topk's in-band recall@5 (deterministic per fixture:
    measured 0.84 avg / 0.8 min at sf0.001, 0.88 / 0.6 at sf0.01) —
    conservative floors so a codebook or shortlist regression fails
    loudly without pinning box-specific float noise."""
    import os

    d = os.path.join(os.path.dirname(sf_dir.rstrip("/")), sf)
    df = sim_pq_topk(spark, d)
    per_q = (
        df.groupBy("query_id").agg(F.first("recall_at_5").alias("r")).toPandas()
    )
    assert len(per_q) == N_QUERIES
    assert per_q["r"].mean() >= 0.75, f"PQ avg recall collapsed: {per_q['r'].mean()}"
    assert per_q["r"].min() >= 0.4, f"PQ min recall collapsed: {per_q['r'].min()}"


def test_persisted_index_matches_in_memory(spark, sf_dir):
    """build → load → query returns exactly what the in-memory lifecycle
    returns (same deterministic fit, shared stage functions)."""
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_pq_test_"))
    books_built = build_pq_index(emb, wh)
    assert np.array_equal(books_built, load_pq_codebooks(wh))
    got = (
        pq_topk_persisted(wh, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    want = pq_topk(emb, queries, k=5).orderBy("query_id", "rank").toPandas()
    assert got[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        want[["query_id", "neighbor_id", "rank"]].values.tolist()
    )


def test_pq_recall_curve_monotone_and_consistent(spark, gate_dir):
    """The rerank→recall curve is non-decreasing, and its value at the
    production depth (PQ_RERANK×k = 80) equals the registry entry's
    in-band recall average — the single-ADC-pass shortcut really is the
    end-to-end number (measured 0.88 at sf0.01)."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        PQ_RERANK,
        TOP_K,
        sim_pq_recall_curve,
    )

    curve = (
        sim_pq_recall_curve(spark, gate_dir).orderBy("rerank").toPandas()
    )
    assert (curve["n_queries"] == N_QUERIES).all()
    avgs = curve["avg_recall"].to_numpy()
    assert (np.diff(avgs) >= -1e-12).all(), f"curve not monotone: {avgs}"
    prod = curve.loc[curve["rerank"] == PQ_RERANK * TOP_K, "avg_recall"]
    assert len(prod) == 1
    in_band = (
        sim_pq_topk(spark, gate_dir)
        .groupBy("query_id")
        .agg(F.first("recall_at_5").alias("r"))
        .toPandas()["r"]
        .mean()
    )
    assert abs(float(prod.iloc[0]) - float(in_band)) < 1e-9
    assert float(prod.iloc[0]) >= 0.75


def test_ivfpq_exhaustive_identity(spark, sf_dir):
    """nprobe = k_clusters AND rerank ≥ corpus ⇒ every posting is probed
    and no candidate can be dropped, so IVFPQ's exact re-rank IS
    `cosine_topk` — pins probe masking, the q·c + residual-LUT
    decomposition, spill dedupe, and the rank tie-break structurally."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        N_CLUSTERS,
        ivfpq_topk,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    n = emb.count()
    got = (
        ivfpq_topk(emb, queries, k=5, nprobe=N_CLUSTERS, rerank=(n // 5) + 1)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    ex = cosine_topk(emb, queries, k=5).orderBy("query_id", "rank").toPandas()
    assert got[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        ex[["query_id", "neighbor_id", "rank"]].values.tolist()
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_ivfpq_registry_entry_recall_floor(spark, sf_dir, sf):
    """sim_ivfpq_persisted's in-band recall@5 (measured 0.76/0.74 avg,
    0.4 min — two composed approximations on a near-random corpus, so
    lower than plain PQ by design); conservative floors."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        sim_ivfpq_persisted,
    )

    d = os.path.join(os.path.dirname(sf_dir.rstrip("/")), sf)
    per_q = (
        sim_ivfpq_persisted(spark, d)
        .groupBy("query_id")
        .agg(F.first("recall_at_5").alias("r"))
        .toPandas()
    )
    assert len(per_q) == N_QUERIES
    assert per_q["r"].mean() >= 0.6, f"IVFPQ avg recall collapsed: {per_q['r'].mean()}"
    assert per_q["r"].min() >= 0.2, f"IVFPQ min recall collapsed: {per_q['r'].min()}"


def test_ivfpq_persisted_matches_in_memory(spark, sf_dir):
    """Same deterministic fits + shared stage functions ⇒ the persisted
    index answers exactly like the in-memory lifecycle."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk,
        ivfpq_topk_persisted,
        load_ivfpq,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_ivfpq_test_"))
    cents, books = build_ivfpq_index(emb, wh)
    lc, lb = load_ivfpq(wh)
    assert np.array_equal(cents, lc) and np.array_equal(books, lb)
    got = (
        ivfpq_topk_persisted(wh, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    want = ivfpq_topk(emb, queries, k=5).orderBy("query_id", "rank").toPandas()
    assert got[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        want[["query_id", "neighbor_id", "rank"]].values.tolist()
    )


# -- incremental maintenance: ivfpq_append (VERDICT r11 #5) ---------------


def test_ivfpq_append_equals_oneshot_encode(spark, sf_dir):
    """The frozen-codebook identity: build(A) + append(B) holds exactly
    the postings a one-shot encode of A∪B against A's codebooks
    produces — posting-for-posting (vec_id, label, codes)."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
        ivfpq_encode_udf,
        quantize_expr,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    a = emb.filter(F.col("vec_id") < n // 2)
    b = emb.filter(F.col("vec_id") >= n // 2)
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_ivfpq_app_"))
    cents, books = build_ivfpq_index(a, wh)
    rep = ivfpq_append(b, wh, batch_id="g1")
    assert rep["postings_written"] > 0

    encode = ivfpq_encode_udf(cents, books)
    want = (
        emb.select("vec_id", encode(quantize_expr()).alias("ps"))
        .select("vec_id", F.explode("ps").alias("p"))
        .select("vec_id", F.col("p.label").alias("label"), F.col("p.codes").alias("codes"))
    )
    got_set = {
        (r["vec_id"], r["label"], tuple(r["codes"]))
        for r in wh.read("ivfpq_index").collect()
    }
    want_set = {
        (r["vec_id"], r["label"], tuple(r["codes"])) for r in want.collect()
    }
    assert got_set == want_set

    # idempotent growth: replaying the same batch id adds nothing
    rep2 = ivfpq_append(b, wh, batch_id="g1")
    assert rep2["postings_written"] == 0
    assert wh.read("ivfpq_index").count() == len(got_set)


def test_ivfpq_append_exhaustive_identity(spark, sf_dir):
    """Queries through the GROWN index with exhaustive probes/rerank are
    bit-identical to brute force over the full corpus — the append path
    composes with every downstream stage exactly like a built index."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        N_CLUSTERS,
        build_ivfpq_index,
        ivfpq_append,
        ivfpq_topk_persisted,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_ivfpq_appq_"))
    build_ivfpq_index(emb.filter(F.col("vec_id") < n // 2), wh)
    ivfpq_append(emb.filter(F.col("vec_id") >= n // 2), wh)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    got = (
        ivfpq_topk_persisted(
            wh, emb, queries, k=5, nprobe=N_CLUSTERS, rerank=(n // 5) + 1
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    ex = cosine_topk(emb, queries, k=5).orderBy("query_id", "rank").toPandas()
    assert got[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        ex[["query_id", "neighbor_id", "rank"]].values.tolist()
    )


def test_ivfpq_append_drift_instrument_fixture_in_dist(spark, sf_dir):
    """In-distribution growth on the fixture reads ≈1 on the drift ratio
    and does NOT recommend a refit (the fixture corpus is near-uniform
    on the sphere, so A-trained codebooks generalize to B)."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_ivfpq_drift_"))
    build_ivfpq_index(emb.filter(F.col("vec_id") < n // 2), wh)
    in_dist = ivfpq_append(
        emb.filter(F.col("vec_id") >= n // 2), wh, batch_id="indist"
    )
    assert in_dist["train_quant_mse"] > 0
    assert 0.5 <= in_dist["drift_ratio"] <= 1.6, in_dist
    assert not in_dist["refit_recommended"]


def test_ivfpq_append_drift_trips_on_real_shift(spark):
    """The instrument must FIRE when the distribution actually moves: a
    clustered training corpus (tight axis-aligned clusters → tiny
    residual error) grown with a batch concentrated far from every
    training cluster reads a large drift ratio and recommends a refit.
    (A unit-norm 'shift' of the near-uniform fixture is invisible to
    quantization error BY DESIGN — same code health; this synthetic
    corpus is where drift is physically real.)"""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    dim, per = 16, 100
    rng = np.random.default_rng(7)
    rows = []
    for c in range(4):  # tight clusters on axes e0..e3
        base = np.zeros(dim)
        base[c] = 1.0
        for i in range(per):
            v = base + rng.normal(0, 0.02, dim)
            rows.append((c * per + i, [float(x) for x in v]))
    train = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_ivfpq_shift_"))
    build_ivfpq_index(train, wh, k_clusters=4, m=4, k_codes=8)

    far = np.ones(dim) / np.sqrt(dim)  # equidistant from every axis
    drift_rows = [
        (10_000 + i, [float(x) for x in far + rng.normal(0, 0.02, dim)])
        for i in range(per)
    ]
    drifted = spark.createDataFrame(
        drift_rows, "vec_id long, embedding array<float>"
    )
    out = ivfpq_append(drifted, wh, batch_id="shifted", drift_refit_ratio=2.0)
    assert out["drift_ratio"] > 5.0, out
    assert out["refit_recommended"], out


def test_pq_append_equals_oneshot_and_exhaustive(spark, sf_dir):
    """Plain-PQ incremental twin of the IVFPQ pins: build(A)+append(B)
    holds exactly the codes a one-shot encode of A∪B against A's books
    produces; exhaustive-rerank queries through the grown index are
    bit-identical to brute force; replay is idempotent."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_pq_index,
        pq_append,
        pq_topk_persisted,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    a = emb.filter(F.col("vec_id") < n // 2)
    b = emb.filter(F.col("vec_id") >= n // 2)
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_pq_app_"))
    books = build_pq_index(a, wh)
    rep = pq_append(b, wh, batch_id="g1")
    assert rep["codes_written"] == n - n // 2

    from priority_data_pipeline_postgres_db_spark.operators.dedup import quantize_expr

    encode = pq_encode_udf(books)
    want = {
        (r["vec_id"], tuple(r["codes"]))
        for r in emb.select(
            "vec_id", encode(quantize_expr()).alias("codes")
        ).collect()
    }
    got = {
        (r["vec_id"], tuple(r["codes"]))
        for r in wh.read("pq_index").collect()
    }
    assert got == want

    assert pq_append(b, wh, batch_id="g1")["codes_written"] == 0  # replay

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    res = (
        pq_topk_persisted(wh, emb, queries, k=5, rerank=(n // 5) + 1)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    ex = cosine_topk(emb, queries, k=5).orderBy("query_id", "rank").toPandas()
    assert res[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        ex[["query_id", "neighbor_id", "rank"]].values.tolist()
    )


def test_pq_append_drift_instrument(spark):
    """In-distribution growth ≈1; a batch concentrated far from the
    clustered training manifold fires the instrument (same synthetic
    corpus as the IVFPQ drift pin)."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_pq_index,
        pq_append,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    dim, per = 16, 100
    rng = np.random.default_rng(11)
    rows = []
    for c in range(4):
        base = np.zeros(dim)
        base[c] = 1.0
        for i in range(per):
            rows.append(
                (c * per + i, [float(x) for x in base + rng.normal(0, 0.02, dim)])
            )
    train = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_pq_drift_"))
    build_pq_index(train, wh, m=4, k_codes=8)

    same = spark.createDataFrame(
        [(5000 + i, [float(x) for x in np.eye(dim)[i % 4] + rng.normal(0, 0.02, dim)])
         for i in range(per)],
        "vec_id long, embedding array<float>",
    )
    ok = pq_append(same, wh, batch_id="indist")
    assert 0.2 <= ok["drift_ratio"] <= 2.0, ok
    assert not ok["refit_recommended"]

    far = np.ones(dim) / np.sqrt(dim)
    drifted = spark.createDataFrame(
        [(9000 + i, [float(x) for x in far + rng.normal(0, 0.02, dim)])
         for i in range(per)],
        "vec_id long, embedding array<float>",
    )
    out = pq_append(drifted, wh, batch_id="shifted")
    assert out["drift_ratio"] > 2.0, out
    assert out["refit_recommended"], out


def test_ivfpq_append_survives_snapshot_expiry(spark, sf_dir):
    """Composition pin: warehouse maintenance × grown index.  After
    expire_snapshots folds the build batch and the append batch into one
    retention base, the postings CONTENT is unchanged (append-only union
    fold), so queries through the index are bit-identical — growing and
    then compacting history can never change what callers see."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
        ivfpq_topk_persisted,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_ivfpq_exp_"))
    build_ivfpq_index(emb.filter(F.col("vec_id") < n // 2), wh)
    ivfpq_append(emb.filter(F.col("vec_id") >= n // 2), wh, batch_id="g1")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    before = (
        ivfpq_topk_persisted(wh, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    out = wh.expire_snapshots("ivfpq_index", keep_last=1, reap_min_age_sec=0.0)
    assert out["expired"], "the build batch must fold into the base"
    after = (
        ivfpq_topk_persisted(wh, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert before[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        after[["query_id", "neighbor_id", "rank"]].values.tolist()
    )


# ---------------------------------------------------------------------------
# r13: versioned generations + refit-and-swap, geometry auto-adopt, fit memos,
# stats backward compatibility
# ---------------------------------------------------------------------------


def test_ivfpq_refit_swap_lifecycle(spark, sf_dir):
    """The full drift-response lifecycle (VERDICT r12 #2): build gen-1 on
    half the corpus, append the rest, refit-and-swap to gen-2 trained on
    the grown corpus.  Pins: queries resolve the correct generation on
    each side of the swap; the post-swap index is bit-identical to a
    one-shot build on the full corpus (deterministic fits); the
    superseded generation's physical tables are expired; and the swap is
    ONE pointer publish (old results stay valid — they were answered by
    tables that existed wholly until expiry)."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        build_ivfpq_versioned,
        current_index_generation,
        ivfpq_append_current,
        ivfpq_refit,
        ivfpq_topk_current,
        ivfpq_topk_persisted,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    emb = _emb(spark, sf_dir)
    n = emb.count()
    root = scratch_dir("spark_graft_refit_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    build_ivfpq_versioned(emb.filter(F.col("vec_id") < n // 2), wh, control)
    assert resolve_index_table(control) == ("ivfpq_index__g0001", 1)
    pre = ivfpq_topk_current(wh, control, emb, queries, k=5).toPandas()
    assert set(pre["index_generation"]) == {1}

    rep = ivfpq_append_current(
        emb.filter(F.col("vec_id") >= n // 2), wh, control, batch_id="g1"
    )
    assert rep["generation"] == 1 and rep["postings_written"] > 0

    out = ivfpq_refit(emb, wh, control)
    assert out["generation"] == 2 and out["expired"] == ["ivfpq_index__g0001"]
    assert resolve_index_table(control) == ("ivfpq_index__g0002", 2)
    # old generation physically reaped; new one intact
    assert not wh.exists("ivfpq_index__g0001")
    assert wh.exists("ivfpq_index__g0002")

    post = (
        ivfpq_topk_current(wh, control, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert set(post["index_generation"]) == {2}
    # the refit generation answers exactly like a one-shot build on the
    # same corpus (deterministic memoized fits)
    wh2 = StagingWarehouse(spark, scratch_dir("spark_graft_refit_oneshot_"))
    build_ivfpq_index(emb, wh2)
    want = (
        ivfpq_topk_persisted(wh2, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert post[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        want[["query_id", "neighbor_id", "rank"]].values.tolist()
    )
    # the pointer log records both generations (audit trail)
    assert current_index_generation(control)["generation"] == 2


def test_refit_preserves_reads_across_swap_boundary(spark, sf_dir):
    """A reader that resolved the pointer BEFORE the swap keeps getting
    gen-1 answers until expiry reaps it — refit with keep_generations=2
    leaves the old physical tables readable, so long-running queries
    never lose their tables mid-plan."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_versioned,
        ivfpq_refit,
        ivfpq_topk_persisted,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    emb = _emb(spark, sf_dir)
    n = emb.count()
    root = scratch_dir("spark_graft_refit_keep_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    build_ivfpq_versioned(emb.filter(F.col("vec_id") < n // 2), wh, control)
    old_phys, _ = resolve_index_table(control)
    before = (
        ivfpq_topk_persisted(wh, emb, queries, k=5, table=old_phys)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    out = ivfpq_refit(emb, wh, control, keep_generations=2)
    assert out["expired"] == []  # retention kept the old generation
    again = (
        ivfpq_topk_persisted(wh, emb, queries, k=5, table=old_phys)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert before[["query_id", "neighbor_id", "rank"]].values.tolist() == (
        again[["query_id", "neighbor_id", "rank"]].values.tolist()
    )


def test_pq_geometry_auto_adopts_plan_past_trainability(spark, sf_dir):
    """VERDICT r12 #6: with default geometry, a corpus past the
    ≥40×k-per-subspace bound gets plan_pq's pick (m=4, k=256 at dim 64)
    with the fit sample raised to the bound; the small fixture keeps the
    dense PQ_M/PQ_K defaults; explicit arguments are honored verbatim."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        PQ_PLAN_MIN_TRAIN_PER_CODE,
        PQ_SAMPLE,
        _resolve_pq_geometry,
    )

    # fixture-scale corpus (500 vectors): dense defaults
    emb = _emb(spark, sf_dir)
    assert _resolve_pq_geometry(emb, None, None) == (PQ_M, PQ_K, PQ_SAMPLE)
    # explicit geometry: verbatim
    assert _resolve_pq_geometry(emb, 8, 4) == (8, 4, PQ_SAMPLE)

    # large synthetic corpus (deterministic, no RNG): planner geometry
    big = spark.range(11_000).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 63), d -> cast(pmod(xxhash64(id * 64 + d), 1000) - 500 AS float) / 500.0) AS embedding",
    )
    need = PQ_PLAN_MIN_TRAIN_PER_CODE * 256
    m, k, sample = _resolve_pq_geometry(big, None, None)
    assert (m, k) == (4, 256) and sample == max(PQ_SAMPLE, need)


def test_codebook_memo_fit_once_and_identical(spark, sf_dir, monkeypatch):
    """VERDICT r12 #7: repeated builds over the same corpus fit the PQ /
    residual codebooks ONCE — the memo returns bit-identical books from
    the persisted artifact; different corpora (the half-corpus filters of
    the SAME files) get their own fits (ADVICE r12 #2: the fingerprint
    must see content, not just file paths)."""
    import priority_data_pipeline_postgres_db_spark.operators.similarity as sim

    emb = _emb(spark, sf_dir)
    n = emb.count()
    half = emb.filter(F.col("vec_id") < n // 2)
    calls = {"pq": 0, "res": 0}
    real_pq, real_res = sim.fit_pq_codebooks, sim.fit_residual_codebooks

    def spy_pq(*a, **kw):
        calls["pq"] += 1
        return real_pq(*a, **kw)

    def spy_res(*a, **kw):
        calls["res"] += 1
        return real_res(*a, **kw)

    monkeypatch.setattr(sim, "fit_pq_codebooks", spy_pq)
    monkeypatch.setattr(sim, "fit_residual_codebooks", spy_res)
    sim._PQBOOK_ARTIFACTS.clear()

    b1 = sim.pq_codebooks_memo(emb, PQ_M, PQ_K)
    b2 = sim.pq_codebooks_memo(emb, PQ_M, PQ_K)
    assert calls["pq"] == 1 and np.array_equal(b1, b2)
    # a different frame over the SAME files is a different corpus
    bh = sim.pq_codebooks_memo(half, PQ_M, PQ_K)
    assert calls["pq"] == 2 and not np.array_equal(b1, bh)

    cents = sim.ivf_centroids_memo(emb, 8)
    r1 = sim.pq_codebooks_memo(emb, PQ_M, PQ_K, cents=cents)
    r2 = sim.pq_codebooks_memo(emb, PQ_M, PQ_K, cents=cents)
    assert calls["res"] == 1 and np.array_equal(r1, r2)
    # in-memory frame (no inputFiles): memo bypassed, fit runs each time
    mem = spark.createDataFrame(
        [(int(i), [float((i * 7 + d) % 13) - 6.0 for d in range(64)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    sim.pq_codebooks_memo(mem, PQ_M, 4)
    sim.pq_codebooks_memo(mem, PQ_M, 4)
    assert calls["pq"] == 4


def test_append_on_pre_stats_index_still_commits(spark, sf_dir):
    """ADVICE r12 #4: an index built before the stats table existed has
    no drift baseline — the append must still COMMIT its codes and
    report (drift_ratio=inf, baseline_available=False) instead of
    failing after the encode landed."""
    import shutil

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
        pq_append,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_prestats_"))
    build_ivfpq_index(emb.filter(F.col("vec_id") < n // 2), wh)
    build_pq_index(emb.filter(F.col("vec_id") < n // 2), wh)
    # simulate the pre-stats vintage: remove the stats tables outright
    shutil.rmtree(wh._path("ivfpq_index_stats"))
    shutil.rmtree(wh._path("pq_index_stats"))
    b = emb.filter(F.col("vec_id") >= n // 2)
    rep = ivfpq_append(b, wh, batch_id="g1")
    assert rep["postings_written"] > 0
    assert rep["drift_ratio"] == float("inf")
    assert rep["baseline_available"] is False
    rep2 = pq_append(b, wh, batch_id="g1")
    assert rep2["codes_written"] > 0
    assert rep2["baseline_available"] is False
    # the commits really landed: the grown indexes hold both halves
    assert wh.read("pq_index").count() == n


def test_ivfpq_compact_preserves_queries_and_bounds_files(spark, sf_dir):
    """Index maintenance for the append path's small-files problem:
    every ivfpq_append commits one more batch, so a probe opens O(k)
    files per probed label partition after k appends.  ivfpq_compact
    bin-packs the CURRENT generation's postings to ~one file per label
    dir; pins: query results identical pre/post (row-for-row), file
    count strictly reduced, history collapsed to one batch, and appends
    keep working after the rewrite."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_versioned,
        ivfpq_append_current,
        ivfpq_compact,
        ivfpq_topk_current,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    emb = _emb(spark, sf_dir)
    n = emb.count()
    root = scratch_dir("spark_graft_ivfpq_cf_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    build_ivfpq_versioned(emb.filter(F.col("vec_id") < n // 3), wh, control)
    for i, lo, hi in ((1, n // 3, 2 * n // 3), (2, 2 * n // 3, n)):
        ivfpq_append_current(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            wh,
            control,
            batch_id=f"grow-{i}",
        )
    phys, _ = resolve_index_table(control)
    before = (
        ivfpq_topk_current(wh, control, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    rep = ivfpq_compact(wh, control)
    assert rep["physical"] == phys
    assert rep["files_after"] < rep["files_before"]
    assert len(wh.snapshots(phys)) == 1
    after = (
        ivfpq_topk_current(wh, control, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    cols = ["query_id", "neighbor_id", "rank"]
    assert after[cols].values.tolist() == before[cols].values.tolist()
    # the compacted index still accepts appends (frozen quantizers intact)
    out = ivfpq_append_current(
        emb.limit(0), wh, control, batch_id="post-compact"
    )
    assert out["generation"] == rep["generation"]


def test_maintain_index_compacts_past_threshold(spark, sf_dir):
    """The hands-free turn: below the drift bar, maintain_index appends
    and — once the generation's batch history passes compact_after —
    bin-packs the postings in the same turn.  Exactly one heavy action."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_versioned,
        maintain_index,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    emb = _emb(spark, sf_dir)
    n = emb.count()
    root = scratch_dir("spark_graft_maint_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    build_ivfpq_versioned(emb.filter(F.col("vec_id") < n // 2), wh, control)
    phys, _ = resolve_index_table(control)

    step = max((n - n // 2) // 3, 1)
    acts = []
    for i in range(3):
        lo = n // 2 + i * step
        hi = n if i == 2 else n // 2 + (i + 1) * step
        rep = maintain_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            wh,
            control,
            batch_id=f"turn-{i}",
            compact_after=2,
        )
        acts.append(rep["actions"])
        assert rep["generation"] == 1  # fixture corpus never trips drift
    # turns 1..2 ran 1+1=2, then 3 batches > 2 → compact fired exactly when
    # the history passed the bound, and the turn after a compact starts over
    assert acts[0] == [] and "compact" in acts[1] + acts[2]
    assert len(wh.snapshots(phys)) <= 3


def test_maintain_index_refits_on_drift(spark):
    """When the drift instrument fires AND the caller supplies the grown
    corpus, the maintenance turn acts on refit_recommended end-to-end:
    new quantizers, new generation, atomic swap — no compact in the same
    turn (the refit re-encoded everything anyway)."""
    import os

    import numpy as np

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_versioned,
        maintain_index,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    dim, per = 16, 100
    rng = np.random.default_rng(7)
    rows = []
    for c in range(4):
        base = np.zeros(dim)
        base[c] = 1.0
        for i in range(per):
            v = base + rng.normal(0, 0.02, dim)
            rows.append((c * per + i, [float(x) for x in v]))
    train = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    far = np.ones(dim) / np.sqrt(dim)
    drift_rows = [
        (10_000 + i, [float(x) for x in far + rng.normal(0, 0.02, dim)])
        for i in range(per)
    ]
    drifted = spark.createDataFrame(drift_rows, "vec_id long, embedding array<float>")

    root = scratch_dir("spark_graft_maint_refit_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    build_ivfpq_versioned(train, wh, control, k_clusters=4, m=4, k_codes=8)

    rep = maintain_index(
        drifted,
        wh,
        control,
        batch_id="shifted",
        emb_full=train.unionByName(drifted),
        compact_after=0,  # even an eager compact bound must lose to the refit
    )
    assert rep["refit_recommended"], rep
    assert rep["actions"] == ["refit"]
    assert rep["generation"] == 2
    assert resolve_index_table(control) == ("ivfpq_index__g0002", 2)


def test_pq_versioned_lifecycle_and_swap_identity(spark, sf_dir):
    """Plain-PQ twin of the versioned lifecycle: build gen-1 on half the
    corpus, append the rest through the pointer, pq_refit on the full
    corpus — gen-2, atomic swap, gen-1 expired — and the post-swap
    queries answer exactly like a one-shot build on the same corpus
    (deterministic memoized fits)."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_pq_index,
        build_pq_versioned,
        pq_append_current,
        pq_refit,
        pq_topk_current,
        pq_topk_persisted,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    emb = _emb(spark, sf_dir)
    n = emb.count()
    root = scratch_dir("spark_graft_pq_gen_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    build_pq_versioned(emb.filter(F.col("vec_id") < n // 2), wh, control)
    assert resolve_index_table(control, "pq_index") == ("pq_index__g0001", 1)
    rep = pq_append_current(
        emb.filter(F.col("vec_id") >= n // 2), wh, control, batch_id="g1"
    )
    assert rep["generation"] == 1 and rep["codes_written"] > 0

    out = pq_refit(emb, wh, control)
    assert out["generation"] == 2 and out["expired"] == ["pq_index__g0001"]
    assert not wh.exists("pq_index__g0001")
    post = (
        pq_topk_current(wh, control, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert set(post["index_generation"]) == {2}
    wh2 = StagingWarehouse(spark, scratch_dir("spark_graft_pq_gen_oneshot_"))
    build_pq_index(emb, wh2)
    want = (
        pq_topk_persisted(wh2, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    cols = ["query_id", "neighbor_id", "rank"]
    assert post[cols].values.tolist() == want[cols].values.tolist()


def test_maintain_pq_index_compacts_and_refits(spark, sf_dir):
    """maintain_pq_index mirrors the IVFPQ turn contract: bin-pack past
    compact_after on the fixture corpus (drift never fires), and
    refit-and-swap when the drift instrument fires on the clustered
    synthetic with the grown corpus supplied."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_pq_versioned,
        maintain_pq_index,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    emb = _emb(spark, sf_dir)
    n = emb.count()
    root = scratch_dir("spark_graft_pq_maint_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    build_pq_versioned(emb.filter(F.col("vec_id") < n // 2), wh, control)
    phys, _ = resolve_index_table(control, "pq_index")
    step = max((n - n // 2) // 3, 1)
    acts = []
    for i in range(3):
        lo = n // 2 + i * step
        hi = n if i == 2 else n // 2 + (i + 1) * step
        rep = maintain_pq_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            wh,
            control,
            batch_id=f"turn-{i}",
            compact_after=2,
        )
        acts.append(rep["actions"])
        assert rep["generation"] == 1
    assert acts[0] == [] and "compact" in acts[1] + acts[2]
    assert len(wh.snapshots(phys)) <= 3

    # drift branch: clustered synthetic, far-off batch, grown corpus given
    dim, per = 16, 100
    rng = np.random.default_rng(11)
    rows = []
    for c in range(4):
        base = np.zeros(dim)
        base[c] = 1.0
        for i in range(per):
            rows.append(
                (c * per + i, [float(x) for x in base + rng.normal(0, 0.02, dim)])
            )
    train = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    far = np.ones(dim) / np.sqrt(dim)
    drifted = spark.createDataFrame(
        [(9000 + i, [float(x) for x in far + rng.normal(0, 0.02, dim)])
         for i in range(per)],
        "vec_id long, embedding array<float>",
    )
    root2 = scratch_dir("spark_graft_pq_maint_drift_")
    wh2 = StagingWarehouse(spark, root2)
    control2 = ControlStore(os.path.join(root2, "ctl.json"))
    build_pq_versioned(train, wh2, control2, m=4, k_codes=8)
    rep = maintain_pq_index(
        drifted,
        wh2,
        control2,
        batch_id="shifted",
        emb_full=train.unionByName(drifted),
        compact_after=0,
    )
    assert rep["refit_recommended"], rep
    assert rep["actions"] == ["refit"]
    assert resolve_index_table(control2, "pq_index") == ("pq_index__g0002", 2)


def test_pq_compact_preserves_queries_and_bounds_files(spark, sf_dir):
    """The plain-PQ compaction: after k appends through the generation
    pointer, pq_compact bin-packs the CURRENT code table into at most
    ``n_files`` files as one batch, and queries answer row-for-row as
    before the rewrite."""
    import os

    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_pq_versioned,
        pq_append_current,
        pq_compact,
        pq_topk_current,
        resolve_index_table,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )
    from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

    emb = _emb(spark, sf_dir)
    n = emb.count()
    root = scratch_dir("spark_graft_pq_cf_")
    wh = StagingWarehouse(spark, root)
    control = ControlStore(os.path.join(root, "ctl.json"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    build_pq_versioned(emb.filter(F.col("vec_id") < n // 3), wh, control)
    for i, lo, hi in ((1, n // 3, 2 * n // 3), (2, 2 * n // 3, n)):
        pq_append_current(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            wh,
            control,
            batch_id=f"grow-{i}",
        )
    phys, _ = resolve_index_table(control, "pq_index")
    before = (
        pq_topk_current(wh, control, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    rep = pq_compact(wh, control, n_files=2)
    assert rep["physical"] == phys
    assert rep["files_after"] <= 2 < rep["files_before"]
    assert len(wh.snapshots(phys)) == 1
    after = (
        pq_topk_current(wh, control, emb, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    cols = ["query_id", "neighbor_id", "rank"]
    assert after[cols].values.tolist() == before[cols].values.tolist()


def test_append_raises_on_malformed_stats_table(spark, sf_dir):
    """Only a MISSING stats table means "no drift baseline"
    (test_append_on_pre_stats_index_still_commits): a stats table that
    exists but lacks its ``metric`` column is a fault the append must
    surface, not report as baseline_available=False."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        pq_append,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_badstats_"))
    build_pq_index(emb.filter(F.col("vec_id") < n // 2), wh)
    wh.write(
        spark.createDataFrame([(1.0,)], "value double"),
        "pq_index_stats",
        incremental=False,
    )
    with pytest.raises(KeyError):
        pq_append(emb.filter(F.col("vec_id") >= n // 2), wh, batch_id="g1")


def test_append_reads_stats_before_it_commits(spark, sf_dir):
    """An append loads its drift baseline before it writes: a malformed
    stats table fails the call with no batch committed, so the index's
    snapshots are unchanged and a retry with the same ``batch_id`` is
    not swallowed as an already-landed no-op."""
    from priority_data_pipeline_postgres_db_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
        pq_append,
    )
    from priority_data_pipeline_postgres_db_spark.operators.staging import (
        StagingWarehouse,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    wh = StagingWarehouse(spark, scratch_dir("spark_graft_stats_first_"))
    old, new = emb.filter(F.col("vec_id") < n // 2), emb.filter(F.col("vec_id") >= n // 2)
    build_pq_index(old, wh)
    build_ivfpq_index(old, wh)
    bad_stats = spark.createDataFrame([(1.0,)], "value double")
    for table, append in (("pq_index", pq_append), ("ivfpq_index", ivfpq_append)):
        wh.write(bad_stats, f"{table}_stats", incremental=False)
        before = wh.snapshots(table)
        with pytest.raises(KeyError):
            append(new, wh, batch_id="g1")
        assert wh.snapshots(table) == before, table
