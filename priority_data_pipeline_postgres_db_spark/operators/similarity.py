"""Similarity search over embedding columns (BASELINE.json north star).

Two paths:

- **brute-force cosine top-k** — the exact baseline: the (small) query set
  is collected once and broadcast; each corpus partition computes an exact
  int64 block-matmul against it inside an Arrow batch, then a window picks
  top-k per query.  Cost: one pass over the corpus per query batch — the
  right baseline for recall evaluation, and the quantized integer math
  makes every cosine bit-identical to the DuckDB oracle (see
  operators.dedup.QUANT).
- **LSH-bucketed ANN** — random-hyperplane signatures (integer Rademacher-
  style planes derived from the engine-portable md5-60 hash, no RNG
  state), 16 tables × 6 sign bits; candidate generation is an equi-join on
  (table, bucket) so the quadratic term is per-bucket.  The 100 TB path:
  probes × occupancy ≪ n².

The ANN result is approximate w.r.t. the TRUE top-k (recall vs the exact
baseline is asserted in tests) but exactly deterministic for fixed planes
— and because the planes come from md5-60, the DuckDB oracle replays the
whole path (plane lists → sign buckets → bucket join → exact cosine
re-rank) bit-for-bit: even the approximate operator runs under the
hash-match gate.  IVF stays rows-only (float k-means centroids aren't
engine-portable).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..plans.tables import load
from ..util import canonical_plan, memo_count, scratch_dir
from .dedup import QUANT, dot_expr, quantize_expr

N_QUERIES = 10  # vec_id < 10 are the benchmark query vectors
TOP_K = 5

# 24 tables with a CORPUS-ADAPTIVE sign-bit count (r6): expected bucket
# occupancy is n/2^planes, so a fixed plane count that is right at one
# corpus size is wrong at every other — r5's fixed 5 planes measured
# recall 0.898 at sf0.1 (5k vectors, occupancy ~156) but at 10× the
# data every bucket blew past SEM_MAX_BUCKET and the capped pair
# pipeline silently found ZERO pairs (caught by the r6 stress run).
# ``n_planes_for`` holds occupancy at ~TARGET_OCCUPANCY by pure integer
# math (mirrored exactly in the oracle's ``np`` CTE), so the cap stays a
# hot-bucket outlier guard instead of a recall cliff.  sf0.1 still lands
# on 5 planes, keeping the r5 recall measurements valid.  The honest
# trade: per-table collision at the SEM_THRESHOLD boundary is
# p_agree^planes (p_agree = 1-θ/π ≈ 0.614 at cosine 0.35), so recall at
# FIXED tables decays as planes grow — tables must scale like
# ln(1-R)/ln(1-p_agree^planes) to hold recall R; the in-band harness
# (sim_srp_recall_report / _curve) measures exactly that number per
# corpus, which is the instrument to tune N_TABLES with.
N_TABLES = 24
TARGET_OCCUPANCY = 160  # expected rows per (table, bucket) the planes aim at


def n_planes_for(n: int) -> int:
    """Sign bits so that ceil(n / TARGET_OCCUPANCY) ≤ 2^planes: the
    smallest plane count holding expected bucket occupancy at or under
    target.  Pure integer math (bit_length), mirrored bit-for-bit by the
    oracle's ``np`` CTE; clamped to [1, 30] (≥1 so both engines always
    emit bucket rows; ≤30 so packed bucket ids fit int32 — 30 planes
    covers ~1.7e11 vectors at the default target)."""
    ceil_div = (n + TARGET_OCCUPANCY - 1) // TARGET_OCCUPANCY
    return min(max((ceil_div - 1).bit_length(), 1), 30)


def probe_k_for(n_planes: int) -> int:
    """Margin-directed multi-probe width for the semantic-pair family
    (r7).  ``n_planes_for`` holds bucket OCCUPANCY at any corpus size,
    but per-table boundary-pair collision decays as p_agree^planes
    (p_agree = 1 - acos(θ)/π ≈ 0.614 at the 0.35 threshold), so with
    N_TABLES fixed, recall falls off a cliff as planes grow — measured
    0.98 at 4 planes but 0.69 at 7 (STRESS r7).  Scaling tables instead
    is exponential in planes (69 tables at 7, 185 at 9 — dead at 100 TB).

    The scalable fix is multi-probe LSH (Lv et al., VLDB'07): also join
    each vector's K most-marginal single-bit flips — the sign bits with
    the smallest |dot|, i.e. the ones a true neighbor most likely
    disagrees on — against home buckets.  Fan-out is 1+K per table
    (independent of planes), memory stays one home bucket per (vector,
    table), and because the plane dots are exact int64 the flip choice
    replays bit-for-bit in the DuckDB oracle (ORDER BY abs(dot), p).

    K is a COST dial as much as a recall dial: candidate volume (hence
    verify + dedup-shuffle work) scales with (1+K)·occupancy, and the
    r7 stress run showed the first cut of this law (K=4/6) overshot —
    0.998 recall at 10× while the pair family paid ~80× ratios.  The
    law below sits at the measured knee of the in-band recall sweep
    (srp_recall_report over the stress corpora): K=2 at 5-8 planes
    (0.985 at 10×/7 planes vs 0.998 at K=4, for 3/5 the candidates),
    K=4 at 9+ (0.886 at 30×/9 planes vs 0.904 at K=6, for 5/7) — both
    comfortably above the pinned 0.8 floor (tests/test_stress_floor.py).
    K=0 through 4 planes — 24 tables alone hold ≥0.97 there,
    so gate-scale (sf0.01/sf0.1) plans and results are UNCHANGED.

    MEASURED saturation boundary (r8, STRESS_x100_r8): single-bit
    probing holds the 0.8 PAIR-recall floor through 9 planes (0.886 at
    30×/60k vectors) but reads 0.599 at 11 planes/200k vectors — a
    threshold-boundary pair differing in two marginal bits of every
    table is unreachable by one-bit flips, and that population
    dominates as 2^planes grows.  The supported envelope is therefore
    planes ≤ 9 (≾160k vectors per corpus at the default occupancy),
    pinned in tests/test_stress_floor.py; larger corpora at TIGHT
    thresholds (≥~0.9, the duplicate regime) hand off to the IVF cell
    path (``semantic_pairs_cells`` — measured 0.976 tight-pair recall
    at 200k vectors, corpus-size-independent constant), while LOOSE
    thresholds past the envelope must shard the corpus or raise the
    threshold: a cosine-0.4 pair is ~66° apart and co-locates in no
    angular structure (cells read 0.106 there — measured, not assumed;
    ``cell_recall_report``).  kNN top-k recall is NOT bound by this
    (1.0 measured at 100×): its targets sit far inside the threshold
    where single-bit flips still reach.  Mirrored exactly by the
    oracle's ``pk`` CASE."""
    if n_planes <= 4:
        return 0
    if n_planes <= 8:
        return 2
    return 4


# the measured single-bit multi-probe envelope for PAIR recall (see
# probe_k_for docstring and tests/test_stress_floor.py)
SRP_PAIR_MAX_PLANES = 9


def _warn_if_past_pair_envelope(n_planes: int) -> None:
    """Loud, not silent: the pair family's recall floor is only
    measured/pinned through SRP_PAIR_MAX_PLANES (0.886 at 9 planes;
    0.599 at 11 — STRESS_x100_r8).  Callers past the envelope should
    route semantic dedup through the IVF cell path or shard the
    corpus."""
    if n_planes > SRP_PAIR_MAX_PLANES:
        import logging

        logging.getLogger(__name__).warning(
            "SRP pair pipeline at %d planes is past the measured "
            "single-bit multi-probe envelope (<=%d planes holds the 0.8 "
            "recall floor; 0.599 measured at 11 planes) — use the "
            "IVF/k-means cell path for semantic dedup at this corpus "
            "size, or shard the corpus",
            n_planes,
            SRP_PAIR_MAX_PLANES,
        )


def probe_bucket_ids_udf(dim: int, n_planes: int, k: int):
    """pandas UDF: quantized vector → flattened array of N_TABLES·(1+k)
    bucket ids: for each table its home bucket followed by the k
    lowest-|margin| single-bit flips (ties broken by plane index —
    stable argsort, the exact twin of the oracle's ORDER BY abs(dot), p)."""
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _hyperplane_matrix(dim, n_planes)  # (tables*planes, dim) int64
    weights = (1 << np.arange(n_planes, dtype=np.int64))[None, None, :]

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _pbuckets(qs: pd.Series) -> pd.Series:
        mat = np.stack(qs.map(lambda v: np.asarray(v, dtype=np.int64)))
        dots = (mat @ planes.T).reshape(len(mat), N_TABLES, n_planes)
        home = ((dots > 0) * weights).sum(axis=2).astype(np.int32)  # (n, T)
        # k most-marginal plane indices per (row, table); kind="stable"
        # breaks |dot| ties by ascending plane index, matching the SQL
        order = np.argsort(np.abs(dots), axis=2, kind="stable")[:, :, :k]
        probes = home[:, :, None] ^ (np.int32(1) << order.astype(np.int32))
        out = np.concatenate([home[:, :, None], probes], axis=2)
        return pd.Series(list(out.reshape(len(mat), -1)))

    return _pbuckets


def _srp_probed(emb: DataFrame, dim: int, n_planes: int, k: int) -> DataFrame:
    """(vec_id, table_id, slot, bucket) rows — slot 0 is the home bucket,
    slots 1..k the margin-directed probe buckets.

    The output is REPARTITIONED to the session's shuffle width: every
    downstream bucket join broadcasts its (small) home side, so the join
    — and the Arrow verify fused into its stage — would otherwise run in
    the SCAN's partitioning (3 parquet parts at 10× stress = 3 of 32
    cores doing 100% of the candidate work; the r8 profile found the
    whole family serialized behind exactly this).  The shuffle moved is
    the (1+k)·tables bucket rows — thousands of times smaller than the
    join output it parallelizes."""
    fan = 1 + k
    pb = probe_bucket_ids_udf(dim, n_planes, k)
    n_shuffle = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        emb.select("vec_id", quantize_expr().alias("q"))
        .withColumn("pb", pb(F.col("q")))
        .select("vec_id", F.posexplode("pb").alias("idx", "bucket"))
        .select(
            "vec_id",
            F.expr(f"idx div {fan}").cast("int").alias("table_id"),
            (F.col("idx") % fan).alias("slot"),
            "bucket",
        )
        .repartition(n_shuffle)
    )

# cap on residue×corpus cosine scores the kNN full-coverage pass will
# accept before refusing (see ann_knn_join)
_MAX_RESIDUE_WORK = 1_000_000_000


#: (canonical plan, files, mtimes) -> (ids, mat, norms).  The broadcast
#: verify and the query-side kNN kernels re-collect the SAME quantized
#: matrix for every shard round / reshard salt of one entry invocation
#: (the candidate stream differs per round; the matrix never does) —
#: measured 0.6 s per collect at sf0.1, x rounds x entries.  Keyed like
#: memo_count: a deterministic plan over unchanged files reproduces the
#: same matrix, derived/in-memory frames bypass.  Bounded small: each
#: entry holds an O(corpus) matrix.
_QUANTIZED_MEMO: dict[tuple, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}


def _collect_quantized(emb: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    from ..util import _plan_count_key

    key = _plan_count_key(emb)
    if key is not None and key in _QUANTIZED_MEMO:
        return _QUANTIZED_MEMO[key]
    pdf = emb.select("vec_id", quantize_expr().alias("q")).toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    if len(ids) == 0:  # np.stack rejects an empty sequence
        mat = np.empty((0, 1), dtype=np.int64)
        out = (ids, mat, (mat * mat).sum(axis=1))
    else:
        mat = np.stack(pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64)))
        out = (ids, mat, (mat * mat).sum(axis=1))
    if key is not None:
        if len(_QUANTIZED_MEMO) >= 4:
            _QUANTIZED_MEMO.pop(next(iter(_QUANTIZED_MEMO)))
        _QUANTIZED_MEMO[key] = out
    return out


_SCORED_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self).

    Query set broadcasts; the corpus scan stays partitioned and each Arrow
    batch contributes a block-matmul of scores. Ranking is total
    (cosine desc, vec_id asc) so results are deterministic.
    """
    spark = emb.sparkSession
    q_ids, q_mat, q_norms = _collect_quantized(queries)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    def score(it):
        ids_q, mat_q, norms_q = bc.value
        sqrt_q = np.sqrt(norms_q.astype(np.float64))
        for pdf in it:
            if len(pdf) == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.stack(pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64)))
            c_norms = (c_mat * c_mat).sum(axis=1)
            # zero-norm corpus rows have UNDEFINED cosine (0/0 → NaN) and
            # can never be a meaningful neighbor — and worse, np.partition
            # sorts NaN ABOVE every finite value, so ≥k NaN rows in one
            # batch would poison the local threshold and silently drop the
            # batch's real candidates (review r5).  Drop them up front.
            valid = c_norms > 0
            if not valid.all():
                c_ids, c_mat, c_norms = c_ids[valid], c_mat[valid], c_norms[valid]
            if len(c_ids) == 0:
                continue
            dots = c_mat @ mat_q.T  # exact int64
            cos = dots / (np.sqrt(c_norms.astype(np.float64))[:, None] * sqrt_q[None, :])
            cos[c_ids[:, None] == ids_q[None, :]] = -np.inf  # exclude self
            # BATCH-LOCAL top-k before anything leaves the worker: the
            # global top-k equals the top-k of the union of per-batch
            # top-ks, so the downstream window ranks ≤ ~k·n_batches rows
            # per query instead of corpus rows per query.  Without this,
            # a LARGE query set (the kNN residue pass, a recall sweep)
            # shuffles |corpus|×|queries| rows into the rank exchange —
            # the hang the 10× stress caught.  Tie safety: keep EVERY row
            # at or above the kth-largest cosine (not an arbitrary k-row
            # subset), so boundary ties survive for the global window's
            # (cosine desc, vec_id asc) tie-break — results stay
            # bit-identical to the unpruned plan.
            n_rows = cos.shape[0]
            kk = min(k, n_rows)
            thresh = np.partition(cos, n_rows - kk, axis=0)[n_rows - kk, :]
            mask = (cos >= thresh[None, :]) & np.isfinite(cos)
            ci, qi = np.nonzero(mask)
            yield pd.DataFrame(
                {"query_id": ids_q[qi], "vec_id": c_ids[ci], "cosine": cos[ci, qi]}
            )

    scored = emb.select("vec_id", quantize_expr().alias("q")).mapInPandas(score, _SCORED_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K)


# ---------------------------------------------------------------------------
# LSH ANN
# ---------------------------------------------------------------------------


def _hyperplane_matrix(dim: int, n_planes: int) -> np.ndarray:
    """(N_TABLES*n_planes, dim) deterministic pseudo-random integer planes.

    Coefficients derive from the engine-portable md5-60 contract
    (int(md5("t_p_i")[:15], 16) — the same hash every LSH family uses), so
    the WHOLE ANN path is expressible in the DuckDB oracle: this operator
    is approximate with respect to the true top-k, but exactly
    deterministic for fixed planes, and the oracle replays it bit-for-bit
    (plane lists → list_dot_product signs → bucket join → exact cosine
    re-rank)."""
    import hashlib

    planes = np.empty((N_TABLES * n_planes, dim), dtype=np.int64)
    for t in range(N_TABLES):
        for p in range(n_planes):
            for i in range(dim):
                h = int(hashlib.md5(f"{t}_{p}_{i}".encode()).hexdigest()[:15], 16)
                planes[t * n_planes + p, i] = (h % 2001) - 1000
    return planes


def bucket_ids_udf(dim: int, n_planes: int):
    """pandas UDF: quantized vector → N_TABLES bucket ids (sign bits of the
    hyperplane dots, packed per table). One numpy matmul per batch instead
    of tables×planes interpreted aggregate expressions."""
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _hyperplane_matrix(dim, n_planes)  # (tables*planes, dim) int64
    weights = (1 << np.arange(n_planes, dtype=np.int64))[None, :]

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _buckets(qs: pd.Series) -> pd.Series:
        mat = np.stack(qs.map(lambda v: np.asarray(v, dtype=np.int64)))
        signs = (mat @ planes.T) > 0  # (n, tables*planes) — exact int64 dots
        signs = signs.reshape(len(mat), N_TABLES, n_planes)
        buckets = (signs * weights[None, :, :]).sum(axis=2).astype(np.int32)
        return pd.Series(list(buckets))

    return _buckets


def ann_lsh_topk(emb: DataFrame, queries: DataFrame, dim: int, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 of the
    N_TABLES hash tables; exact cosine + window top-k over candidates only.

    Scale: the corpus is hashed once (narrow pandas-UDF pass), candidates
    come from an equi-join on (table_id, bucket) — no cross product. Recall
    grows with N_TABLES; cost with bucket occupancy, not corpus size (the
    plane count adapts to the corpus, see ``n_planes_for``)."""
    n_planes = n_planes_for(memo_count(emb))
    kp = probe_k_for(n_planes)
    buckets = bucket_ids_udf(dim, n_planes)

    n_shuffle = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    # Per-candidate cost discipline (guide §1.2/§2.3): the self-dot is
    # computed ONCE per vector before the bucket explode — the previous
    # shape re-evaluated the interpreted higher-order dot_expr 4x per
    # CANDIDATE row (two in the zero-norm filter, two in the cosine
    # denominator).  Zero-norm rows (undefined cosine, excluded by the
    # oracle's norm2 > 0 filter either way) drop BEFORE the join instead
    # of after the dedup — same surviving pairs, fewer hashed/joined rows.
    def with_buckets(df: DataFrame, id_out: str) -> DataFrame:
        # spread before the UDF (the _srp_bucketed discipline): the
        # corpus side otherwise hashes on the scan's few partitions
        q = (
            df.repartition(n_shuffle)
            .select(F.col("vec_id").alias(id_out), quantize_expr().alias("q"))
            .withColumn("n2", dot_expr(F.col("q"), F.col("q")))
            .filter(F.col("n2") > 0)
            .withColumn("buckets", buckets(F.col("q")))
        )
        return q.select(
            id_out, "q", "n2", F.posexplode("buckets").alias("table_id", "bucket")
        )

    def with_probed_buckets(df: DataFrame, id_out: str) -> DataFrame:
        # query-side margin-directed probing (see probe_k_for): home
        # bucket + kp most-marginal flips per table
        fan = 1 + kp
        pb = probe_bucket_ids_udf(dim, n_planes, kp)
        q = (
            df.select(F.col("vec_id").alias(id_out), quantize_expr().alias("q"))
            .withColumn("n2", dot_expr(F.col("q"), F.col("q")))
            .filter(F.col("n2") > 0)
            .withColumn("pb", pb(F.col("q")))
        )
        return q.select(
            id_out, "q", "n2", F.posexplode("pb").alias("idx", "bucket")
        ).select(
            id_out,
            "q",
            "n2",
            F.expr(f"idx div {fan}").cast("int").alias("table_id"),
            "bucket",
        )

    c = with_buckets(emb, "vec_id").withColumnsRenamed({"q": "cq", "n2": "cn2"})
    qside = with_probed_buckets if kp else with_buckets
    qb = qside(queries, "query_id").withColumnsRenamed({"q": "qq", "n2": "qn2"})
    cand = c.join(F.broadcast(qb), ["table_id", "bucket"]).filter(
        F.col("vec_id") != F.col("query_id")
    )

    # exact cosine on the candidate stream (same integer kernel as dedup;
    # same operation order: int64 dot -> cast double -> sqrt product).
    # Scoring BEFORE the per-pair dedup keeps the dedup exchange to three
    # scalar columns instead of two dim-length arrays per row — cosine is
    # a pure function of the pair, so whichever duplicate row survives
    # carries the identical value.
    cos = dot_expr(F.col("qq"), F.col("cq")) / (
        F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", cos.alias("cosine"))
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return ann_lsh_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), dim, k=TOP_K)


def ann_knn_join(
    emb: DataFrame,
    dim: int,
    k: int = TOP_K,
    max_bucket: int = 256,
    full_coverage: bool = False,
    max_residue: int = 100_000,
) -> DataFrame:
    """Corpus-wide ANN k-NN JOIN: every vector gets its approximate
    top-``k`` neighbors — the curation workhorse behind density
    estimation, outlier pruning, and diversity sampling (the query-set
    top-k answers "what matches THIS probe"; the kNN join profiles the
    WHOLE corpus).

    Scale shape: candidates are SRP-bucket co-occupants (directed pairs
    from the capped bucket self-join — work ∝ tables × occupancy², never
    corpus²), then the exact integer-cosine verify and a per-vector
    top-k window.  Deterministic end-to-end (md5-60 planes, int dots,
    total rank order), so the full join sits under the DuckDB hash gate.

    ``full_coverage=True`` (VERDICT r4 #4) closes the isolated-vector
    hole: vectors whose every bucket was pruned (or had no co-occupant)
    get their top-k from the exact broadcast kernel (``cosine_topk``)
    over the residue set — exact answers, so coverage is total.  The
    residue is anti-join-derived and must be SMALL (its cost is residue
    × corpus); the pass counts it first, logs the size, and refuses
    above ``max_residue`` — a large residue means the SRP config is
    wrong for the corpus (raise N_TABLES, or max_bucket), not that more
    brute force is the answer.  Default stays approximate-only so the
    registry entry's oracle is unchanged.
    """
    n_corpus = memo_count(emb)  # sizes the planes AND the residue work guard
    n_planes = n_planes_for(n_corpus)
    kp = probe_k_for(n_planes)
    if kp == 0:
        hashed = _cap_buckets(_srp_bucketed(emb, dim, n_planes), max_bucket)
        a = hashed.select(F.col("vec_id").alias("vec_id_a"), "table_id", "bucket")
    else:
        # margin-directed probing on the QUERY role of the directed pair
        # (see probe_k_for): each vector's 1+kp buckets join the others'
        # home buckets, so recall holds as planes grow
        from ..util import bounded_cache

        allb = bounded_cache(_srp_probed(emb, dim, n_planes, kp))
        hashed = _cap_buckets(allb.filter(F.col("slot") == 0).drop("slot"), max_bucket)
        surv = hashed.select("vec_id", "table_id")
        a = (
            allb.drop("slot")
            .join(surv, ["vec_id", "table_id"])
            .select(F.col("vec_id").alias("vec_id_a"), "table_id", "bucket")
        )
    b = hashed.select(F.col("vec_id").alias("vec_id_b"), "table_id", "bucket")
    # RAW directed candidate stream — deliberately NOT distinct'd here:
    # below _INLINE_VERIFY_MAX the broadcast Arrow verify scores the raw
    # stream map-side with a batch-local per-query top-k pre-reduction
    # (threshold selection keeps boundary ties, so the global top-k of
    # the deduped union equals the unpruned top-k — the cosine_topk
    # argument), and only the ~k·n survivors pay the dedup exchange.
    # The r7 shape (distinct 174M candidate rows FIRST, then a join
    # verify) paid the operator's dominant 152 s exchange before any
    # row could be pruned; results are identical (see
    # _verify_pairs_broadcast), so the oracle is unchanged.
    raw = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("vec_id_a") != F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
    )
    cand = None
    if n_corpus <= _INLINE_VERIFY_MAX:
        scored = _verify_pairs_broadcast(
            raw, emb, threshold=-2.0, topk=k
        ).dropDuplicates(["vec_id_a", "vec_id_b"])
    else:
        cand = raw.distinct()
        if full_coverage:
            # the distinct candidate set (the legacy path's dominant
            # exchange) is consumed by the approx scoring AND the
            # coverage anti-join — materialize once (review r5)
            from ..util import bounded_cache

            cand = bounded_cache(cand)
        scored = _verify_pairs(cand, emb, threshold=-2.0)
    w = Window.partitionBy("vec_id_a").orderBy(F.desc("cosine"), F.asc("vec_id_b"))
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("vec_id_a").alias("vec_id"),
            F.col("vec_id_b").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )
    if not full_coverage:
        return approx
    # coverage is defined on the CANDIDATE set (oracle: NOT IN cand),
    # not the verified set — they differ only for zero-norm vectors,
    # whose rows the verify drops.  Distinct on the single query-id
    # column partial-aggregates map-side to ~n rows per task, so this
    # second pass over the (input-cached) bucket join is a scan, not an
    # exchange.
    covered = (cand if cand is not None else raw).select(
        F.col("vec_id_a").alias("vec_id")
    ).distinct()
    residue = emb.join(covered, "vec_id", "left_anti")
    n_residue = residue.count()  # bounded: one scalar to the driver
    if n_residue == 0:
        return approx
    # guard the PRODUCT, not just the residue row count: the exact pass
    # scores residue × corpus cosines, so 20k isolated vectors against a
    # 200k corpus (the 10× stress shape when occupancy outgrows the
    # bucket cap) is already 4e9 scores — a mistuned SRP config must
    # refuse loudly, not grind
    if n_residue > max_residue or n_residue * n_corpus > _MAX_RESIDUE_WORK:
        from .dedup import QuadraticScaleError

        raise QuadraticScaleError(
            f"ann_knn_join full-coverage residue is {n_residue} vectors "
            f"against a {n_corpus}-vector corpus (caps: max_residue="
            f"{max_residue}, work {_MAX_RESIDUE_WORK:.0e}); the exact pass "
            "costs residue × corpus — fix the SRP config (raise N_TABLES, "
            "or TARGET_OCCUPANCY/max_bucket so fewer buckets get pruned) "
            "instead of brute-forcing this much"
        )
    import logging

    logging.getLogger(__name__).info(
        "ann_knn_join full-coverage residue: %d isolated vectors", n_residue
    )
    exact = cosine_topk(emb, residue, k=k).select(
        F.col("query_id").alias("vec_id"), "neighbor_id", "cosine", "rank"
    )
    return approx.unionByName(exact)


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return ann_knn_join(emb, dim, k=TOP_K)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

SEM_THRESHOLD = 0.35  # same cosine bar as operators.dedup.embedding_near_dup
SEM_MAX_BUCKET = 256  # hot-bucket cap, same discipline as minhash/ngram


def _srp_bucketed(emb: DataFrame, dim: int, n_planes: int) -> DataFrame:
    """(vec_id, table_id, bucket) rows from the deterministic SRP
    quantizer — one narrow Arrow pass over the corpus.  ``n_planes`` is
    explicit because the RIGHT count depends on the corpus the buckets
    will be compared across (callers bucketing a sample or an
    old/new split must pass the planes of the FULL corpus, or their
    buckets are incomparable / mis-tuned)."""
    buckets = bucket_ids_udf(dim, n_planes)
    # spread BEFORE the UDF: a small-file corpus scan arrives in a few
    # partitions and the quantize+matmul pass would run on that many
    # cores (the minhash_bands discipline; the probed twin _srp_probed
    # repartitions after the explode for its join consumers)
    n_shuffle = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        emb.repartition(n_shuffle)
        .select("vec_id", quantize_expr().alias("q"))
        .withColumn("buckets", buckets(F.col("q")))
        .select("vec_id", F.posexplode("buckets").alias("table_id", "bucket"))
    )


def _cap_buckets(hashed: DataFrame, max_bucket: int) -> DataFrame:
    """Drop oversized (table, bucket) groups (the LSH hot-bucket cap) and
    cache — the candidate self-join consumes the result on BOTH sides,
    and without the barrier each side re-runs the SRP UDF pass."""
    from ..util import bounded_cache

    wb = Window.partitionBy("table_id", "bucket")
    return bounded_cache(
        hashed.withColumn("_bn", F.count("*").over(wb))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


_VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("vec_id_a", T.LongType()),
        T.StructField("vec_id_b", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def _verify_pairs(cand: DataFrame, emb: DataFrame, threshold: float) -> DataFrame:
    """Exact integer-cosine verify over (vec_id_a, vec_id_b) candidates:
    the candidate exchange carries only ids; the two vectors are fetched
    by key afterwards.  Shared by the full and incremental paths so the
    pinned identity between them can't drift.

    The per-pair cosine runs as an Arrow batch (int64 dots are exact;
    the double division uses the SAME operation order as the SQL form —
    ``dot / (sqrt(na) * sqrt(nb))`` — so results stay bit-identical to
    the DuckDB oracle, the property the blocked exact kernel already
    pins).  The previous higher-order-function expression was the slow
    interpreted path: ~6× wall on a 500k-candidate verify."""
    n = emb.select("vec_id", quantize_expr().alias("q")).withColumn(
        "norm2", dot_expr(F.col("q"), F.col("q"))
    )
    joined = cand.join(
        n.select(
            F.col("vec_id").alias("vec_id_a"),
            F.col("q").alias("qa"),
            F.col("norm2").alias("na"),
        ),
        "vec_id_a",
    ).join(
        n.select(
            F.col("vec_id").alias("vec_id_b"),
            F.col("q").alias("qb"),
            F.col("norm2").alias("nb"),
        ),
        "vec_id_b",
    )

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            qa = np.stack(pdf["qa"].map(lambda v: np.asarray(v, dtype=np.int64)))
            qb = np.stack(pdf["qb"].map(lambda v: np.asarray(v, dtype=np.int64)))
            dots = (qa * qb).sum(axis=1)  # exact int64 per-row dot
            cos = dots / (
                np.sqrt(pdf["na"].to_numpy(dtype=np.float64))
                * np.sqrt(pdf["nb"].to_numpy(dtype=np.float64))
            )
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "vec_id_a": pdf["vec_id_a"].to_numpy(dtype=np.int64)[keep],
                    "vec_id_b": pdf["vec_id_b"].to_numpy(dtype=np.int64)[keep],
                    "cosine": cos[keep],
                }
            )

    return joined.mapInPandas(score, _VERIFY_SCHEMA)


# Ceiling (in corpus vectors) under which the pair/kNN verify runs as a
# BROADCAST Arrow kernel over the RAW (pre-distinct) candidate stream
# (r8, VERDICT r7 #1).  The r7 profile at 10× stress showed the cost
# constant was never the bucket join (2.9 s) or even the verify (46 s)
# but the dropDuplicates over the 174M-row candidate stream (152 s):
# candidates are ~(fan·tables·occupancy)·n rows — linear in n but with a
# big constant — while verified SURVIVORS are ~0.5% of them, so
# thresholding BEFORE the dedup shuffle moves the exchange from 174M
# rows to 800k.  The verify itself needs no join: at ≤ this many
# vectors the quantized matrix (n × dim × 8 B ≈ 128 MB at the cap) rides
# an explicit broadcast and each Arrow batch gathers both sides by
# searchsorted — zero shuffles between the bucket join and the
# survivor dedup.  Above the cap (multi-million-vector per-job corpora)
# the broadcast stops being a sane executor payload and the legacy
# shape runs: distinct candidates first, then the per-key join verify —
# the right trade at that scale because the distinct then REDUCES the
# join input.  Candidate SETS are identical either way, so results,
# oracles, and the r7-measured recall are all unchanged.
_INLINE_VERIFY_MAX = 250_000


def _verify_pairs_broadcast(
    cand: DataFrame,
    emb: DataFrame,
    threshold: float,
    topk: int | None = None,
) -> DataFrame:
    """Exact integer-cosine verify of a (vec_id_a, vec_id_b) candidate
    stream against a BROADCAST quantized-vector matrix — the inline twin
    of :func:`_verify_pairs` (same dots, same operation order, so the
    cosines are bit-identical; see ``_INLINE_VERIFY_MAX`` for when each
    shape runs).  The stream may carry DUPLICATE pairs: callers dedupe
    the (tiny) surviving output instead of the (huge) input.

    ``topk``: per-``vec_id_a`` batch-local top-k pre-reduction for the
    kNN join — within each Arrow batch, duplicates are dropped FIRST
    (a duplicated neighbor would otherwise inflate the kth-statistic and
    evict a true top-k row), then every row at or above the group's
    kth-largest cosine is kept (threshold selection keeps boundary ties,
    the ``cosine_topk`` discipline), so the global top-k of the deduped
    union is exactly the unpruned top-k.

    Exactness of the float64 dot: quantized components are ≤ QUANT, so
    every product ≤ QUANT² and every partial sum ≤ dim·QUANT² — all
    integers below 2^53 by the QUANT sizing (dedup.py), hence exact in
    float64 (same argument as the SQL kernel's double accumulation)."""
    spark = emb.sparkSession
    ids, mat, norms = _collect_quantized(emb)
    if len(ids) == 0:
        # an empty corpus has an empty pair set (np.stack chokes on an
        # empty gather downstream)
        return spark.createDataFrame([], _VERIFY_SCHEMA)
    order = np.argsort(ids)
    ids, norms = ids[order], norms[order]
    if mat.shape[1] * QUANT * QUANT < 2**53:
        mat = mat[order].astype(np.float64)  # exact (docstring), SIMD-fast
    else:
        mat = mat[order]  # exotic dims: stay int64-exact
    sqrts = np.sqrt(norms.astype(np.float64))
    bc = spark.sparkContext.broadcast((ids, mat, norms, sqrts))

    def score(it):
        ids_s, mat_s, n2_s, sq_s = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            a = pdf["vec_id_a"].to_numpy(dtype=np.int64)
            b = pdf["vec_id_b"].to_numpy(dtype=np.int64)
            ia = np.searchsorted(ids_s, a)
            ib = np.searchsorted(ids_s, b)
            # zero-norm vectors have UNDEFINED cosine — drop before the
            # division (the oracle's norm2 > 0 filter)
            ok = (n2_s[ia] > 0) & (n2_s[ib] > 0)
            if not ok.all():
                a, b, ia, ib = a[ok], b[ok], ia[ok], ib[ok]
            if len(a) == 0:
                continue
            dots = np.einsum("ij,ij->i", mat_s[ia], mat_s[ib])
            cos = np.asarray(dots, dtype=np.float64) / (sq_s[ia] * sq_s[ib])
            keep = cos >= threshold
            a, b, cos = a[keep], b[keep], cos[keep]
            if topk is not None and len(a):
                # batch-local dedupe, then per-group kth-statistic cut
                o = np.lexsort((b, a))
                a, b, cos = a[o], b[o], cos[o]
                uniq = np.ones(len(a), dtype=bool)
                uniq[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
                a, b, cos = a[uniq], b[uniq], cos[uniq]
                o = np.lexsort((-cos, a))
                a, b, cos = a[o], b[o], cos[o]
                starts = np.flatnonzero(np.r_[True, a[1:] != a[:-1]])
                counts = np.diff(np.r_[starts, len(a)])
                kth = np.repeat(cos[starts + np.minimum(counts, topk) - 1], counts)
                sel = cos >= kth
                a, b, cos = a[sel], b[sel], cos[sel]
            yield pd.DataFrame({"vec_id_a": a, "vec_id_b": b, "cosine": cos})

    return cand.mapInPandas(score, _VERIFY_SCHEMA)


def _verified_pairs_auto(cand_raw: DataFrame, emb: DataFrame, threshold: float,
                         n_corpus: int) -> DataFrame:
    """Verify a RAW (duplicated) undirected candidate stream and return
    the DISTINCT verified pairs — inline-broadcast below
    ``_INLINE_VERIFY_MAX``, legacy distinct-then-join above it."""
    if n_corpus <= _INLINE_VERIFY_MAX:
        return _verify_pairs_broadcast(cand_raw, emb, threshold).dropDuplicates(
            ["vec_id_a", "vec_id_b"]
        )
    return _verify_pairs(
        cand_raw.dropDuplicates(["vec_id_a", "vec_id_b"]), emb, threshold
    )


def semantic_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = SEM_THRESHOLD,
    max_bucket: int = SEM_MAX_BUCKET,
    n_planes: int | None = None,
) -> DataFrame:
    """Semantic near-dup candidate pairs: same SRP bucket in ≥1 of the
    N_TABLES hash tables, then EXACT integer-cosine verify ≥ threshold.

    This is the SemDeDup recipe (cluster the embedding space, compare
    only within clusters) with the deterministic md5-60 SRP quantizer
    standing in for k-means, so the whole path replays in the DuckDB
    oracle.  Scale: the corpus is hashed in one narrow Arrow pass; the
    quadratic term is per-(table, bucket) and capped at ``max_bucket`` —
    a hot-bucket OUTLIER guard, not the occupancy control: the plane
    count adapts to the corpus (``n_planes_for``) so typical occupancy
    stays ~TARGET_OCCUPANCY at any scale and the cap only trims true
    pile-ups.  ``n_planes`` overrides for callers bucketing a sample of
    a larger corpus (the recall harness)."""
    n_corpus = memo_count(emb)
    if n_planes is None:
        n_planes = n_planes_for(n_corpus)
    _warn_if_past_pair_envelope(n_planes)
    k = probe_k_for(n_planes)
    if k == 0:
        # ≤4 planes: 24 tables alone hold recall; same candidates as r6
        capped = _cap_buckets(_srp_bucketed(emb, dim, n_planes), max_bucket)
        a, b = capped.alias("a"), capped.alias("b")
        raw = a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        return _verified_pairs_auto(raw, emb, threshold, n_corpus)
    # ≥5 planes: margin-directed multi-probe (see probe_k_for).  Home
    # buckets keep the occupancy cap exactly as before (the cap counts
    # HOME rows only); the probe side joins every cap-surviving vector's
    # 1+k buckets against home buckets in both orientations
    # (LEAST/GREATEST + survivor dedupe), so a pair is found when EITHER
    # member probes the other's home bucket.
    from ..util import bounded_cache

    allb = bounded_cache(_srp_probed(emb, dim, n_planes, k))
    home = allb.filter(F.col("slot") == 0).drop("slot")
    capped = _cap_buckets(home, max_bucket)
    surv = capped.select("vec_id", "table_id")
    a = allb.drop("slot").join(surv, ["vec_id", "table_id"]).alias("a")
    b = capped.alias("b")
    raw = a.join(
        b,
        (F.col("a.table_id") == F.col("b.table_id"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_a"),
        F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_b"),
    )
    return _verified_pairs_auto(raw, emb, threshold, n_corpus)


def incremental_semantic_pairs(
    old_emb: DataFrame,
    new_emb: DataFrame,
    dim: int,
    threshold: float = SEM_THRESHOLD,
    max_bucket: int = SEM_MAX_BUCKET,
    n_planes: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: verified pairs that INVOLVE a
    new-batch vector — (new, old) and (new, new) — without materializing
    the old×old join.  The embedding twin of
    ``dedup.incremental_minhash_pairs``: per batch, candidate work tracks
    |new| × bucket occupancy, not |corpus|².

    Bucket caps are judged over the UNION of both sides, so the result
    is EXACTLY the full ``semantic_pairs`` minus old×old pairs (the unit
    test pins that identity).  At warehouse scale the old side's bucket
    table can come from a persisted index — but the bucket ids are only
    valid while ``n_planes_for(combined n)`` is unchanged: when corpus
    growth steps the plane count, persisted buckets become silently
    incomparable with new-batch buckets (the r6 zero-pair failure mode),
    so re-hash the index at every plane-count step.  This implementation
    recomputes both sides, which is always comparable.

    The plane count derives from the COMBINED corpus size — bucketing
    each side by its own count would hash old and new into incomparable
    bucket spaces (and tune the new batch's occupancy to the batch, not
    the corpus it joins)."""
    n_corpus = memo_count(old_emb) + memo_count(new_emb)
    if n_planes is None:
        n_planes = n_planes_for(n_corpus)
    _warn_if_past_pair_envelope(n_planes)
    k = probe_k_for(n_planes)

    def _cand(a, b):
        return (
            a.alias("a")
            .join(
                b.alias("b"),
                (F.col("a.table_id") == F.col("b.table_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") != F.col("b.vec_id")),
            )
            .select(
                F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_a"),
                F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_b"),
            )
        )

    if k == 0:
        union = (
            _srp_bucketed(old_emb, dim, n_planes)
            .withColumn("is_new", F.lit(0))
            .unionByName(
                _srp_bucketed(new_emb, dim, n_planes).withColumn("is_new", F.lit(1))
            )
        )
        capped = _cap_buckets(union, max_bucket)
        raw = _cand(capped.filter(F.col("is_new") == 1), capped)
        return _verified_pairs_auto(
            raw, old_emb.unionByName(new_emb), threshold, n_corpus
        )
    # probed path (see semantic_pairs): to keep the pinned identity
    # "full semantic_pairs minus old×old" exact under EITHER-side
    # probing, cover both orientations that can touch a new vector —
    # new probes × all homes, plus old probes × new homes.  Candidate
    # work still tracks |new| × occupancy: the second join's home side
    # is new-only.
    from ..util import bounded_cache

    allb = bounded_cache(
        _srp_probed(old_emb, dim, n_planes, k)
        .withColumn("is_new", F.lit(0))
        .unionByName(
            _srp_probed(new_emb, dim, n_planes, k).withColumn("is_new", F.lit(1))
        )
    )
    home = allb.filter(F.col("slot") == 0).drop("slot")
    capped = _cap_buckets(home, max_bucket)
    surv = capped.select("vec_id", "table_id")
    probed = allb.drop("slot").join(surv, ["vec_id", "table_id"])
    raw = _cand(probed.filter(F.col("is_new") == 1), capped).unionByName(
        _cand(
            probed.filter(F.col("is_new") == 0),
            capped.filter(F.col("is_new") == 1),
        )
    )
    return _verified_pairs_auto(raw, old_emb.unionByName(new_emb), threshold, n_corpus)


def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture split mirroring ``dedup_minhash_incremental``: vectors with
    vec_id % 10 < 8 are the standing corpus, the rest the incoming batch
    (mirrored verbatim in the oracle's old×old exclusion)."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    old = emb.filter(F.col("vec_id") % 10 < 8)
    new = emb.filter(F.col("vec_id") % 10 >= 8)
    return incremental_semantic_pairs(old, new, dim)


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, production path (VERDICT r2 #2): SRP
    bucket prefilter → exact integer cosine ≥ threshold on candidates
    only.  Replaces the exact all-pairs grid as the default registry
    entry — all-pairs is n²/2 work however distributed (STRESS_x30
    showed 66× wall at 30× data); the SRP gate bounds the quadratic per
    (table, bucket), trading recall for candidates that never shared a
    bucket.  The exact kernel stays registered as ``dedup_embedding_exact``
    for the verify-stage/small-table role."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return semantic_pairs(emb, dim, threshold=SEM_THRESHOLD)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, component, survivor) over the semantic near-dup graph:
    connected components of ``semantic_pairs`` with the min-id member as
    the surviving representative — the full SemDeDup pipeline (cluster →
    within-cluster cosine → drop all but one per duplicate group)."""
    from .corpus import connected_components

    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    pairs = semantic_pairs(emb, dim)
    comp = connected_components(
        emb.select("vec_id"),
        pairs,
        node_col="vec_id",
        src_col="vec_id_a",
        dst_col="vec_id_b",
    )
    return comp.select(
        "vec_id",
        "component",
        (F.col("vec_id") == F.col("component")).alias("survivor"),
    )


QUERIES = {
    "sim_cosine_topk": sim_cosine_topk,
    "sim_ann_lsh_topk": sim_ann_lsh_topk,
    "sim_knn_join": sim_knn_join,
    "dedup_semantic": dedup_semantic,
    "dedup_embedding_pairs": dedup_embedding_pairs,
    "dedup_embedding_incremental": dedup_embedding_incremental,
}

ORACLE = {
    "sim_cosine_topk": f"""
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
          FROM embeddings
        ), n AS (
          -- zero-norm vectors have UNDEFINED cosine (0/0); the Spark
          -- kernel drops them as both query and neighbor (NaN would
          -- poison its batch-local threshold) and the oracle must agree
          SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM q
          WHERE list_dot_product(qv, qv) > 0
        ), scored AS (
          SELECT que.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_dot_product(que.qv, c.qv) / (sqrt(que.norm2) * sqrt(c.norm2)) AS cosine
          FROM n que JOIN n c ON c.vec_id <> que.vec_id
          WHERE que.vec_id < {N_QUERIES}
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    "sim_ann_lsh_topk": f'''
        WITH dims AS (
          SELECT len(embedding) AS d FROM embeddings LIMIT 1
        ), pl AS (
          SELECT t.generate_series AS t, p.generate_series AS p,
                 list_transform(range(0, (SELECT d FROM dims)),
                   i -> ((('0x' || substr(md5(
                       CAST(t.generate_series AS VARCHAR) || '_'
                       || CAST(p.generate_series AS VARCHAR) || '_'
                       || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                     % 2001) - 1000)) AS pl
          FROM generate_series(0, {N_TABLES - 1}) t,
               (SELECT CAST(r.i AS INTEGER) AS generate_series
                FROM range(0, 62) r(i)
                WHERE r.i < (SELECT p FROM np)) p
        ), qv AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
          FROM embeddings
        ), dots AS (
          SELECT q.vec_id, pl.t, pl.p, list_dot_product(q.qv, pl.pl) AS dot
          FROM qv q CROSS JOIN pl
        ), buckets AS (
          SELECT vec_id, t,
                 CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id, t
        ), pk AS (
          SELECT CASE WHEN (SELECT p FROM np) <= 4 THEN 0
                      WHEN (SELECT p FROM np) <= 8 THEN 2
                      ELSE 4 END AS k
        ), qprobes AS (
          -- query-side margin-directed multi-probe (probe_k_for twin)
          SELECT vec_id, t, bucket FROM buckets WHERE vec_id < {N_QUERIES}
          UNION ALL
          SELECT b.vec_id, b.t, xor(b.bucket, CAST(1 AS BIGINT) << d.p)
          FROM buckets b JOIN (
            SELECT vec_id, t, p,
                   row_number() OVER (PARTITION BY vec_id, t
                                      ORDER BY abs(dot), p) AS rk
            FROM dots
          ) d ON d.vec_id = b.vec_id AND d.t = b.t
          WHERE b.vec_id < {N_QUERIES} AND d.rk <= (SELECT k FROM pk)
        ), cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
          FROM qprobes qb JOIN buckets cb ON qb.t = cb.t AND qb.bucket = cb.bucket
          WHERE cb.vec_id <> qb.vec_id
        ), n AS (
          -- exclude zero-norm vectors: undefined cosine; Spark's verify
          -- drops their NaN rows, and without a threshold the rank here
          -- would otherwise sort NaN first (oracle-side divergence)
          SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM qv
          WHERE list_dot_product(qv, qv) > 0
        ), scored AS (
          SELECT cand.query_id, cand.vec_id AS neighbor_id,
                 list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2)) AS cosine
          FROM cand
          JOIN n a ON a.vec_id = cand.query_id
          JOIN n b ON b.vec_id = cand.vec_id
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
    ''',
}

# shared SRP bucket CTE prefix (planes -> quantize -> sign buckets ->
# hot-bucket cap): the pair chain, the semantic CC chain, and the kNN
# join all extend this ONE definition so the oracles can never drift
# corpus-adaptive plane count (r6): the exact SQL twin of
# ``n_planes_for`` — count of i with 2^i < ceil(n / TARGET_OCCUPANCY)
# is bit_length(ceil_div - 1), clamped to [1, 30]; pure integer math so
# both engines always agree.  Kept as its OWN constant so the
# sample-scoped oracle variants can rewrite the bucket/pair tail to read
# the sample while the plane count still derives from the FULL corpus
# (the production config under measurement).
_SRP_NP_CTE = f'''np AS (
          SELECT LEAST(GREATEST(CAST((SELECT count(*) FROM range(0, 62) r(i)
                   WHERE (CAST(1 AS BIGINT) << CAST(r.i AS INTEGER))
                         < (SELECT (count(*) + {TARGET_OCCUPANCY - 1})
                                    // {TARGET_OCCUPANCY} FROM embeddings))
                 AS INTEGER), 1), 30) AS p
        )'''

_SRP_BUCKET_TAIL = f'''dims AS (
          SELECT len(embedding) AS d FROM embeddings LIMIT 1
        ), pl AS (
          SELECT t.generate_series AS t, p.generate_series AS p,
                 list_transform(range(0, (SELECT d FROM dims)),
                   i -> ((('0x' || substr(md5(
                       CAST(t.generate_series AS VARCHAR) || '_'
                       || CAST(p.generate_series AS VARCHAR) || '_'
                       || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                     % 2001) - 1000)) AS pl
          FROM generate_series(0, {N_TABLES - 1}) t,
               (SELECT CAST(r.i AS INTEGER) AS generate_series
                FROM range(0, 62) r(i)
                WHERE r.i < (SELECT p FROM np)) p
        ), qv AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
          FROM embeddings
        ), dots AS (
          SELECT q.vec_id, pl.t, pl.p, list_dot_product(q.qv, pl.pl) AS dot
          FROM qv q CROSS JOIN pl
        ), buckets AS (
          SELECT vec_id, t,
                 CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id, t
        ), capped AS (
          SELECT vec_id, t, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY t, bucket) AS bn FROM buckets
          ) WHERE bn <= {SEM_MAX_BUCKET}
        )'''

_SRP_BUCKET_CTES = _SRP_NP_CTE + ", " + _SRP_BUCKET_TAIL

# the ann-lsh oracle predates the shared constants (dict literal above):
# splice the same np CTE into its WITH so its plane count adapts too
ORACLE["sim_ann_lsh_topk"] = ORACLE["sim_ann_lsh_topk"].replace(
    "WITH dims AS", "WITH " + _SRP_NP_CTE + ", dims AS", 1
)

# margin-directed multi-probe CTEs (r7, exact twin of ``probe_k_for`` /
# ``probe_bucket_ids_udf``): per cap-surviving (vector, table), the home
# bucket plus the k lowest-|margin| single-bit flips (ties by plane
# index — the UDF's stable argsort), joined against home buckets.  At
# k = 0 (≤4 planes, every gate-scale corpus) ``probes`` degenerates to
# ``capped`` and the pair set is value-identical to the r6 oracle.
_SRP_PROBE_CTES = f''', pk AS (
          SELECT CASE WHEN (SELECT p FROM np) <= 4 THEN 0
                      WHEN (SELECT p FROM np) <= 8 THEN 2
                      ELSE 4 END AS k
        ), probes AS (
          SELECT vec_id, t, bucket FROM capped
          UNION ALL
          SELECT c.vec_id, c.t, xor(c.bucket, CAST(1 AS BIGINT) << d.p)
          FROM capped c JOIN (
            SELECT vec_id, t, p,
                   row_number() OVER (PARTITION BY vec_id, t
                                      ORDER BY abs(dot), p) AS rk
            FROM dots
          ) d ON d.vec_id = c.vec_id AND d.t = c.t
          WHERE d.rk <= (SELECT k FROM pk)
        )'''

# pair chain: undirected candidates + threshold — dedup_embedding_pairs
# stops at `pairs`, dedup_semantic continues into the recursive CC
_SRP_PAIR_TAIL = _SRP_PROBE_CTES + f''', cand AS (
          SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS va,
                          GREATEST(a.vec_id, b.vec_id) AS vb
          FROM probes a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
          WHERE a.vec_id <> b.vec_id
        ), n AS (
          SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM qv
        ), pairs AS (
          SELECT va, vb,
                 list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2))
                   AS cosine
          FROM cand
          JOIN n a ON a.vec_id = cand.va
          JOIN n b ON b.vec_id = cand.vb
          WHERE list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2))
                  >= {SEM_THRESHOLD}
        )'''

_SRP_PAIR_CTES = _SRP_BUCKET_CTES + _SRP_PAIR_TAIL

ORACLE["sim_knn_join"] = f'''
        WITH {_SRP_BUCKET_CTES}{_SRP_PROBE_CTES}, cand AS (
          SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
          FROM probes a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
          WHERE a.vec_id <> b.vec_id
        ), n AS (
          -- exclude zero-norm vectors: undefined cosine; Spark's verify
          -- drops their NaN rows, and without a threshold the rank here
          -- would otherwise sort NaN first (oracle-side divergence)
          SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM qv
          WHERE list_dot_product(qv, qv) > 0
        ), scored AS (
          SELECT cand.va, cand.vb,
                 list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2))
                   AS cosine
          FROM cand
          JOIN n a ON a.vec_id = cand.va
          JOIN n b ON b.vec_id = cand.vb
        )
        SELECT va AS vec_id, vb AS neighbor_id, cosine,
               CAST(rank AS INTEGER) AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY va
                                       ORDER BY cosine DESC, vb ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
'''

ORACLE["dedup_embedding_pairs"] = f'''
        WITH {_SRP_PAIR_CTES}
        SELECT va AS vec_id_a, vb AS vec_id_b, cosine FROM pairs
'''

# incremental = the full verified pair set minus old×old (caps are judged
# over the union in BOTH engines, so the subtraction identity is exact)
ORACLE["dedup_embedding_incremental"] = f'''
        WITH {_SRP_PAIR_CTES}
        SELECT va AS vec_id_a, vb AS vec_id_b, cosine FROM pairs
        WHERE NOT (va % 10 < 8 AND vb % 10 < 8)
'''

ORACLE["dedup_semantic"] = f'''
        WITH RECURSIVE {_SRP_PAIR_CTES}, edges AS (
          SELECT va AS src, vb AS dst FROM pairs
          UNION ALL
          SELECT vb AS src, va AS dst FROM pairs
        ), reach(root, node) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT r.root, e.dst FROM reach r JOIN edges e ON r.node = e.src
        )
        SELECT root AS vec_id, CAST(min(node) AS BIGINT) AS component,
               (root = CAST(min(node) AS BIGINT)) AS survivor
        FROM reach GROUP BY root
'''


# ---------------------------------------------------------------------------
# IVF ANN (inverted-file index over coarse clusters)
# ---------------------------------------------------------------------------

# r9: nprobe sits at the MEASURED knee (VERDICT r8 #3).  Recall@5 vs
# nprobe at sf0.1 (spill assignment in place): 4 → avg 0.88/min 0.6,
# 5 → avg 0.96/min 0.8, 6 → 1.0/1.0.  Query-side ADAPTIVE probing was
# measured and rejected, not skipped: a best-cell margin rule needs
# margin 0.2 to reach min 0.8 and lands at avg 5.2 probed lists —
# statistically identical to fixed 5 — and a tied-gap rule runs away to
# 9+ lists, because this near-random corpus's centroid cosines are too
# flat for per-query margins to separate boundary queries from the
# rest.  Fixed nprobe=5 buys the same floor deterministically at 25%
# more probe IO than 4; floors raised in tests/test_similarity.py.
N_PROBE = 5
N_CLUSTERS = 10
KMEANS_SAMPLE = 10_000
KMEANS_ITERS = 10


def _unit_sample(emb: DataFrame, sample_n: int) -> np.ndarray:
    """The quantizer fits' and drift probes' shared sample: at most
    ``sample_n`` quantized vectors in ``xxhash64(vec_id)`` order (a
    reproducible choice with no RNG state), unit-normalized, as an
    (n, dim) float64 matrix — (0, 0) for an empty frame.  The int64 →
    float64 cast is exact: quantized values are integers."""
    sample = (
        emb.select("vec_id", quantize_expr().alias("q"))
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(sample_n)
        .toPandas()
    )
    if len(sample) == 0:
        return np.empty((0, 0))
    X = np.stack(sample["q"].map(lambda v: np.asarray(v, dtype=np.int64))).astype(
        np.float64
    )
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    return X


def fit_ivf_centroids(
    emb: DataFrame,
    k_clusters: int = N_CLUSTERS,
    sample_n: int = KMEANS_SAMPLE,
    iters: int = KMEANS_ITERS,
) -> np.ndarray:
    """Spherical k-means fit on a bounded deterministic sample — the IVF
    coarse quantizer (the classic IVF recipe: fit on a sample, assign the
    full corpus with one pass).

    The driver collect is CAPPED at ``sample_n`` vectors regardless of
    corpus size (sample_n × dim × 8 bytes — ~5 MB at the defaults), chosen
    by a deterministic hash order (``xxhash64(vec_id)``) so the fit is
    reproducible with no RNG state: init = first ``k_clusters`` sampled
    points, Lloyd iterations assign by max cosine (all vectors and
    centroids unit-normalized), empty clusters keep their previous
    centroid.  Returns a (k_clusters, dim) unit-norm float64 matrix.
    """
    X = _unit_sample(emb, sample_n)
    k_clusters = min(k_clusters, len(X))
    cents = X[:k_clusters].copy()
    for _ in range(iters):
        assign = (X @ cents.T).argmax(axis=1)
        for c in range(k_clusters):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    cents[c] = v / norm
    return cents


IVF_N_ASSIGN = 2  # corpus-side spill assignment (see assign_clusters_udf)


def assign_clusters_udf(cents: np.ndarray, n_assign: int = IVF_N_ASSIGN):
    """pandas UDF: quantized vector → its ``n_assign`` nearest-centroid
    ids — IVF SPILL assignment (r8, VERDICT r7 #6).  A vector sitting on
    a Voronoi boundary is the one IVF misses: its true neighbors probe
    the cell it *almost* landed in, and no amount of query-side nprobe
    fixes a corpus vector filed in the wrong drawer (measured at sf0.1:
    min per-query recall stuck at 0.2 from nprobe 4 through 6).  Filing
    every vector in its top-2 cells lifts the floor to 0.6 at unchanged
    nprobe.  Cost is explicit and linear: the inverted index doubles
    (2n postings), so probe IO doubles at the same nprobe — the classic
    FAISS multiple-assignment trade, bought here for the boundary-recall
    floor rather than average recall."""
    from pyspark.sql.pandas.functions import pandas_udf

    n_assign = min(n_assign, len(cents))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _assign(qs: pd.Series) -> pd.Series:
        mat = np.stack(qs.map(lambda v: np.asarray(v, dtype=np.float64)))
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        # kind="stable": tied centroid similarities must resolve by
        # index deterministically across numpy builds (the default
        # introsort makes tie order incidental, not guaranteed)
        top = np.argsort(-(mat @ cents.T), axis=1, kind="stable")[
            :, :n_assign
        ].astype(np.int32)
        return pd.Series(list(top))

    return _assign


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
    k_clusters: int = N_CLUSTERS,
) -> DataFrame:
    """IVF approximate top-k: fit coarse centroids (sampled spherical
    k-means — no pre-existing cluster column needed, VERDICT r1 #4),
    inverted-list the corpus by nearest centroid, and probe only each
    query's ``nprobe`` nearest lists.

    On a near-random test corpus the fitted clusters are weak, so recall
    needs nprobe≈5 of 10 lists (real embedding spaces cluster far tighter
    and probe 1-5% of lists).

    Scale shape: the fit touches a CAPPED sample; centroids are tiny and
    ride UDF closures; corpus labeling is one narrow pandas-UDF pass; the
    probe decision is numpy on the (small) query set; candidate retrieval
    is a broadcast equi-join on the computed label — search cost
    ∝ corpus/k_clusters × nprobe instead of corpus."""
    cents = fit_ivf_centroids(emb, k_clusters)
    q_all = _ivf_postings(emb, cents)
    return _ivf_probe_and_score(q_all, queries, cents, k=k, nprobe=nprobe)


def _ivf_postings(emb: DataFrame, cents: np.ndarray) -> DataFrame:
    """(vec_id, q, label): one row per spill-assigned inverted-list entry."""
    assign = assign_clusters_udf(cents)
    return (
        emb.select("vec_id", quantize_expr().alias("q"))
        .withColumn("labels", assign(F.col("q")))
        .select("vec_id", "q", F.explode("labels").alias("label"))
    )


def _ivf_probe_and_score(
    q_all: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    *,
    k: int,
    nprobe: int,
) -> DataFrame:
    """The shared IVF query path over a LABELED corpus (vec_id, q, label)
    — probe selection, candidate retrieval, exact scoring, top-k window —
    used by both the in-memory (`ivf_topk`) and persisted
    (`ivf_topk_persisted`) indexes, so their docstring-pinned identity is
    structural, not just test-enforced (review r5).  The label isin
    filter lands before the join: harmless on an in-memory frame, and on
    the hive-partitioned persisted index it IS the partition pruning."""
    spark = queries.sparkSession

    # probe assignment: nearest nprobe centroids per query (cosine, numpy;
    # centroids are unit-norm so the dot IS the cosine up to query scale)
    q_ids, q_mat, q_norms = _collect_quantized(queries)
    cos_qc = q_mat.astype(np.float64) @ cents.T
    order = np.argsort(-cos_qc, axis=1, kind="stable")[:, :nprobe]
    probe_rows = [
        (int(q_ids[i]), int(j)) for i in range(len(q_ids)) for j in order[i]
    ]
    probes = spark.createDataFrame(probe_rows, "query_id long, label int")
    needed = sorted({lbl for _, lbl in probe_rows})

    # candidates: corpus rows in a probed list of the query.  Under
    # spill assignment (assign_clusters_udf) a corpus vector can sit in
    # two probed lists of the same query — dedupe BEFORE scoring, and
    # before the rank window (a duplicated candidate would double-count
    # a row_number rank)
    cand = (
        q_all.filter(F.col("label").isin(needed))
        .join(F.broadcast(probes), "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )

    # exact cosine over candidates with the broadcast query matrix
    return _exact_topk_over_candidates(cand, queries, k=k)


def _exact_topk_over_candidates(
    cand: DataFrame, queries: DataFrame, *, k: int
) -> DataFrame:
    """Exact-cosine top-k over a CANDIDATE frame ``(query_id, vec_id, q)``
    — the shared re-rank tail of every two-stage ANN path (IVF probe
    retrieval, PQ ADC shortlist): score candidates against the broadcast
    query matrix inside Arrow batches, then one rank window.  One code
    object, so the re-rankers can't drift (the `_ivf_probe_and_score`
    contract, r5, generalized in r11 for PQ).

    Zero-norm candidates are dropped before the divide (same rationale as
    `cosine_topk`: 0/0 → NaN, and NaN sorts ABOVE every finite cosine in
    a descending Spark window, so one degenerate row would outrank every
    real neighbor)."""
    spark = cand.sparkSession
    q_ids, q_mat, q_norms = _collect_quantized(queries)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    def score(it):
        ids_q, mat_q, norms_q = bc.value
        sqrt_q = np.sqrt(norms_q.astype(np.float64))
        pos = {int(v): i for i, v in enumerate(ids_q)}
        for pdf in it:
            if len(pdf) == 0:
                continue
            c_mat = np.stack(pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64)))
            c_norms = (c_mat * c_mat).sum(axis=1)
            valid = c_norms > 0
            if not valid.all():
                pdf = pdf[valid]
                c_mat, c_norms = c_mat[valid], c_norms[valid]
                if len(pdf) == 0:
                    continue
            qi = pdf["query_id"].map(pos).to_numpy()
            dots = np.einsum("ij,ij->i", c_mat, mat_q[qi])
            cos = dots / (np.sqrt(c_norms.astype(np.float64)) * sqrt_q[qi])
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "vec_id": pdf["vec_id"], "cosine": cos}
            )

    scored = cand.select("query_id", "vec_id", "q").mapInPandas(score, _SCORED_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def _index_scratch(spark: SparkSession, prefix: str):
    """(warehouse, control store) in a fresh scratch dir per invocation
    (ADVICE r5): a fixed shared path raced between concurrent sessions —
    one could probe the other's half-built index.  No eager cleanup: the
    returned frames read the index lazily."""
    from ..sources.control import ControlStore
    from .staging import StagingWarehouse

    root = scratch_dir(prefix)
    control = ControlStore(os.path.join(root, "index_control.json"))
    return StagingWarehouse(spark, root), control


def _load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus without its ``label`` column: the index
    operators fit their own quantizers."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.drop("label") if "label" in emb.columns else emb


def _with_recall(res: DataFrame, emb: DataFrame, queries: DataFrame) -> DataFrame:
    """``res`` plus each query's in-band ``recall_at_5`` against the
    exact brute-force top-5 (0.0 for a query with no hit)."""
    exact = cosine_topk(emb, queries, k=TOP_K).select("query_id", "neighbor_id")
    recall = (
        res.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg((F.count("*") / F.lit(float(TOP_K))).alias("recall_at_5"))
    )
    return res.join(recall, "query_id", "left").fillna({"recall_at_5": 0.0})


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with an embedded ``recall_at_5`` column (VERDICT r3 #8):
    each result row carries its query's recall@5 against the exact
    brute-force top-5, so the approximate entry is gate-adjacent — the
    driver's rows-only check sees the recall evidence in-band, and pytest
    pins a floor on this column at BOTH sf0.01 and sf0.1.  The exact pass
    costs one extra corpus scan for the 10-query benchmark set — the
    self-measuring harness shape, not the production call (use
    ``ivf_topk`` directly there)."""
    emb = _load_emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return _with_recall(ivf_topk(emb, queries, k=TOP_K), emb, queries)


QUERIES["sim_ivf_topk"] = sim_ivf_topk
# approximate → rows-only; recall vs brute force asserted in tests


# ---------------------------------------------------------------------------
# diversity (coverage) sampling via SRP regions
# ---------------------------------------------------------------------------


def diversity_sample(emb: DataFrame, dim: int, table_id: int = 0) -> DataFrame:
    """Coverage sample over embedding space: ONE representative per SRP
    bucket of a single hash table (min vec_id), with the region's member
    count.  An SRP table partitions the sphere into angular cells, so
    the representatives spread across the space rather than clustering
    where density is — the cheap deterministic stand-in for coreset /
    k-center selection that curation pipelines use to seed diverse
    eval/annotation sets (dense regions contribute ONE row no matter how
    many near-duplicates pile into them).

    Scale shape: the quantize+bucket Arrow pass already powers the whole
    SRP family; this adds one groupBy on the bucket key (map-side
    combine, ≤ 2^planes groups).  Deterministic end-to-end — md5-derived
    hyperplanes, integer dot products, min-id pick — so the full output
    hash-matches the SQL replay.
    """
    return (
        _srp_bucketed(emb, dim, n_planes_for(memo_count(emb)))
        .filter(F.col("table_id") == table_id)
        .groupBy("bucket")
        .agg(
            F.min("vec_id").cast("long").alias("rep_vec_id"),
            F.count("*").cast("long").alias("n_members"),
        )
    )


def sim_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return diversity_sample(emb, dim)


QUERIES["sim_diversity_sample"] = sim_diversity_sample

ORACLE["sim_diversity_sample"] = f'''
        WITH {_SRP_BUCKET_CTES}
        SELECT bucket,
               CAST(min(vec_id) AS BIGINT) AS rep_vec_id,
               CAST(count(*) AS BIGINT) AS n_members
        FROM buckets WHERE t = 0
        GROUP BY bucket
'''


# ---------------------------------------------------------------------------
# embedding-pipeline health report
# ---------------------------------------------------------------------------


def embedding_health(emb: DataFrame) -> DataFrame:
    """Per-label embedding health: vector counts, zero-vector count, exact
    integer norm² bounds, and mean norm — the upstream-encoder watchdog
    (a collapsed encoder shows up as zero/near-zero vectors; a drifting
    one as a moving norm distribution; both poison cosine thresholds
    silently).

    Determinism: norm² is the exact integer self-dot of the quantized
    vector (< 2^53 by the QUANT sizing, so its double image is exact);
    IEEE sqrt is correctly rounded in both engines; the mean uses the
    micro-quantized-int discipline (``stream_user_totals``) so the sum
    is an exact long in any execution order.  One narrow projection +
    one groupBy on the (tiny) label key.
    """
    q = emb.select("label", quantize_expr().alias("qv"))
    n2 = dot_expr(F.col("qv"), F.col("qv"))
    per = q.select("label", n2.alias("n2"))
    norm = F.sqrt(F.col("n2").cast("double")) / F.lit(float(QUANT))
    q6 = F.floor(norm * 1000000 + F.lit(0.5)).cast("long")
    return (
        per.withColumn("q6", q6)
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.count(F.when(F.col("n2") == 0, 1)).cast("long").alias("n_zero_vecs"),
            F.min("n2").cast("long").alias("min_norm2"),
            F.max("n2").cast("long").alias("max_norm2"),
            F.round(
                F.sum("q6").cast("double")
                / F.lit(1000000.0)
                / F.count("*").cast("double"),
                4,
            )
            .cast("decimal(18,4)")
            .cast("double")
            .alias("avg_norm"),
        )
    )


def sim_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_health(load(spark, sf_dir, "embeddings"))


QUERIES["sim_embedding_health"] = sim_embedding_health

ORACLE["sim_embedding_health"] = f"""
    WITH q AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ), n AS (
      SELECT label, CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q
    ), m AS (
      SELECT label, n2,
             CAST(floor(sqrt(CAST(n2 AS DOUBLE)) / {QUANT}.0 * 1000000 + 0.5)
                  AS BIGINT) AS q6
      FROM n
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) FILTER (WHERE n2 = 0) AS BIGINT) AS n_zero_vecs,
           CAST(min(n2) AS BIGINT) AS min_norm2,
           CAST(max(n2) AS BIGINT) AS max_norm2,
           CAST(CAST(round(
             CAST(sum(q6) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 4)
             AS DECIMAL(18,4)) AS DOUBLE) AS avg_norm
    FROM m GROUP BY label
"""


# ---------------------------------------------------------------------------
# SRP-gate recall calibration (the embedding twin of dedup_lsh_recall_report)
# ---------------------------------------------------------------------------

SRP_RECALL_MOD = 2  # floor; auto-mod sizes the sample to the corpus


def srp_recall_report(
    emb: DataFrame,
    dim: int,
    *,
    mod: int | None = None,
    threshold: float = SEM_THRESHOLD,
) -> DataFrame:
    """One-row SRP-gate calibration: exact all-pairs integer-cosine ground
    truth on a deterministic md5-60 hash sample vs the production
    SRP-bucketed pair pipeline on the SAME sample, with measured recall —
    the number that tells you whether N_TABLES (at the corpus-adaptive
    plane count) is right for
    your threshold (the gate's recall was previously a code-comment
    derivation; this measures it, the same upgrade VERDICT r3 asked for
    on IVF).  Verified pairs are a subset of ground truth (same exact
    verify, same threshold), so recall = |srp| / |exact|.

    Same sample-bounded-quadratic contract as ``dedup_lsh_recall_report``,
    including its auto-mod (VERDICT r4 #5): when ``mod`` is None it is
    max(2, ceil(n / RECALL_SAMPLE_TARGET)) from one corpus count, so the
    exact side stays ~TARGET²/2 pairs at any corpus size.  Recall is a
    ratio, so the fixed-size sample estimates it at any scale.
    """
    from ..operators.dedup import _auto_mod, embedding_near_dup_pairs

    n_corpus = memo_count(emb)
    if mod is None:
        mod = _auto_mod(n_corpus)
    key = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    sample = emb.filter(key % mod == 0)
    from ..util import bounded_cache

    sample = bounded_cache(sample)
    # ground truth via the blocked Arrow grid kernel (bit-identical
    # cosines to the SQL form); the sample is bounded by construction so
    # the quadratic guard is waived — the previous higher-order-function
    # theta-join was ~6 s alone at sf0.1
    exact = embedding_near_dup_pairs(
        sample, threshold=threshold, max_rows=None
    ).select("vec_id_a", "vec_id_b")
    # the gate under measurement is the FULL-corpus config: the sample is
    # bucketed with the plane count the production pipeline uses, not
    # the (smaller) count its own size would pick
    srp = (
        semantic_pairs(
            sample, dim, threshold=threshold, n_planes=n_planes_for(n_corpus)
        )
        .select("vec_id_a", "vec_id_b")
        .withColumn("_v", F.lit(1))
    )
    counts = exact.join(srp, ["vec_id_a", "vec_id_b"], "left").agg(
        F.count("*").cast("long").alias("n_exact_pairs"),
        F.count("_v").cast("long").alias("n_srp_found"),
    )
    nsamp = sample.agg(F.count("*").cast("long").alias("n_sample_vecs"))
    return counts.crossJoin(F.broadcast(nsamp)).select(
        "n_sample_vecs",
        "n_exact_pairs",
        "n_srp_found",
        F.when(F.col("n_exact_pairs") == 0, F.lit(1.0))
        .otherwise(
            F.col("n_srp_found").cast("double")
            / F.col("n_exact_pairs").cast("double")
        )
        .alias("recall"),
    )


def sim_srp_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return srp_recall_report(emb, dim)


QUERIES["sim_srp_recall_report"] = sim_srp_recall_report

from ..operators.dedup import ORACLE as _DD_ORACLE  # noqa: E402

from ..operators.dedup import RECALL_SAMPLE_TARGET as _RECALL_TARGET  # noqa: E402

# mirrors dedup._auto_mod as a scalar subquery (same contract as the
# LSH twin's _SAMPLE_PRED) so the oracle tracks the Spark-side mod at
# any corpus size
_EMB_SAMPLE_PRED = (
    "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % "
    f"(SELECT GREATEST({SRP_RECALL_MOD}, "
    f"CAST(ceil(count(*) / {_RECALL_TARGET}.0) AS BIGINT)) "
    "FROM embeddings) = 0"
)
_EXACT_ON_SAMPLE = _DD_ORACLE["dedup_embedding_exact"].replace(
    "FROM embeddings", f"FROM (SELECT * FROM embeddings WHERE {_EMB_SAMPLE_PRED})"
)
# sample-scoped variant: ONLY the bucket/pair tail reads the sample —
# the np plane-count CTE keeps reading the full corpus, because the
# harness measures the production (full-corpus) SRP config on a sample
_SRP_ON_SAMPLE = (
    _SRP_NP_CTE
    + ", "
    + (_SRP_BUCKET_TAIL + _SRP_PAIR_TAIL).replace(
        "FROM embeddings",
        f"FROM (SELECT * FROM embeddings WHERE {_EMB_SAMPLE_PRED})",
    )
)

ORACLE["sim_srp_recall_report"] = f"""
    WITH exact AS (
      SELECT vec_id_a, vec_id_b FROM ({_EXACT_ON_SAMPLE}) x
    ), srp0 AS (
      WITH {_SRP_ON_SAMPLE}
      SELECT va AS vec_id_a, vb AS vec_id_b FROM pairs
    ), cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
             CAST(count(srp0.vec_id_a) AS BIGINT) AS n_srp_found
      FROM exact LEFT JOIN srp0 USING (vec_id_a, vec_id_b)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings
            WHERE {_EMB_SAMPLE_PRED}) AS n_sample_vecs,
           n_exact_pairs, n_srp_found,
           CASE WHEN n_exact_pairs = 0 THEN 1.0
                ELSE CAST(n_srp_found AS DOUBLE) / CAST(n_exact_pairs AS DOUBLE)
           END AS recall
    FROM cnt
"""


# ---------------------------------------------------------------------------
# full-coverage kNN join (approximate + exact residue, VERDICT r4 #4)
# ---------------------------------------------------------------------------


def sim_knn_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_knn_join(full_coverage=True)`` under the hash gate: the
    SRP-bucketed approximate join UNION an exact top-k pass for vectors
    no bucket covered.  The oracle replays both halves — the bucket
    pipeline verbatim plus a NOT IN residue with the brute-force
    ranking — so total coverage is verified, not asserted."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return ann_knn_join(emb, dim, k=TOP_K, full_coverage=True)


QUERIES["sim_knn_join_full"] = sim_knn_join_full

ORACLE["sim_knn_join_full"] = f'''
        WITH {_SRP_BUCKET_CTES}{_SRP_PROBE_CTES}, cand AS (
          SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
          FROM probes a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
          WHERE a.vec_id <> b.vec_id
        ), n AS (
          -- exclude zero-norm vectors: undefined cosine; Spark's verify
          -- drops their NaN rows, and without a threshold the rank here
          -- would otherwise sort NaN first (oracle-side divergence)
          SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM qv
          WHERE list_dot_product(qv, qv) > 0
        ), scored AS (
          SELECT cand.va, cand.vb,
                 list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2))
                   AS cosine
          FROM cand
          JOIN n a ON a.vec_id = cand.va
          JOIN n b ON b.vec_id = cand.vb
        ), approx AS (
          SELECT va AS vec_id, vb AS neighbor_id, cosine,
                 CAST(rank AS INTEGER) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY va
                                         ORDER BY cosine DESC, vb ASC) AS rank
            FROM scored
          ) WHERE rank <= {TOP_K}
        ), resid AS (
          SELECT vec_id FROM embeddings
          WHERE vec_id NOT IN (SELECT va FROM cand)
        ), rs AS (
          SELECT r.vec_id AS va, m.vec_id AS vb,
                 list_dot_product(a.qv, m.qv) / (sqrt(a.norm2) * sqrt(m.norm2))
                   AS cosine
          FROM resid r
          JOIN n a ON a.vec_id = r.vec_id
          JOIN n m ON m.vec_id <> r.vec_id
        )
        SELECT * FROM approx
        UNION ALL
        SELECT va AS vec_id, vb AS neighbor_id, cosine,
               CAST(rank AS INTEGER) AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY va
                                       ORDER BY cosine DESC, vb ASC) AS rank
          FROM rs
        ) WHERE rank <= {TOP_K}
'''


# ---------------------------------------------------------------------------
# kNN top-k recall instrument (r7)
# ---------------------------------------------------------------------------


def knn_recall_report(emb: DataFrame, dim: int, k: int = TOP_K) -> DataFrame:
    """Measured top-k recall of the probed ANN path against the exact
    per-query ground truth — the kNN twin of ``srp_recall_report`` (which
    instruments the PAIR family).  r7 moved the top-k operating point
    (query-side multi-probe, see ``probe_k_for``), so its recall needs
    its own in-band instrument rather than inference from pair recall.

    Ground truth is exact and LINEAR: the ``N_QUERIES`` query rows
    broadcast against the corpus (10·n integer dot products — a scan, not
    a quadratic; this is why the query set is fixed and small).  Output
    is one row: (n_queries, k, n_exact, n_found, recall), all integer
    counts plus one exact int÷int division, so the gate hashes stay
    engine-portable."""
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    ann = ann_lsh_topk(emb, queries, dim, k=k).select("query_id", "neighbor_id")
    # self-dots once per VECTOR, zero-norm rows dropped before the
    # nested-loop join — the previous shape re-evaluated the interpreted
    # dot_expr 4x per (query, corpus) ROW (see ann_lsh_topk)
    q = (
        queries.select(F.col("vec_id").alias("query_id"), quantize_expr().alias("qq"))
        .withColumn("qn2", dot_expr(F.col("qq"), F.col("qq")))
        .filter(F.col("qn2") > 0)
    )
    c = (
        emb.select(F.col("vec_id").alias("neighbor_id"), quantize_expr().alias("cq"))
        .withColumn("cn2", dot_expr(F.col("cq"), F.col("cq")))
        .filter(F.col("cn2") > 0)
    )
    cos = dot_expr(F.col("qq"), F.col("cq")) / (
        F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    hit = exact.join(ann, ["query_id", "neighbor_id"])
    return exact.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.lit(k).cast("int").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    ).crossJoin(
        F.broadcast(hit.agg(F.count(F.lit(1)).cast("long").alias("n_found")))
    ).select(
        "n_queries",
        "k",
        "n_exact",
        "n_found",
        F.when(
            F.col("n_exact") > 0,
            F.col("n_found").cast("double") / F.col("n_exact"),
        ).alias("recall"),
    )


def sim_knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm/cold split (VERDICT r11 #2): this report has NO fit to
    memoize — the SRP planes are deterministic md5-derived constants —
    so warm and cold runs cost the same; the spend is the exact
    brute-force leg over the fixed query set, which IS the measurement
    (ground truth cannot be cached away without ceasing to measure)."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return knn_recall_report(emb, dim)


QUERIES["sim_knn_recall_report"] = sim_knn_recall_report

# the ann CTE is the full (probed) sim_ann_lsh_topk oracle as a derived
# table, so this instrument can never drift from the operator it measures
ORACLE["sim_knn_recall_report"] = f'''
        WITH qv AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
          FROM embeddings
        ), n AS (
          SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM qv
          WHERE list_dot_product(qv, qv) > 0
        ), ex AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2))
                   AS cosine
          FROM n a JOIN n b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ), exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM ex
          ) WHERE rk <= {TOP_K}
        ), ann AS (
          SELECT query_id, neighbor_id FROM ({{ANN_TOPK}}) a
        ), hit AS (
          SELECT exact.query_id, exact.neighbor_id
          FROM exact JOIN ann USING (query_id, neighbor_id)
        )
        SELECT CAST((SELECT count(DISTINCT query_id) FROM exact) AS BIGINT) AS n_queries,
               CAST({TOP_K} AS INTEGER) AS k,
               CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
               CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_found,
               CASE WHEN (SELECT count(*) FROM exact) > 0
                    THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
                         / (SELECT count(*) FROM exact)
               END AS recall
'''.replace("{ANN_TOPK}", ORACLE["sim_ann_lsh_topk"])


# ---------------------------------------------------------------------------
# recall-vs-tables calibration curve
# ---------------------------------------------------------------------------


def srp_recall_curve(
    emb: DataFrame,
    dim: int,
    *,
    mod: int | None = None,
    threshold: float = SEM_THRESHOLD,
) -> DataFrame:
    """Measured recall as a function of how many SRP tables are in play —
    one row per table count 1..N_TABLES, against the same exact sample
    ground truth as ``srp_recall_report``.  This is the curve that SIZES
    the index: marginal recall per extra table falls off geometrically
    (1-(1-p^planes)^t), so where the measured curve flattens is where
    adding tables stops paying for their candidate volume.  The r5
    retune (16×6 → 24×5) was chosen from exactly this trade; the curve
    makes it a standing artifact instead of a one-off experiment.

    Cost: the bucket pass runs ONCE — a pair's earliest covering table
    (min table_id) is a groupBy over the capped bucket join, and every
    curve point is a conditional sum over ≤ N_TABLES+1 counters (a
    broadcast nested-loop over a 24-row range, not a re-run per point).
    The quadratic exact side is sample-bounded by the same auto-mod
    contract as the reports.
    """
    from .dedup import _auto_mod, embedding_near_dup_pairs
    from ..util import bounded_cache

    spark = emb.sparkSession
    n_corpus = memo_count(emb)
    if mod is None:
        mod = _auto_mod(n_corpus)
    key = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    sample = bounded_cache(emb.filter(key % mod == 0))
    exact = embedding_near_dup_pairs(
        sample, threshold=threshold, max_rows=None
    ).select("vec_id_a", "vec_id_b")
    # full-corpus plane count on the sample — same contract as the report
    n_planes = n_planes_for(n_corpus)
    k = probe_k_for(n_planes)
    if k == 0:
        capped = _cap_buckets(_srp_bucketed(sample, dim, n_planes), SEM_MAX_BUCKET)
        a = capped.alias("a")
        cond = F.col("a.vec_id") < F.col("b.vec_id")
    else:
        # probed pipeline (see semantic_pairs): a pair's covering table
        # is any t where either member probes the other's home bucket
        allb = bounded_cache(_srp_probed(sample, dim, n_planes, k))
        home = allb.filter(F.col("slot") == 0).drop("slot")
        capped = _cap_buckets(home, SEM_MAX_BUCKET)
        surv = capped.select("vec_id", "table_id")
        a = allb.drop("slot").join(surv, ["vec_id", "table_id"]).alias("a")
        cond = F.col("a.vec_id") != F.col("b.vec_id")
    b = capped.alias("b")
    first_t = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & cond,
        )
        .select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_b"),
            F.col("a.table_id").alias("t"),
        )
        .groupBy("vec_id_a", "vec_id_b")
        .agg(F.min("t").alias("first_t"))
    )
    hit = exact.join(first_t, ["vec_id_a", "vec_id_b"], "left")
    per_first = hit.groupBy("first_t").agg(F.count("*").cast("long").alias("c"))
    totals = hit.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    tables = spark.range(1, N_TABLES + 1).select(
        F.col("id").cast("int").alias("n_tables")
    )
    return (
        tables.join(F.broadcast(per_first), F.lit(True), "left")
        .groupBy("n_tables")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("first_t") < F.col("n_tables"), F.col("c"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_found")
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_tables",
            "n_exact_pairs",
            "n_found",
            F.when(F.col("n_exact_pairs") == 0, F.lit(1.0))
            .otherwise(
                F.col("n_found").cast("double")
                / F.col("n_exact_pairs").cast("double")
            )
            .alias("recall"),
        )
    )


def sim_srp_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return srp_recall_curve(emb, dim)


QUERIES["sim_srp_recall_curve"] = sim_srp_recall_curve

# same full-corpus-np / sampled-tail split as _SRP_ON_SAMPLE
_SRP_BUCKETS_ON_SAMPLE = (
    _SRP_NP_CTE
    + ", "
    + _SRP_BUCKET_TAIL.replace(
        "FROM embeddings",
        f"FROM (SELECT * FROM embeddings WHERE {_EMB_SAMPLE_PRED})",
    )
)

ORACLE["sim_srp_recall_curve"] = f"""
    WITH {_SRP_BUCKETS_ON_SAMPLE}{_SRP_PROBE_CTES}, first_t AS (
      SELECT LEAST(a.vec_id, b.vec_id) AS vec_id_a,
             GREATEST(a.vec_id, b.vec_id) AS vec_id_b,
             CAST(MIN(a.t) AS INTEGER) AS ft
      FROM probes a
      JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
                    AND a.vec_id <> b.vec_id
      GROUP BY LEAST(a.vec_id, b.vec_id), GREATEST(a.vec_id, b.vec_id)
    ), exact AS (
      SELECT vec_id_a, vec_id_b FROM ({_EXACT_ON_SAMPLE}) x
    ), hit AS (
      SELECT e.vec_id_a, e.vec_id_b, f.ft
      FROM exact e LEFT JOIN first_t f
        ON f.vec_id_a = e.vec_id_a AND f.vec_id_b = e.vec_id_b
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs FROM hit
    ), curve AS (
      SELECT CAST(t.generate_series AS INTEGER) AS n_tables,
             CAST(COALESCE(SUM(CASE WHEN h.ft < t.generate_series
                                    THEN 1 END), 0) AS BIGINT) AS n_found
      FROM generate_series(1, {N_TABLES}) t LEFT JOIN hit h ON true
      GROUP BY t.generate_series
    )
    SELECT n_tables, (SELECT n_exact_pairs FROM tot) AS n_exact_pairs, n_found,
           CASE WHEN (SELECT n_exact_pairs FROM tot) = 0 THEN 1.0
                ELSE CAST(n_found AS DOUBLE)
                     / CAST((SELECT n_exact_pairs FROM tot) AS DOUBLE)
           END AS recall
    FROM curve
"""


# ---------------------------------------------------------------------------
# persisted IVF index (inverted lists as hive partitions)
# ---------------------------------------------------------------------------


def build_ivf_index(
    emb: DataFrame,
    wh,
    table: str = "ivf_index",
    k_clusters: int = N_CLUSTERS,
) -> np.ndarray:
    """Materialize the IVF index into the staging warehouse: the corpus's
    quantized vectors land PARTITIONED BY their nearest-centroid label —
    the inverted lists literally become hive partitions, so a probe of
    ``nprobe`` lists is parquet partition PRUNING at file listing (a
    10-billion-vector index at 1000 clusters reads 0.4% of its files for
    a 4-probe query).  The (tiny) centroid table lands beside it.  This
    is the lifecycle the in-memory ``ivf_topk`` skips: fit once, assign
    once, write once, then every query pays only probe-list IO.

    Returns the fitted centroids (unit-norm float64) for convenience;
    ``load_ivf_centroids`` recovers them from the warehouse without
    refitting."""
    spark = emb.sparkSession
    cents = fit_ivf_centroids(emb, k_clusters)
    # spill assignment (assign_clusters_udf): each vector lands in its
    # top-2 lists, so a posting appears in two hive partitions — that IS
    # the boundary-recall trade materialized as index size
    assigned = _ivf_postings(emb, cents)
    wh.write(assigned, table, incremental=False, partition_by=["label"])
    wh.write(_cents_to_df(spark, cents), f"{table}_centroids", incremental=False)
    return cents


#: (warehouse root, table, committed (file, mtime) set) -> row dicts.
#: The quantizer tables are immutable once committed (a refit writes a
#: NEW physical table / generation), so an mtime-keyed cache makes the
#: repeated loads inside one lifecycle invocation (build → append →
#: query each reload centroids+codebooks) cost one driver-side read.
_SMALL_TABLE_CACHE: dict[tuple, list[dict]] = {}


def _small_table_rows(wh, table: str) -> list[dict]:
    """Driver-side read of a tiny SINGLE-BATCH unpartitioned warehouse
    table (centroids / codebooks / stats — k×dim rows by construction):
    the committed file list comes from the manifest snapshot
    (``wh.data_files``), the bytes are read with pyarrow on the driver —
    no Spark scan job, no schema-inference pass — and the result is
    cached on the exact (file, mtime) set (guide §1.2: these loads were
    0.3-0.5 s of pure job overhead per call at any scale; the tables are
    metadata, not data).  Values round-trip bit-exactly (int/float64
    columns)."""
    import pyarrow.parquet as _pq

    files = wh.data_files(table)
    if not files:
        raise FileNotFoundError(f"no committed data files for table {table!r}")
    ident = []
    for f in files:
        try:
            ident.append((f, os.path.getmtime(f)))
        except OSError:
            ident.append((f, 0.0))
    key = (table, tuple(ident))
    hit = _SMALL_TABLE_CACHE.get(key)
    if hit is None:
        rows: list[dict] = []
        for f in files:
            rows.extend(_pq.read_table(f).to_pylist())
        if len(_SMALL_TABLE_CACHE) > 512:
            _SMALL_TABLE_CACHE.clear()  # crude bound; refills on demand
        _SMALL_TABLE_CACHE[key] = rows
        hit = rows
    return list(hit)


def load_ivf_centroids(wh, table: str = "ivf_index") -> np.ndarray:
    """Centroid matrix back from the warehouse, ordered by label — a
    k_clusters×dim driver-side read (tiny by construction)."""
    rows = sorted(_small_table_rows(wh, f"{table}_centroids"), key=lambda r: r["label"])
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


# Fit-once memo for the IVF coarse quantizer (VERDICT r11 #2 — the
# bpe_tokenizer_warehouse pattern): (corpus fingerprint, k, sample, iters)
# -> StagingWarehouse root holding the persisted centroid artifact.  The
# recall-report instruments refit identical centroids on every call —
# deterministic fit, so a refit is pure waste; the production lifecycle
# is fit once, persist, every measurement/query job reads the artifact.
_CENTROID_ARTIFACTS: dict[tuple, str] = {}


#: (files, mtimes, canonical plan text) -> full fingerprint.  See
#: _emb_fingerprint: caches only the CONTENT-identity aggregate, and only
#: for provably deterministic plans over unchanged files.
_FINGERPRINT_CACHE: dict[tuple, tuple] = {}

def _emb_fingerprint(emb: DataFrame) -> tuple | None:
    """Corpus identity for the fit memos, or ``None`` when the frame has
    no stable identity (``inputFiles() == []`` — an in-memory frame):
    callers BYPASS the memo then instead of sharing key ``((), 0.0)``
    across unrelated corpora (ADVICE r12 #2).

    The key folds together the scan's input files, EVERY file's mtime
    (a multi-file rewrite that spares files[0] must still invalidate),
    and a cheap content identity — row count + an order-insensitive
    ``bit_xor(xxhash64(vec_id))`` aggregate — so two different frames
    DERIVED from the same files (e.g. the half-corpus filters the
    append entries use) get distinct keys instead of serving each
    other's fit.  The content aggregate is one column scan: noise next
    to the Lloyd fit the memo exists to skip — and it is itself
    memoized on (files, mtimes, canonical plan text): a DETERMINISTIC
    plan over unchanged files always reproduces the same rows, hence
    the same aggregate, so re-running the agg job per invocation of the
    same lifecycle entry is pure overhead (guide §1.2).  Plans carrying
    non-deterministic expressions bypass that memo and pay the agg."""
    files = tuple(sorted(emb.inputFiles()))
    if not files:
        return None
    mts = []
    for f in files:
        try:
            mts.append(os.path.getmtime(f.removeprefix("file:")))
        except OSError:
            mts.append(0.0)
    canon = canonical_plan(emb)
    key = (files, tuple(mts), canon)
    if canon is not None:
        hit = _FINGERPRINT_CACHE.get(key)
        if hit is not None:
            return hit
    ident = emb.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(vec_id))").alias("x"),
    ).first()
    fp = (files, tuple(mts), int(ident["n"]), int(ident["x"] or 0))
    if canon is not None:
        if len(_FINGERPRINT_CACHE) > 512:
            _FINGERPRINT_CACHE.clear()  # crude bound; refills on demand
        _FINGERPRINT_CACHE[key] = fp
    return fp


def ivf_centroids_memo(
    emb: DataFrame,
    k_clusters: int,
    sample_n: int = KMEANS_SAMPLE,
    iters: int = KMEANS_ITERS,
    fp: tuple | None = None,
) -> np.ndarray:
    """Fit-once-per-(corpus, k) IVF centroids, persisted through the
    atomic staging protocol: the first call runs ``fit_ivf_centroids``
    and writes the (label, centroid) artifact; subsequent calls load it
    (one tiny warehouse read, no sample collect, no Lloyd loop).  The
    fit is deterministic (hash-ordered sample, no RNG), so memo-vs-refit
    is bit-identical — pinned in tests/test_similarity.py."""
    from .staging import StagingWarehouse

    if fp is None:
        fp = _emb_fingerprint(emb)
    if fp is None:
        # in-memory frame: no stable corpus identity — fit directly
        # rather than memo-share across unrelated corpora (ADVICE r12)
        return fit_ivf_centroids(emb, k_clusters, sample_n, iters)
    key = (fp, k_clusters, sample_n, iters)
    root = _CENTROID_ARTIFACTS.get(key)
    spark = emb.sparkSession
    if root is None:
        cents = fit_ivf_centroids(emb, k_clusters, sample_n, iters)
        root = scratch_dir("spark_graft_ivfcent_")
        wh = StagingWarehouse(spark, root)
        wh.write(_cents_to_df(spark, cents), "ivf_centroids", incremental=False)
        _CENTROID_ARTIFACTS[key] = root
        return cents
    return load_ivf_centroids(StagingWarehouse(spark, root), table="ivf")


# Fit-once memo for PQ / residual codebooks (VERDICT r12 #7 — the
# ivf_centroids_memo pattern extended to the quantizer the append gate
# entries re-fit per invocation): (corpus fingerprint, coarse-centroid
# digest, geometry) -> warehouse root holding the persisted books.
_PQBOOK_ARTIFACTS: dict[tuple, str] = {}


def _digest(arr: np.ndarray | None) -> str | None:
    """md5 of an array's bytes: a quantizer's identity in memo keys."""
    import hashlib

    if arr is None:
        return None
    return hashlib.md5(np.ascontiguousarray(arr).tobytes()).hexdigest()


def _cents_to_df(spark: SparkSession, cents: np.ndarray):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in cents[i]]) for i in range(len(cents))],
        "label int, centroid array<double>",
    )


def _books_to_df(spark: SparkSession, books: np.ndarray):
    mm, kk, _ = books.shape
    return spark.createDataFrame(
        [
            (int(s), int(c), [float(x) for x in books[s, c]])
            for s in range(mm)
            for c in range(kk)
        ],
        "subspace int, code int, centroid array<double>",
    )


def pq_codebooks_memo(
    emb: DataFrame,
    m: int,
    k_codes: int,
    sample_n: int | None = None,  # None → PQ_SAMPLE (defined below)
    iters: int | None = None,  # None → PQ_ITERS
    cents: np.ndarray | None = None,
    fp: tuple | None = None,
) -> np.ndarray:
    """Fit-once-per-(corpus, quantizer, geometry) PQ codebooks, persisted
    through the staging protocol exactly like ``ivf_centroids_memo``:
    ``cents=None`` memoizes ``fit_pq_codebooks``; with coarse centroids
    it memoizes ``fit_residual_codebooks`` keyed additionally by the
    centroid bytes (books fit against different coarse quantizers must
    never share).  Both fits are deterministic, so memo-vs-refit is
    bit-identical.  In-memory frames (no fingerprint) bypass."""
    from .staging import StagingWarehouse

    if sample_n is None:
        sample_n = PQ_SAMPLE
    if iters is None:
        iters = PQ_ITERS
    if fp is None:
        fp = _emb_fingerprint(emb)

    def fit():
        if cents is None:
            return fit_pq_codebooks(emb, m, k_codes, sample_n, iters)
        return fit_residual_codebooks(emb, cents, m, k_codes, sample_n, iters)

    if fp is None:
        return fit()
    key = (fp, _digest(cents), m, k_codes, sample_n, iters)
    root = _PQBOOK_ARTIFACTS.get(key)
    spark = emb.sparkSession
    if root is None:
        books = fit()
        root = scratch_dir("spark_graft_pqbooks_")
        wh = StagingWarehouse(spark, root)
        wh.write(_books_to_df(spark, books), "books_codebooks", incremental=False)
        _PQBOOK_ARTIFACTS[key] = root
        return books
    return load_pq_codebooks(StagingWarehouse(spark, root), table="books")


def ivf_topk_persisted(
    wh,
    queries: DataFrame,
    table: str = "ivf_index",
    k: int = TOP_K,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Query the PERSISTED IVF index through the SHARED query path
    (`_ivf_probe_and_score` — same code object as the in-memory
    ``ivf_topk``, so the two can't drift): the label isin filter lands on
    the hive partition column BEFORE the join, so unprobed inverted
    lists are pruned at file listing."""
    cents = load_ivf_centroids(wh, table)
    return _ivf_probe_and_score(wh.read(table), queries, cents, k=k, nprobe=nprobe)


def sim_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only, same inherent reason as sim_ivf_topk:
    float k-means centroids aren't engine-portable): build the
    partitioned index in a throwaway warehouse, then answer the
    benchmark queries through it."""
    wh, _ = _index_scratch(spark, "spark_graft_ivf_index_")
    emb = load(spark, sf_dir, "embeddings")
    build_ivf_index(emb, wh)
    return ivf_topk_persisted(wh, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K)


QUERIES["sim_ivf_persisted"] = sim_ivf_persisted


# ---------------------------------------------------------------------------
# cross-split embedding contamination (r6)
# ---------------------------------------------------------------------------


def corpus_crosssplit_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval contamination at the EMBEDDING level: every semantic
    near-dup pair that straddles the train / held-out boundary of the
    deterministic hash split — the leak n-gram decontamination
    (``corpus_decontaminate``) cannot see, because a paraphrased or
    reformatted eval document shares no 13-gram with its train twin but
    still sits inside the ``SEM_THRESHOLD`` cosine bar of it.  Output is one row per
    (eval doc, contaminating train doc, cosine): the removal list an
    eval-hygiene pass feeds back into the train side.

    Scale: the pair set is ``semantic_pairs`` — SRP-bucketed candidates,
    bucket-capped, exact integer-cosine verify — so cost tracks bucket
    occupancy, never |train|×|eval|.  The split lookup is a projection
    of the same md5-60 bucket expression ``corpus_hash_split`` uses
    (one narrow column, no extra shuffle: it joins on the pair's own
    vec_id keys).
    """
    from .corpus import split_expr

    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    pairs = semantic_pairs(emb, dim)
    splits = emb.select("vec_id", split_expr("vec_id").alias("split"))
    sa = splits.select(
        F.col("vec_id").alias("vec_id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("vec_id").alias("vec_id_b"), F.col("split").alias("split_b")
    )
    crossing = (
        pairs.join(sa, "vec_id_a")
        .join(sb, "vec_id_b")
        .filter((F.col("split_a") == "train") != (F.col("split_b") == "train"))
    )
    is_a_train = F.col("split_a") == "train"
    return crossing.select(
        F.when(is_a_train, F.col("vec_id_b")).otherwise(F.col("vec_id_a")).alias(
            "eval_vec_id"
        ),
        F.when(is_a_train, F.col("split_b")).otherwise(F.col("split_a")).alias(
            "eval_split"
        ),
        F.when(is_a_train, F.col("vec_id_a")).otherwise(F.col("vec_id_b")).alias(
            "train_vec_id"
        ),
        "cosine",
    )


QUERIES["corpus_crosssplit_contamination"] = corpus_crosssplit_contamination


def _crosssplit_oracle() -> str:
    from .corpus import split_case_sql

    return f'''
        WITH {_SRP_PAIR_CTES}, splits AS (
          SELECT vec_id, {split_case_sql("vec_id")} AS split
          FROM embeddings
        )
        SELECT CASE WHEN sa.split = 'train' THEN vb ELSE va END AS eval_vec_id,
               CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END
                 AS eval_split,
               CASE WHEN sa.split = 'train' THEN va ELSE vb END AS train_vec_id,
               cosine
        FROM pairs
        JOIN splits sa ON sa.vec_id = pairs.va
        JOIN splits sb ON sb.vec_id = pairs.vb
        WHERE (sa.split = 'train') <> (sb.split = 'train')
'''


ORACLE["corpus_crosssplit_contamination"] = _crosssplit_oracle()


# ---------------------------------------------------------------------------
# per-source centroid similarity (r6)
# ---------------------------------------------------------------------------


def sim_source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the
    source/domain drift matrix at the embedding level (labels stand in
    for sources here; production points the group key at the document
    source).  Two labels with cosine ≈ 1 are interchangeable domains;
    a label far from every other is out-of-distribution — the
    embedding-space companion to ``corpus_source_drift``'s token-level
    TV distance.

    Portability: cosine is scale-invariant, so cos(mean_a, mean_b) =
    cos(sum_a, sum_b) and the centroid MEAN (a per-dimension float
    division) never needs to exist — the whole computation runs on
    exact integer sums of 1e7-quantized components, with the dot/norm
    products in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): exact up to
    ~1e9 rows per label at this QUANT, far past any per-source corpus.
    Only the final cosine divides in double.

    Shape: one narrow posexplode (rows = corpus × dim), one (label, pos)
    aggregate, then everything downstream is |labels|-bounded: a
    |labels|·dim self-join on pos and a |labels|²/2 output — never a
    row-level pairwise term.
    """
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(quantize_expr()).alias("pos", "q")
    )
    sums = ex.groupBy("label", "pos").agg(F.sum("q").cast("long").alias("s"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    norms = (
        sums.groupBy("label")
        .agg(F.sum(dec("s") * dec("s")).alias("n2"))
        .filter(F.col("n2") > 0)
    )
    counts = emb.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    a, b = sums.alias("a"), sums.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(dec("a.s") * dec("b.s")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("n2_b"))
    ca = counts.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .join(ca, "label_a")
        .join(cb, "label_b")
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            "n_a",
            "n_b",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("n2_a").cast("double"))
                    * F.sqrt(F.col("n2_b").cast("double"))
                )
            ).alias("cosine"),
        )
    )


QUERIES["sim_source_centroid_similarity"] = sim_source_centroid_similarity

ORACLE["sim_source_centroid_similarity"] = f"""
    WITH dims AS (
      SELECT len(embedding) AS d FROM embeddings LIMIT 1
    ), qv AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ), pos AS (
      SELECT unnest(range(0, (SELECT d FROM dims))) AS pos
    ), ex AS (
      SELECT label, pos, qv[pos + 1] AS q FROM qv CROSS JOIN pos
    ), sums AS (
      SELECT label, pos, CAST(sum(q) AS BIGINT) AS s
      FROM ex GROUP BY label, pos
    ), norms AS (
      SELECT label, sum(s::HUGEINT * s::HUGEINT) AS n2
      FROM sums GROUP BY label
      HAVING sum(s::HUGEINT * s::HUGEINT) > 0
    ), counts AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(a.s::HUGEINT * b.s::HUGEINT) AS dot
      FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT CAST(d.label_a AS BIGINT) AS label_a,
           CAST(d.label_b AS BIGINT) AS label_b,
           ca.n AS n_a, cb.n AS n_b,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    JOIN counts ca ON ca.label = d.label_a
    JOIN counts cb ON cb.label = d.label_b
"""


# ---------------------------------------------------------------------------
# IVF-cell semantic dedup (r8) — the past-envelope handoff target
# ---------------------------------------------------------------------------

CELL_OCCUPANCY = 512  # target vectors per k-means cell (see sizing note)


def semantic_pairs_cells(
    emb: DataFrame,
    dim: int,
    threshold: float = SEM_THRESHOLD,
    k_clusters: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs via IVF CELLS — SemDeDup proper (cluster
    the embedding space with k-means, compare only within clusters) —
    the production path PAST the SRP pair family's measured envelope
    for TIGHT thresholds (probe_k_for: single-bit multi-probe holds the
    0.8 recall floor only through 9 planes ≈ 160k vectors; this path
    has no plane count to grow, and holds 0.976 recall among
    cosine-≥0.9 pairs at 200k vectors — but only 0.106 at the loose
    0.35 bar, where a ~66°-apart pair co-locates in NO angular cell
    structure; see ``cell_recall_report`` for the measured boundary).
    Each vector files into its top-2 cells (the spill assignment
    ``assign_clusters_udf`` — boundary pairs meet in at least one shared
    cell far more often than 1-assignment allows), candidates are
    co-cell pairs, and the exact integer-cosine verify is the SAME
    inline-broadcast kernel as ``semantic_pairs``.

    Sizing: ``k_clusters`` = n / CELL_OCCUPANCY holds cell occupancy
    constant, so candidate volume is ~4·occupancy·n — linear with a
    fixed constant at ANY corpus size, the property the SRP family loses
    past its envelope.  Cost of the spill: 2× postings, same trade as
    the IVF query path.

    Approximate-by-construction (float k-means has no engine-portable
    replay, so entries built on this are rows-only with an IN-BAND
    measured-recall instrument — ``cell_recall_report``), but
    deterministic: hash-ordered sample, fixed Lloyd iterations, argsort
    ties by index."""
    n_corpus = memo_count(emb)
    if k_clusters is None:
        k_clusters = max(2, (n_corpus + CELL_OCCUPANCY - 1) // CELL_OCCUPANCY)
    cents = ivf_centroids_memo(emb, k_clusters)  # fit-once (r11 #2)
    return _semantic_pairs_cells_with(emb, cents, threshold, n_corpus)


def _semantic_pairs_cells_with(
    emb: DataFrame, cents: np.ndarray, threshold: float, n_corpus: int
) -> DataFrame:
    """Cell-pair pipeline against ALREADY-FIT centroids — split out so
    the recall instrument can run the production (full-corpus) centroid
    config over a sample (the ``srp_recall_report`` discipline)."""
    from ..util import bounded_cache

    assign = assign_clusters_udf(cents)
    n_shuffle = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # cache the assigned cells: the self-join consumes the relation on
    # BOTH sides (the broadcast build included), and without the barrier
    # each side re-runs the quantize+assign Arrow pass over the whole
    # corpus — at scale that is 2× the dominant per-vector matmul against
    # n/512 centroids for a relation of two tiny (vec_id, cell) rows per
    # vector (plan evidence: plans/r14/dedup_semantic_cells_before.txt
    # carries two identical ArrowEvalPython subtrees, after.txt one)
    cells = bounded_cache(
        emb.repartition(n_shuffle)
        .select("vec_id", quantize_expr().alias("q"))
        .withColumn("labels", assign(F.col("q")))
        .select("vec_id", F.explode("labels").alias("cell"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    raw = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id_a"),
        F.col("b.vec_id").alias("vec_id_b"),
    )
    return _verified_pairs_auto(raw, emb, threshold, n_corpus)


CELL_TIGHT_COSINE = 0.9  # the SemDeDup duplicate regime (see report)


def cell_recall_report(
    emb: DataFrame,
    dim: int,
    *,
    mod: int | None = None,
    threshold: float = SEM_THRESHOLD,
) -> DataFrame:
    """Measured recall of the IVF-cell pair path against exact sample
    ground truth, stratified into the regime where cells CAN work and
    the one where nothing sub-quadratic can.

    The r8 100×-stress measurement (STRESS_x100_r8) is the honest
    story: overall recall at the LOOSE 0.35 threshold is 0.106 — a
    cosine-0.4 pair is ~66° apart and simply does not co-locate in any
    cell structure (k-means, SRP buckets, anything built on angular
    locality; SRP reads 0.599 at the same scale for the same reason) —
    while recall among TIGHT pairs (cosine ≥ 0.9, the SemDeDup
    duplicate regime) is 0.976 at 200k vectors.  So the past-envelope
    handoff (probe_k_for) is real but CONDITIONAL: tight-threshold
    semantic dedup hands off to cells with a corpus-size-independent
    constant; loose-threshold corpora beyond the SRP envelope must
    shard the corpus or raise the threshold — there is no sub-quadratic
    free lunch, and this report keeps that boundary measured rather
    than asserted.  Both recalls ride in-band (pytest pins the tight
    floor); same auto-mod sample contract as ``srp_recall_report``;
    centroids fit on the FULL corpus, the sample assigned under them."""
    from .dedup import _auto_mod, embedding_near_dup_pairs
    from ..util import bounded_cache

    n_corpus = memo_count(emb)
    if mod is None:
        mod = _auto_mod(n_corpus)
    key = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    sample = bounded_cache(emb.filter(key % mod == 0))
    exact = embedding_near_dup_pairs(
        sample, threshold=threshold, max_rows=None
    )  # carries the exact cosine for the stratification
    k_clusters = max(2, (n_corpus + CELL_OCCUPANCY - 1) // CELL_OCCUPANCY)
    cents = ivf_centroids_memo(emb, k_clusters)  # fit-once (r11 #2)
    cell = (
        _semantic_pairs_cells_with(sample, cents, threshold, memo_count(sample))
        .select("vec_id_a", "vec_id_b")
        .withColumn("_v", F.lit(1))
    )
    tight = F.col("cosine") >= CELL_TIGHT_COSINE
    counts = exact.join(cell, ["vec_id_a", "vec_id_b"], "left").agg(
        F.count("*").cast("long").alias("n_exact_pairs"),
        F.count("_v").cast("long").alias("n_cell_found"),
        F.count(F.when(tight, 1)).cast("long").alias("n_exact_tight"),
        F.count(F.when(tight, F.col("_v"))).cast("long").alias("n_found_tight"),
    )
    nsamp = sample.agg(F.count("*").cast("long").alias("n_sample_vecs"))

    def ratio(num: str, den: str):
        return (
            F.when(F.col(den) == 0, F.lit(1.0))
            .otherwise(F.col(num).cast("double") / F.col(den).cast("double"))
        )

    return counts.crossJoin(F.broadcast(nsamp)).select(
        "n_sample_vecs",
        "n_exact_pairs",
        "n_cell_found",
        ratio("n_cell_found", "n_exact_pairs").alias("recall"),
        "n_exact_tight",
        "n_found_tight",
        ratio("n_found_tight", "n_exact_tight").alias("recall_tight"),
    )


def sim_cell_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only: float k-means centroids have no
    engine-portable replay — the same inherent reason as sim_ivf_topk;
    the recall column IS the in-band evidence, floor-pinned in pytest).

    Warm/cold split (VERDICT r11 #2): the COLD first call fits the IVF
    centroids and persists them through ``ivf_centroids_memo``; every
    subsequent call on the same corpus (the bench's timed run after its
    warm-up, a production re-measurement) reads the artifact — the
    steady-state cost is the exact-sample ground truth + one assigned
    sample scan, no sample collect, no Lloyd loop."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return cell_recall_report(emb, dim)


QUERIES["sim_cell_recall_report"] = sim_cell_recall_report


def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for the cell-path pair generator itself (rows-only,
    same inherent float-centroid reason)."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return semantic_pairs_cells(emb, dim)


QUERIES["dedup_semantic_cells"] = dedup_semantic_cells


# ---------------------------------------------------------------------------
# Sharded semantic dedup — the past-envelope scale-out (VERDICT r8 #1)
# ---------------------------------------------------------------------------

# vectors per shard the sharder aims at: the measured-good operating
# point of the SRP pair family (9 planes / k=4 held 0.886 pair recall at
# 60k vectors, STRESS_x30; the envelope breaks at 11 planes / 200k —
# probe_k_for).  ceil(n / SHARD_TARGET) shards puts every shard at a
# plane count the 0.8 recall floor is measured for.
SHARD_TARGET = 60_000
# gate-scale corpora (500-2k vectors) fit one shard; the registry entry
# forces this count so the shard key is REAL under the hash gate
GATE_SHARDS = 4


def n_shards_for(n_corpus: int, shard_target: int = SHARD_TARGET) -> int:
    """ceil(n / SHARD_TARGET), min 1 — the production shard count."""
    return max(1, -(-n_corpus // shard_target))


def shard_expr(n_shards: int, col: str = "vec_id", salt: str = "shard_") -> Column:
    """Deterministic random shard id in [0, n_shards): md5-60 of the
    SALTED id, mod S.  The salt ("shard_") keeps the shard hash
    INDEPENDENT of the md5 sampling key used by the recall instruments
    (same unsalted prefix would correlate sample membership with shard
    id and bias the cross-shard miss measurement); distinct salts give
    statistically independent assignments — the OR-amplification lever
    ``semantic_pairs_resharded`` unions over.  A pure function of
    vec_id, so shard assignment is corpus-independent: a sample shards
    exactly as the full corpus does — the property
    ``sharded_recall_report`` relies on.  DuckDB twin:
    ``('0x' || substr(md5('<salt>' || CAST(vec_id AS VARCHAR)), 1,
    15))::BIGINT % S`` (the established md5-60 pairing)."""
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (key % n_shards).cast("int")


def semantic_pairs_sharded(
    emb: DataFrame,
    dim: int,
    threshold: float = SEM_THRESHOLD,
    max_bucket: int = SEM_MAX_BUCKET,
    shard_target: int = SHARD_TARGET,
    n_shards: int | None = None,
    n_planes: int | None = None,
    salt: str = "shard_",
    share_hash_pass: bool = False,
) -> DataFrame:
    """Loose-threshold semantic near-dup pairs past the SRP envelope:
    disjoint random shards, each sized INSIDE the measured ≤9-plane
    recall envelope, each running the full ``semantic_pairs`` pipeline —
    as ONE Spark plan, not a driver loop.

    The envelope problem (probe_k_for, STRESS_x100_r8): single-bit
    multi-probe pair recall saturates past 9 planes (0.599 at 11
    planes / 200k vectors), and a loose-threshold pair (~66° apart at
    cosine 0.35) co-locates in NO corpus-wide angular structure — cells
    read 0.106 there.  There is no sub-quadratic structure that finds
    them all; the scale-out is therefore EXPLICIT sharding with a
    quantified miss:

    - shard = md5-60(salted vec_id) % S with S = ceil(n / SHARD_TARGET),
      so each shard's plane count n_planes_for(ceil(n/S)) stays ≤ 9 and
      the per-shard recall floor is the MEASURED in-envelope one (≥0.8).
    - a pair is emitted iff both members land in the same shard AND the
      in-shard SRP gate finds it: recall ≈ (1/S) × in-shard recall.
      The cross-shard miss (S-1)/S is STRUCTURAL, deterministic in
      expectation, and reported in-band by ``sharded_recall_report`` —
      not silently absorbed.  Because shards are uniform random over
      pairs, the found set is an UNBIASED ~1/S sample of the loose-pair
      population: duplicate-rate estimation, diversity scoring, and
      stratified subsampling read it directly with a 1/S correction.
      Pair ENUMERATION at loose thresholds needs the tight cascade
      (``semantic_pairs_cascade``) — tight pairs (the actual duplicate
      regime) are recovered corpus-wide by the cell path at any scale.

    Execution shape: the shard id FOLDS into the bucket key
    (bucket·S + shard — injective, so same-key ⟺ same (bucket, shard)),
    which makes the whole thing the ordinary bucketed self-join with a
    wider key: no per-shard plan copies, no driver loop, S can be
    thousands on a real cluster and the plan is unchanged.  Hot-bucket
    caps apply per (table, bucket, shard) — i.e. per shard, matching a
    per-shard ``semantic_pairs`` run.  Bit-flip probes are computed on
    the UNFOLDED bucket inside the UDF, then folded, so probes stay
    within shard by construction.

    ``share_hash_pass`` (set by ``semantic_pairs_resharded`` when it
    runs >1 salted round): the SRP hash pass is salt-INDEPENDENT — only
    the shard fold over the computed bucket differs per round — so
    caching the subtree BEFORE the fold lets the R rounds share one
    Arrow hashing pass over the corpus (CacheManager matches the
    identical pre-fold plan) and each round re-applies only the cheap
    md5 fold projection.  Single-round callers keep the r12 shape: the
    extra materialization barrier has no reuse to pay for it, and the
    r14 interleaved A/B measured it as a small local LOSS there
    (dedup_semantic_planned 0.81 pair-min ratio for the revert; the
    rest of the family read noise).  The ``k == 0`` branch (≤4 planes ⇒
    gate-scale corpora by the occupancy law) deliberately ignores the
    flag: one cheap hash pass per round beats a cache barrier there
    even when rounds > 1, by the same r14 measurement.

    Fully deterministic (md5 shards + md5 hyperplanes + integer-cosine
    verify) — replays bit-for-bit in the DuckDB oracle, so the registry
    entry is HASH-GATED, unlike the float-centroid cell path."""
    from ..util import bounded_cache

    n_corpus = memo_count(emb)
    if n_shards is None:
        n_shards = n_shards_for(n_corpus, shard_target)
    if n_planes is None:
        shard_size = -(-n_corpus // n_shards)
        n_planes = n_planes_for(shard_size)
    _warn_if_past_pair_envelope(n_planes)  # only an explicit override can trip it
    k = probe_k_for(n_planes)

    def fold() -> Column:
        return F.col("bucket").cast("long") * n_shards + shard_expr(
            n_shards, salt=salt
        )

    if k == 0:
        # small-shard geometry: no shared hash cache (``share_hash_pass``
        # in the docstring)
        capped = _cap_buckets(
            _srp_bucketed(emb, dim, n_planes).withColumn("bucket", fold()),
            max_bucket,
        )
        a, b = capped.alias("a"), capped.alias("b")
        raw = a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        return _verified_pairs_auto(raw, emb, threshold, n_corpus)
    # k>0 (production shard sizes): ``allb`` is consumed on both join
    # sides within one round, so it is cached either way; the pre-fold
    # placement only pays off when the cache is SHARED across rounds
    if share_hash_pass:
        allb = bounded_cache(_srp_probed(emb, dim, n_planes, k)).withColumn(
            "bucket", fold()
        )
    else:
        allb = bounded_cache(
            _srp_probed(emb, dim, n_planes, k).withColumn("bucket", fold())
        )
    home = allb.filter(F.col("slot") == 0).drop("slot")
    capped = _cap_buckets(home, max_bucket)
    surv = capped.select("vec_id", "table_id")
    a = allb.drop("slot").join(surv, ["vec_id", "table_id"]).alias("a")
    b = capped.alias("b")
    raw = a.join(
        b,
        (F.col("a.table_id") == F.col("b.table_id"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_a"),
        F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id_b"),
    )
    return _verified_pairs_auto(raw, emb, threshold, n_corpus)


RESHARD_ROUNDS = 2


def _reshard_salt(r: int) -> str:
    """Round-r shard salt; round 0 is the canonical assignment, so
    ``semantic_pairs_resharded(rounds=1)`` ≡ ``semantic_pairs_sharded``."""
    return "shard_" if r == 0 else f"reshard{r}_"


def semantic_pairs_resharded(
    emb: DataFrame,
    dim: int,
    rounds: int = RESHARD_ROUNDS,
    threshold: float = SEM_THRESHOLD,
    max_bucket: int = SEM_MAX_BUCKET,
    shard_target: int = SHARD_TARGET,
    n_shards: int | None = None,
    n_planes: int | None = None,
    plan: "SemanticDedupPlan | None" = None,
) -> DataFrame:
    """OR-amplified sharding: union the sharded pair pass over ``rounds``
    INDEPENDENT (salted) shard assignments — the lever that turns the
    structural (S−1)/S cross-shard miss into a dial.  A loose pair
    co-shards in at least one round with probability 1 − (1 − 1/S)^R
    (S=4: 0.25 → 0.44 at R=2 → 0.68 at R=4), so expected recall is that
    times the in-envelope within-shard floor; cost is R× the per-shard
    work, still linear in corpus size and still ONE plan per round with
    the folded bucket key.  This is LSH's OR-amplification applied at
    the shard level: rounds are the bands, the in-shard SRP pass is the
    hash.  The tight regime doesn't need it (cells hold ≥0.97 there —
    ``semantic_pairs_cascade``); resharding is for pushing LOOSE-pair
    coverage past one shard sample's 1/S when a use case needs it, with
    the residual miss still measured in-band
    (``sharded_recall_report(reshard_rounds=...)``).

    Deterministic end-to-end (salted md5 shards), so hash-gated: the
    oracle is the UNION of the salted CTE twins.

    ``plan`` (from ``plan_semantic_dedup``) supplies rounds, threshold,
    shard count and plane count in one object — the planner-to-operator
    handoff; explicit keyword arguments are ignored when a plan is
    given."""
    if plan is not None:
        rounds = plan.reshard_rounds
        threshold = plan.threshold
        n_shards = plan.n_shards
        n_planes = plan.n_planes
    parts = [
        semantic_pairs_sharded(
            emb, dim, threshold=threshold, max_bucket=max_bucket,
            shard_target=shard_target, n_shards=n_shards, n_planes=n_planes,
            salt=_reshard_salt(r), share_hash_pass=rounds > 1,
        )
        for r in range(rounds)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # cosine is pair-deterministic (shard-independent verify), so the
    # cross-round duplicates are exact row duplicates
    return out.distinct()


def dedup_semantic_resharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the OR-amplified pass at GATE_SHARDS and
    RESHARD_ROUNDS — both shard assignments, their caps, probes and
    folds are REAL under the hash gate (the oracle unions the salted
    CTE twins).  Must be a strict superset of ``dedup_semantic_sharded``
    (round 0 is the same assignment; pinned in pytest)."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return semantic_pairs_resharded(emb, dim, n_shards=GATE_SHARDS)


QUERIES["dedup_semantic_resharded"] = dedup_semantic_resharded


def dedup_semantic_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the sharded pair pipeline with GATE_SHARDS forced
    (gate corpora fit one shard; a forced S=4 makes the shard fold, the
    per-shard caps, and the per-shard plane count all REAL under the
    hash gate).  Hash-gated: the whole chain is md5/integer arithmetic,
    mirrored CTE-for-CTE by ``_sharded_pair_sql``."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return semantic_pairs_sharded(emb, dim, n_shards=GATE_SHARDS)


QUERIES["dedup_semantic_sharded"] = dedup_semantic_sharded


def _sharded_pair_sql(n_shards: int, salt: str = "shard_") -> str:
    """DuckDB twin of ``semantic_pairs_sharded`` at a FIXED shard count —
    the shared _SRP_* CTE chain (which it must track) with (a) the plane
    count derived from ceil(n / S) instead of n, and (b) a shard column
    carried through buckets/caps/probes and added to the join keys
    (equivalent to the Spark side's injective bucket·S + shard fold).
    ``salt`` selects the shard assignment (the resharding rounds)."""
    shard = (
        f"CAST(('0x' || substr(md5('{salt}' || CAST(vec_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {n_shards} AS INTEGER)"
    )
    return f'''
        WITH np AS (
          SELECT LEAST(GREATEST(CAST((SELECT count(*) FROM range(0, 62) r(i)
                   WHERE (CAST(1 AS BIGINT) << CAST(r.i AS INTEGER))
                         < (SELECT (((count(*) + {n_shards - 1}) // {n_shards})
                                    + {TARGET_OCCUPANCY - 1})
                                   // {TARGET_OCCUPANCY} FROM embeddings))
                 AS INTEGER), 1), 30) AS p
        ), dims AS (
          SELECT len(embedding) AS d FROM embeddings LIMIT 1
        ), pl AS (
          SELECT t.generate_series AS t, p.generate_series AS p,
                 list_transform(range(0, (SELECT d FROM dims)),
                   i -> ((('0x' || substr(md5(
                       CAST(t.generate_series AS VARCHAR) || '_'
                       || CAST(p.generate_series AS VARCHAR) || '_'
                       || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                     % 2001) - 1000)) AS pl
          FROM generate_series(0, {N_TABLES - 1}) t,
               (SELECT CAST(r.i AS INTEGER) AS generate_series
                FROM range(0, 62) r(i)
                WHERE r.i < (SELECT p FROM np)) p
        ), qv AS (
          SELECT vec_id, {shard} AS shard,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
          FROM embeddings
        ), dots AS (
          SELECT q.vec_id, q.shard, pl.t, pl.p,
                 list_dot_product(q.qv, pl.pl) AS dot
          FROM qv q CROSS JOIN pl
        ), buckets AS (
          SELECT vec_id, shard, t,
                 CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id, shard, t
        ), capped AS (
          SELECT vec_id, shard, t, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY shard, t, bucket) AS bn
            FROM buckets
          ) WHERE bn <= {SEM_MAX_BUCKET}
        ), pk AS (
          SELECT CASE WHEN (SELECT p FROM np) <= 4 THEN 0
                      WHEN (SELECT p FROM np) <= 8 THEN 2
                      ELSE 4 END AS k
        ), probes AS (
          SELECT vec_id, shard, t, bucket FROM capped
          UNION ALL
          SELECT c.vec_id, c.shard, c.t, xor(c.bucket, CAST(1 AS BIGINT) << d.p)
          FROM capped c JOIN (
            SELECT vec_id, t, p,
                   row_number() OVER (PARTITION BY vec_id, t
                                      ORDER BY abs(dot), p) AS rk
            FROM dots
          ) d ON d.vec_id = c.vec_id AND d.t = c.t
          WHERE d.rk <= (SELECT k FROM pk)
        ), cand AS (
          SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS va,
                          GREATEST(a.vec_id, b.vec_id) AS vb
          FROM probes a JOIN capped b
            ON a.shard = b.shard AND a.t = b.t AND a.bucket = b.bucket
          WHERE a.vec_id <> b.vec_id
        ), n AS (
          SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM qv
        ), pairs AS (
          SELECT va, vb,
                 list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2))
                   AS cosine
          FROM cand
          JOIN n a ON a.vec_id = cand.va
          JOIN n b ON b.vec_id = cand.vb
          WHERE list_dot_product(a.qv, b.qv) / (sqrt(a.norm2) * sqrt(b.norm2))
                  >= {SEM_THRESHOLD}
        )
        SELECT va AS vec_id_a, vb AS vec_id_b, cosine FROM pairs
    '''


ORACLE["dedup_semantic_sharded"] = _sharded_pair_sql(GATE_SHARDS)

# UNION (which dedupes) of the salted twins — one per resharding round
ORACLE["dedup_semantic_resharded"] = "\nUNION\n".join(
    f"SELECT * FROM ({_sharded_pair_sql(GATE_SHARDS, _reshard_salt(r))})"
    for r in range(RESHARD_ROUNDS)
)


def semantic_pairs_cascade(
    emb: DataFrame,
    dim: int,
    threshold: float = SEM_THRESHOLD,
    tight_threshold: float = CELL_TIGHT_COSINE,
    shard_target: int = SHARD_TARGET,
    n_shards: int | None = None,
    reshard_rounds: int = 1,
    plan: "SemanticDedupPlan | None" = None,
) -> DataFrame:
    """The documented past-envelope CASCADE, as one operator: a TIGHT
    pass corpus-wide via the IVF cell path (``semantic_pairs_cells`` —
    no plane count to grow; 0.976 tight-pair recall measured at 200k
    vectors, corpus-size-independent constant) UNIONED with a LOOSE
    pass per random shard (``semantic_pairs_sharded`` — each shard
    inside the measured SRP recall envelope).

    What each leg buys at 100 TB: the tight leg enumerates the actual
    DUPLICATE regime (cosine ≥ tight_threshold) at any corpus size —
    that is the set SemDeDup-style pruning deletes, so it must be
    (and is) corpus-wide.  The loose leg contributes an unbiased ~1/S
    sample of the merely-SIMILAR population for rate estimation and
    diversity scoring; its structural cross-shard miss is measured
    in-band by ``sharded_recall_report``, never silently absorbed.

    Output: one row per found pair with the exact cosine and which
    pass(es) produced it — ``tight_pass`` / ``shard_pass`` flags (the
    cosines agree bit-for-bit where both fire: both legs share the one
    integer-cosine verify kernel).  Rows-only under the gate: the cell
    leg's float k-means centroids have no engine-portable replay (the
    sharded leg alone is the hash-gated entry).

    ``reshard_rounds > 1`` OR-amplifies the loose leg
    (``semantic_pairs_resharded``): co-shard probability rises to
    1 − (1 − 1/S)^R at R× the loose leg's cost — the dial a workload
    turns when an unbiased 1/S sample of the similar population isn't
    enough coverage."""
    if plan is not None:
        # the planner-to-cascade handoff: one call from corpus size +
        # recall target to the tight ∪ amplified-loose union
        threshold = plan.threshold
        n_shards = plan.n_shards
        reshard_rounds = plan.reshard_rounds
    tight = semantic_pairs_cells(emb, dim, threshold=tight_threshold)
    if reshard_rounds > 1:
        loose = semantic_pairs_resharded(
            emb, dim, rounds=reshard_rounds, threshold=threshold,
            shard_target=shard_target, n_shards=n_shards,
        )
    else:
        loose = semantic_pairs_sharded(
            emb, dim, threshold=threshold,
            shard_target=shard_target, n_shards=n_shards,
        )
    t = tight.select(
        "vec_id_a", "vec_id_b", F.col("cosine").alias("cos_t")
    )
    l = loose.select(
        "vec_id_a", "vec_id_b", F.col("cosine").alias("cos_l")
    )
    return t.join(l, ["vec_id_a", "vec_id_b"], "full").select(
        "vec_id_a",
        "vec_id_b",
        F.coalesce("cos_t", "cos_l").alias("cosine"),
        F.col("cos_t").isNotNull().alias("tight_pass"),
        F.col("cos_l").isNotNull().alias("shard_pass"),
    )


def dedup_semantic_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only: float centroids in the cell leg; the
    in-band evidence lives in ``sim_sharded_recall_report``, floor-pinned
    in pytest).  GATE_SHARDS forced, as in ``dedup_semantic_sharded``."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return semantic_pairs_cascade(emb, dim, n_shards=GATE_SHARDS)


QUERIES["dedup_semantic_cascade"] = dedup_semantic_cascade


def sharded_recall_report(
    emb: DataFrame,
    dim: int,
    *,
    mod: int | None = None,
    threshold: float = SEM_THRESHOLD,
    tight_threshold: float = CELL_TIGHT_COSINE,
    shard_target: int = SHARD_TARGET,
    n_shards: int | None = None,
    reshard_rounds: int = RESHARD_ROUNDS,
    plan: "SemanticDedupPlan | None" = None,
) -> DataFrame:
    """Stratified recall of the sharded cascade against exact sample
    ground truth — the instrument that turns the sharding design's
    promises into measured numbers (the ``cell_recall_report``
    discipline: production config over an md5-mod sample; shard
    assignment is a pure function of vec_id, so the sample shards
    EXACTLY as the full corpus does, and full-corpus centroids assign
    the sample's cells).

    One row, three claims:
    - ``recall_within_shard``: of exact loose pairs whose members share
      a shard, the fraction the in-shard SRP gate finds — must hold the
      in-envelope ≥0.8 floor at ANY corpus size (each shard is inside
      the measured envelope by construction; pinned in pytest).
    - ``recall_tight``: of exact TIGHT pairs (the duplicate regime),
      the fraction the cascade (cells ∪ shards) finds corpus-wide —
      the ≥0.8 acceptance the handoff claims.
    - ``cross_shard_miss_rate``: exact loose pairs in DIFFERENT shards
      that the cascade still missed, over all exact pairs — the
      structural (S-1)/S loss, REPORTED rather than silently absorbed
      (cells claw back the tight subset of it, so the measured miss
      sits below the structural bound)."""
    from .dedup import _auto_mod, embedding_near_dup_pairs
    from ..util import bounded_cache

    if plan is not None:
        # measure the exact configuration the planner chose — R is a
        # sized dial now, not a fixed constant
        threshold = plan.threshold
        n_shards = plan.n_shards
        reshard_rounds = plan.reshard_rounds
    n_corpus = memo_count(emb)
    if mod is None:
        mod = _auto_mod(n_corpus)
    if n_shards is None:
        n_shards = n_shards_for(n_corpus, shard_target)
    n_planes = n_planes_for(-(-n_corpus // n_shards))
    key = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    sample = bounded_cache(emb.filter(key % mod == 0))
    exact = embedding_near_dup_pairs(sample, threshold=threshold, max_rows=None)
    sh = (
        semantic_pairs_sharded(
            sample, dim, threshold=threshold,
            n_shards=n_shards, n_planes=n_planes,
        )
        .select("vec_id_a", "vec_id_b")
        .withColumn("_s", F.lit(1))
    )
    rs = (
        semantic_pairs_resharded(
            sample, dim, rounds=reshard_rounds, threshold=threshold,
            n_shards=n_shards, n_planes=n_planes,
        )
        .select("vec_id_a", "vec_id_b")
        .withColumn("_r", F.lit(1))
    )
    k_clusters = max(2, (n_corpus + CELL_OCCUPANCY - 1) // CELL_OCCUPANCY)
    cents = ivf_centroids_memo(emb, k_clusters)  # fit-once (r11 #2)
    cells = (
        _semantic_pairs_cells_with(
            sample, cents, tight_threshold, memo_count(sample)
        )
        .select("vec_id_a", "vec_id_b")
        .withColumn("_c", F.lit(1))
    )
    same_shard = shard_expr(n_shards, "vec_id_a") == shard_expr(
        n_shards, "vec_id_b"
    )
    tight = F.col("cosine") >= tight_threshold
    found = F.col("_s").isNotNull() | F.col("_c").isNotNull()
    found_rs = F.col("_r").isNotNull() | F.col("_c").isNotNull()
    counts = (
        exact.join(sh, ["vec_id_a", "vec_id_b"], "left")
        .join(cells, ["vec_id_a", "vec_id_b"], "left")
        .join(rs, ["vec_id_a", "vec_id_b"], "left")
        .withColumn("same_shard", same_shard)
        .agg(
            F.count("*").cast("long").alias("n_exact_pairs"),
            F.count(F.when(F.col("same_shard"), 1))
            .cast("long").alias("n_same_shard"),
            F.count(F.when(F.col("same_shard"), F.col("_s")))
            .cast("long").alias("n_shard_found"),
            F.count(F.when(tight, 1)).cast("long").alias("n_exact_tight"),
            F.count(F.when(tight & found, 1))
            .cast("long").alias("n_tight_found"),
            F.count(F.when(found, 1)).cast("long").alias("n_cascade_found"),
            F.count(F.when(found_rs, 1)).cast("long")
            .alias("n_resharded_found"),
            F.count(F.when(~F.col("same_shard") & ~found, 1))
            .cast("long").alias("n_cross_missed"),
        )
    )
    nsamp = sample.agg(F.count("*").cast("long").alias("n_sample_vecs"))

    def ratio(num: str, den: str):
        return (
            F.when(F.col(den) == 0, F.lit(1.0))
            .otherwise(F.col(num).cast("double") / F.col(den).cast("double"))
        )

    return counts.crossJoin(F.broadcast(nsamp)).select(
        "n_sample_vecs",
        F.lit(n_shards).cast("int").alias("n_shards"),
        F.lit(n_planes).cast("int").alias("planes_per_shard"),
        "n_exact_pairs",
        "n_same_shard",
        "n_shard_found",
        ratio("n_shard_found", "n_same_shard").alias("recall_within_shard"),
        "n_exact_tight",
        "n_tight_found",
        ratio("n_tight_found", "n_exact_tight").alias("recall_tight"),
        "n_cascade_found",
        ratio("n_cascade_found", "n_exact_pairs").alias("recall_overall"),
        F.lit(reshard_rounds).cast("int").alias("reshard_rounds"),
        "n_resharded_found",
        ratio("n_resharded_found", "n_exact_pairs")
        .alias("recall_overall_resharded"),
        "n_cross_missed",
        F.when(F.col("n_exact_pairs") == 0, F.lit(0.0))
        .otherwise(
            F.col("n_cross_missed").cast("double")
            / F.col("n_exact_pairs").cast("double")
        )
        .alias("cross_shard_miss_rate"),
    )


def sim_sharded_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only: the cells leg's float centroids — same
    inherent reason as sim_cell_recall_report; the recall columns ARE
    the in-band evidence, floor-pinned in pytest).  GATE_SHARDS forced
    so cross-shard structure exists at gate scale.

    Warm/cold split (VERDICT r11 #2): the cells leg's centroid fit is
    memoized through ``ivf_centroids_memo`` — cold call fits + persists,
    warm calls (the bench's timed run, re-measurements) read the
    artifact; the SRP shard/reshard legs have no fit (deterministic
    md5-derived planes), so their cost is identical warm and cold."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return sharded_recall_report(emb, dim, n_shards=GATE_SHARDS)


QUERIES["sim_sharded_recall_report"] = sim_sharded_recall_report


# ---------------------------------------------------------------------------
# Semantic-dedup planner — the measured sharding laws as a callable
# (VERDICT r9 #1: "turn the quantified boundary into a usable function")
# ---------------------------------------------------------------------------

# Measured calibration constants the laws predict FROM (provenance in
# SCALE.md and the STRESS artifacts; the planner tests pin predictions
# against those artifacts within ±0.05):
# - in-envelope within-shard pair recall at the loose SEM_THRESHOLD bar:
#   0.871 at 200k vectors / S=4 / 9 planes (STRESS_x100_r9
#   sharded_recall), 0.886 at 60k / S=1 (STRESS_x30).
WITHIN_SHARD_RECALL = 0.87
# - tight-regime (cosine ≥ CELL_TIGHT_COSINE) corpus-wide recall of the
#   cascade's cell leg: 0.976 cells-only, 0.990 cascade (STRESS_x100_r9).
TIGHT_CASCADE_RECALL = 0.97
# R× linear cost grows without structural limit, but past ~S rounds the
# marginal co-shard probability per round collapses — cap where the law
# says a target is effectively unreachable rather than burn unbounded
# passes (1-(1-1/S)^16 = 0.99 at S=4).
MAX_PLANNED_ROUNDS = 16


@dataclass(frozen=True)
class SemanticDedupPlan:
    """Sizing decision for a loose-threshold semantic dedup run, derived
    entirely from the measured laws:

    - ``n_shards``   S = ceil(n / shard_target) — every shard inside the
                     ≤9-plane SRP recall envelope;
    - ``n_planes``   n_planes_for(ceil(n / S)) — the per-shard SRP size;
    - ``reshard_rounds`` R = min rounds with
                     (1 − (1 − 1/S)^R) × within_shard ≥ target_recall
                     (OR-amplification law, measured tracking theory at
                     200k vectors: predicted 0.381, observed 0.384);
    - ``predicted_overall`` that expression at the chosen R;
    - ``cost_multiple`` = R (each round is one linear in-envelope pass);
    - ``achievable`` False when even MAX_PLANNED_ROUNDS can't reach the
      target (the structural answer for sub-quadratic angular search:
      the plan then carries the best reachable prediction, loudly);
    - ``regime`` "tight" when the threshold sits in the duplicate regime
      (≥ CELL_TIGHT_COSINE): the cell path is corpus-wide there, so no
      sharding or amplification is needed at any corpus size.
    """

    n_vectors: int
    threshold: float
    target_recall: float
    regime: str
    n_shards: int
    n_planes: int
    reshard_rounds: int
    predicted_within_shard: float
    predicted_overall: float
    cost_multiple: float
    achievable: bool


def predicted_resharded_recall(n_shards: int, rounds: int) -> float:
    """The OR-amplification law: expected loose-pair recall of ``rounds``
    independent shard assignments at ``n_shards`` shards — co-shard
    probability 1 − (1 − 1/S)^R times the measured in-envelope
    within-shard recall."""
    p_coshard = 1.0 - (1.0 - 1.0 / n_shards) ** rounds
    return p_coshard * WITHIN_SHARD_RECALL


def plan_semantic_dedup(
    n_vectors: int,
    target_recall: float,
    threshold: float = SEM_THRESHOLD,
    *,
    shard_target: int = SHARD_TARGET,
    max_rounds: int = MAX_PLANNED_ROUNDS,
) -> SemanticDedupPlan:
    """Size a semantic-dedup run for ``n_vectors`` embeddings and a
    recall target — S, planes, R and the predicted recall/cost, from
    the measured laws instead of docstring excavation.

    Feed the result to ``semantic_pairs_resharded(..., plan=plan)`` (or
    ``semantic_pairs_cascade`` for the tight+loose union).  At 100 TB
    the only input that changes is ``n_vectors``; every derived number
    scales with it (S in the thousands only widens the folded bucket
    key).  ``achievable=False`` is the honest boundary: loose-pair
    enumeration past the amplification budget has no sub-quadratic
    structure (SCALE.md), so the planner says so instead of silently
    under-delivering."""
    if n_vectors < 1:
        raise ValueError("n_vectors must be >= 1")
    if not (0.0 < target_recall <= 1.0):
        raise ValueError("target_recall must be in (0, 1]")
    if threshold >= CELL_TIGHT_COSINE:
        # duplicate regime: the cell path is corpus-wide — one pass,
        # no shards, no amplification, at any corpus size
        pred = TIGHT_CASCADE_RECALL
        return SemanticDedupPlan(
            n_vectors=n_vectors,
            threshold=threshold,
            target_recall=target_recall,
            regime="tight",
            n_shards=1,
            n_planes=n_planes_for(n_vectors),
            reshard_rounds=1,
            predicted_within_shard=pred,
            predicted_overall=pred,
            cost_multiple=1.0,
            achievable=target_recall <= pred,
        )
    n_shards = n_shards_for(n_vectors, shard_target)
    n_planes = n_planes_for(-(-n_vectors // n_shards))
    rounds, achievable = max_rounds, False
    for r in range(1, max_rounds + 1):
        if predicted_resharded_recall(n_shards, r) >= target_recall:
            rounds, achievable = r, True
            break
    if not achievable:
        # out-of-budget target: don't burn max_rounds passes when the
        # prediction has already plateaued — notably S=1, where recall
        # is R-independent (every salted assignment produces the same
        # single shard), so R=2..16 are 15 redundant full passes for
        # zero gain (ADVICE r10).  Clamp to the smallest R achieving
        # the best reachable prediction.
        best = predicted_resharded_recall(n_shards, max_rounds)
        rounds = next(
            r
            for r in range(1, max_rounds + 1)
            if predicted_resharded_recall(n_shards, r) >= best
        )
    return SemanticDedupPlan(
        n_vectors=n_vectors,
        threshold=threshold,
        target_recall=target_recall,
        regime="loose",
        n_shards=n_shards,
        n_planes=n_planes,
        reshard_rounds=rounds,
        predicted_within_shard=WITHIN_SHARD_RECALL,
        predicted_overall=predicted_resharded_recall(n_shards, rounds),
        cost_multiple=float(rounds),
        achievable=achievable,
    )


# Gate sizing for the planner entry: the sf0.01 gate corpus holds 500
# embeddings; a 125-vector shard target makes the planner derive S=4
# (the same shard structure the other gate entries force via
# GATE_SHARDS) and a 0.5 loose-recall target makes it derive R=3 —
# one more amplification round than RESHARD_ROUNDS, so the plan's R
# actually drives the execution under the hash gate.
GATE_PLAN_SHARD_TARGET = 125
GATE_PLAN_TARGET_RECALL = 0.5
_GATE_PLAN = plan_semantic_dedup(
    500, GATE_PLAN_TARGET_RECALL, shard_target=GATE_PLAN_SHARD_TARGET
)


def dedup_semantic_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: a PLANNER-SIZED resharded run — S, planes and R
    all come from ``plan_semantic_dedup`` (not hand-chosen constants),
    and the whole derived configuration executes under the hash gate
    (the oracle unions R salted CTE twins at the planner's S, itself
    f-string-built from the same plan object, so a planner retune
    re-derives the oracle automatically).

    Like every gate entry in this family, the shard COUNT is pinned to
    GATE_SHARDS at any corpus size (shard_target = ceil(n/S)): the law
    then derives the same R=3 at every sf, so the sf0.1 bench times the
    sf0.01-gated configuration instead of the R=14 a fixed 125-vector
    shard target would demand at 16 shards (production sizing uses the
    planner's default SHARD_TARGET; the law's full range is pytest- and
    stress-covered)."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    n = memo_count(emb)
    plan = plan_semantic_dedup(
        n,
        GATE_PLAN_TARGET_RECALL,
        shard_target=max(1, -(-n // GATE_SHARDS)),
    )
    return semantic_pairs_resharded(emb, dim, plan=plan)


QUERIES["dedup_semantic_planned"] = dedup_semantic_planned

ORACLE["dedup_semantic_planned"] = "\nUNION\n".join(
    f"SELECT * FROM ({_sharded_pair_sql(_GATE_PLAN.n_shards, _reshard_salt(r))})"
    for r in range(_GATE_PLAN.reshard_rounds)
)


# The planner's PRODUCTION path under the gate (VERDICT r10 #5): unlike
# dedup_semantic_planned (which pins the shard COUNT to GATE_SHARDS so
# the amplification loop is multi-round at any sf), this entry lets the
# planner derive S from n with the DEFAULT shard target — n_shards is
# computed, not pinned.  Gate corpora sit far below SHARD_TARGET, so the
# law lands on S=1/R=1 (one canonical-salt pass, planes from the full
# corpus count) — exactly what a production caller gets below 60k
# vectors, executed end-to-end with the oracle f-string-built from the
# same plan object.  The multi-shard derivations of the same default
# path are pytest-pinned (test_planner_laws) and stress-measured.
PROD_PLAN_TARGET_RECALL = 0.5
_PROD_GATE_PLAN = plan_semantic_dedup(500, PROD_PLAN_TARGET_RECALL)


def dedup_semantic_planned_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: ``plan_semantic_dedup(n, target)`` with every
    default — S computed from the measured corpus count and the
    production SHARD_TARGET, R from the OR-amplification law, planes
    from the per-shard envelope — then executed via the same plan
    handoff the pinned-S gate entry uses."""
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    n = memo_count(emb)
    plan = plan_semantic_dedup(n, PROD_PLAN_TARGET_RECALL)
    return semantic_pairs_resharded(emb, dim, plan=plan)


QUERIES["dedup_semantic_planned_prod"] = dedup_semantic_planned_prod

ORACLE["dedup_semantic_planned_prod"] = "\nUNION\n".join(
    f"SELECT * FROM ({_sharded_pair_sql(_PROD_GATE_PLAN.n_shards, _reshard_salt(r))})"
    for r in range(_PROD_GATE_PLAN.reshard_rounds)
)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — ADC scan over compressed codes (r11)
# ---------------------------------------------------------------------------
# The missing leg of the ANN triad (SRP-LSH buckets candidates, IVF prunes
# lists, PQ compresses the SCAN): a 100 TB embedding corpus at float32×64
# dims is 25.6 TB of vectors, but its PQ codes at 8×4-bit subspaces are
# 400 GB — the difference between "the index fits in the cluster's page
# cache" and "every query is a cold parquet scan".  Classic two-stage
# shape (Jégou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011 — public literature): an asymmetric-distance (ADC)
# scan over the code table shortlists rerank_n candidates per query from
# m table lookups per row (no float vector touched), then the exact
# re-rank fetches ONLY the shortlist's full vectors.  Both stages stream:
# the LUT (n_queries × m × k_codes float64 — kilobytes) broadcasts, the
# ADC scan prunes batch-locally exactly like `cosine_topk`, and the fetch
# is a broadcast semi-join against the source table.
#
# Like IVF (and unlike the md5-derived SRP planes), the trained float
# codebooks aren't engine-portable, so the registry entry is rows-only
# with IN-BAND recall@5 against the exact brute-force top-k; floors are
# pytest-pinned at two fixture scales, and `rerank_n == corpus` is
# pinned IDENTICAL to `cosine_topk` (the ADC stage can only ever drop
# candidates — with an exhaustive shortlist the exact re-rank IS the
# brute-force answer, a structural identity no recall floor can fake).

# Shipped defaults (m=8, k=16) DELIBERATELY deviate from plan_pq's pick
# at the same 4-byte budget (m=4, k=256) — ADVICE r11 documented the
# apparent disagreement; the resolution: plan_pq encodes the literature's
# equal-bits ordering (fewer/larger codebooks win WHEN trainable), but a
# 256-code book needs on the order of k×~40 training points PER SUBSPACE
# to not starve (empty/singleton cells freeze at their init point under
# the deterministic Lloyd loop), and the fit is capped at
# PQ_SAMPLE=10k — at gate scale (1k-10k vectors) 256-code books would
# train on ≤40 points/cell and the recall pins measure exactly that
# starvation.  k=16 keeps every cell dense at every fixture scale.
# Production callers with ≥100k training vectors should pass plan_pq's
# geometry explicitly: build_pq_index(emb, wh, m=p.m, k_codes=p.k_codes).
PQ_M = 8  # subspaces: 64-dim fixture → 8 dims each
PQ_K = 16  # codes per subspace → 4 bits; 8 codes/vec = 4 B vs 256 B float32
PQ_SAMPLE = 10_000  # codebook fit sample cap (same bound as KMEANS_SAMPLE)
PQ_ITERS = 10
PQ_RERANK = 16  # exact re-rank depth = PQ_RERANK × k


@dataclass(frozen=True)
class PQPlan:
    """Code geometry for a byte budget: ``m`` subspaces × ``k_codes``
    centroids each = ``bits_per_vector`` of index per vector."""

    dim: int
    m: int
    k_codes: int
    bits_per_vector: int
    bytes_per_vector: float
    compression_vs_float32: float


def plan_pq(dim: int, bytes_budget: float = 4.0) -> PQPlan:
    """Pick (m, k_codes) for a per-vector byte budget: maximize total
    code bits under the budget (bits are accuracy), tie-break toward
    FEWER subspaces with LARGER codebooks — at equal bits a bigger
    codebook quantizes a wider subvector jointly and captures the
    cross-dimension structure the finer split throws away (the measured
    ordering in the public PQ literature; the price is training-sample
    demand, which `fit_pq_codebooks` caps at the sample size anyway).
    ``m`` must divide ``dim`` exactly (subvectors are equal slices); the
    planner only proposes divisors, so the fit never sees a ragged
    split.

    The planner assumes the codebooks are TRAINABLE: its large-k picks
    need ≥ ~40×k training points per subspace.  The shipped PQ_M/PQ_K
    defaults intentionally sit on the small-k side for the capped
    fixture-scale fits (see the comment at PQ_M); at production training
    volumes, pass this plan's geometry into build_pq_index /
    fit_pq_codebooks explicitly."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if bytes_budget * 8 < 2:
        raise ValueError("bytes_budget too small for even one 4-code subspace")
    best = None
    for m in range(1, dim + 1):
        if dim % m:
            continue
        for k in (256, 64, 16, 4):
            bits = m * int(np.log2(k))
            if bits > bytes_budget * 8:
                continue
            key = (bits, k)  # total bits first, then codebook size
            if best is None or key > best[0]:
                best = (key, m, k, bits)
    if best is None:
        raise ValueError(
            f"no (m, k) geometry fits dim={dim} in {bytes_budget} bytes"
        )
    _, m, k, bits = best
    return PQPlan(
        dim=dim,
        m=m,
        k_codes=k,
        bits_per_vector=bits,
        bytes_per_vector=bits / 8.0,
        compression_vs_float32=(4.0 * dim) / (bits / 8.0),
    )


PQ_PLAN_MIN_TRAIN_PER_CODE = 40  # trainability bound: ≥40×k points/subspace


def _resolve_pq_geometry(
    emb: DataFrame, m: int | None, k_codes: int | None, n: int | None = None
) -> tuple[int, int, int]:
    """(m, k_codes, fit_sample_n) for an index build (VERDICT r12 #6).
    Explicit arguments are honored verbatim.  With defaults (``None``),
    adopt ``plan_pq``'s geometry — the equal-bits-fewer-subspaces
    optimum — WHEN the corpus clears the trainability bound its own
    docstring states (≥ ``PQ_PLAN_MIN_TRAIN_PER_CODE × k`` training
    points per subspace, raising the fit sample to that bound); below
    it, keep the dense fixture-scale defaults (PQ_M/PQ_K), whose every
    cell stays populated at any fixture size.  One count against the
    corpus decides — the planner's pick stops being advice the caller
    must remember to apply.  Builds that already evaluated the corpus
    fingerprint pass its row count as ``n`` so the decision costs no
    extra scan."""
    if m is not None and k_codes is not None:
        return m, k_codes, PQ_SAMPLE
    dim = len(emb.select(quantize_expr().alias("q")).first()["q"])
    plan = plan_pq(dim)
    need = PQ_PLAN_MIN_TRAIN_PER_CODE * plan.k_codes
    if (memo_count(emb) if n is None else n) >= need:
        return (
            m if m is not None else plan.m,
            k_codes if k_codes is not None else plan.k_codes,
            max(PQ_SAMPLE, need),
        )
    return (m if m is not None else PQ_M), (
        k_codes if k_codes is not None else PQ_K
    ), PQ_SAMPLE


def fit_pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    sample_n: int = PQ_SAMPLE,
    iters: int = PQ_ITERS,
) -> np.ndarray:
    """Per-subspace Lloyd k-means on a bounded deterministic sample —
    the PQ codebooks, fit exactly the way `fit_ivf_centroids` fits the
    coarse quantizer (xxhash64 sample order, init = first k sampled
    points, empty clusters keep their previous centroid, no RNG state).
    Vectors are unit-normalized BEFORE slicing so the ADC dot decomposes
    the cosine: cos(q, x) = Σ_s q_s · x_s ≈ Σ_s q_s · c[s, code_s(x)].
    Returns an (m, k_codes, dim/m) float64 array."""
    return _subspace_lloyd(_unit_sample(emb, sample_n), m, k_codes, iters)


def _subspace_lloyd(X: np.ndarray, m: int, k_codes: int, iters: int) -> np.ndarray:
    """The PQ codebook fit shared by plain and residual codes: Lloyd
    k-means per subspace slice of the rows of ``X`` (init = first
    ``k_codes`` rows, empty clusters keep their previous centroid)."""
    if len(X) == 0:
        raise ValueError("cannot fit PQ codebooks on an empty sample")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim} (use plan_pq)")
    dsub = dim // m
    k_codes = min(k_codes, len(X))
    books = np.empty((m, k_codes, dsub), dtype=np.float64)
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        cents = sub[:k_codes].copy()
        c2 = (cents * cents).sum(axis=1)
        for _ in range(iters):
            # ||x-c||² = ||x||² − 2x·c + ||c||²; ||x||² is constant per
            # row so the argmin needs only the last two terms
            d2 = c2[None, :] - 2.0 * (sub @ cents.T)
            assign = d2.argmin(axis=1)  # first-min ties → deterministic
            for c in range(k_codes):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
            c2 = (cents * cents).sum(axis=1)
        books[s] = cents
    return books


def pq_encode_udf(books: np.ndarray):
    """pandas UDF: quantized vector → its m-byte PQ code (nearest
    codebook centroid per subspace, L2 on the unit-normalized vector).
    The codebook array rides the closure (m × k × dsub float64 — a few
    KB), so the corpus is encoded in ONE distributed pass, one numpy
    matmul per subspace per Arrow batch."""
    from pyspark.sql.pandas.functions import pandas_udf

    m, _, dsub = books.shape
    b2 = (books * books).sum(axis=2)  # (m, k)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _encode(qs: pd.Series) -> pd.Series:
        mat = np.stack(qs.map(lambda v: np.asarray(v, dtype=np.float64)))
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            d2 = b2[s][None, :] - 2.0 * (sub @ books[s].T)
            codes[:, s] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return _encode


def _pq_codes(emb: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, codes): the plain-PQ code table of ``emb``."""
    return emb.select("vec_id", pq_encode_udf(books)(quantize_expr()).alias("codes"))


_ADC_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("adc", T.DoubleType()),
    ]
)


def _pq_adc_shortlist(
    codes_df: DataFrame, queries: DataFrame, books: np.ndarray, *, rerank_n: int
) -> DataFrame:
    """Stage 1 of the PQ query: asymmetric-distance scan over the CODE
    table only.  Per query the LUT[s, c] = q_subspace_s · codebook[s, c]
    is precomputed on the driver ((n_q, m, k) float64 — kilobytes) and
    broadcast; each Arrow batch then scores every code row against every
    query with m fancy-indexed lookups — no float vector is read, which
    is the entire point at 100 TB.  Batch-local top-``rerank_n`` pruning
    uses the same tie-safe threshold rule as `cosine_topk` (keep every
    row at or above the boundary score) so the global shortlist window
    sees ≤ rerank_n·n_batches rows per query, never the corpus."""
    spark = codes_df.sparkSession
    q_ids, q_mat, q_norms = _collect_quantized(queries)
    qf = q_mat.astype(np.float64)
    qf /= np.maximum(np.sqrt(q_norms.astype(np.float64)), 1e-30)[:, None]
    m, _, dsub = books.shape
    lut = np.einsum("qsd,scd->qsc", qf.reshape(len(qf), m, dsub), books)
    bc = spark.sparkContext.broadcast((q_ids, lut))

    def scan(it):
        ids_q, lut_b = bc.value
        nq = len(ids_q)
        for pdf in it:
            if len(pdf) == 0 or nq == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["codes"].map(lambda v: np.asarray(v, dtype=np.int64)))
            sc = np.zeros((len(c_ids), nq), dtype=np.float64)
            for s in range(lut_b.shape[1]):
                sc += lut_b[:, s, codes[:, s]].T
            sc[c_ids[:, None] == ids_q[None, :]] = -np.inf  # exclude self
            n_rows = sc.shape[0]
            kk = min(rerank_n, n_rows)
            thresh = np.partition(sc, n_rows - kk, axis=0)[n_rows - kk, :]
            mask = (sc >= thresh[None, :]) & np.isfinite(sc)
            ci, qi = np.nonzero(mask)
            yield pd.DataFrame(
                {"query_id": ids_q[qi], "vec_id": c_ids[ci], "adc": sc[ci, qi]}
            )

    scored = codes_df.select("vec_id", "codes").mapInPandas(scan, _ADC_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= rerank_n)
        .select("query_id", "vec_id", "adc_rank")
    )


def _pq_rerank(cand: DataFrame, emb: DataFrame, queries: DataFrame, *, k: int) -> DataFrame:
    """Stage 2: fetch ONLY the shortlist's full vectors (broadcast join —
    the shortlist is rerank_n×n_queries rows by construction) and hand
    them to the shared exact re-ranker."""
    cand_q = emb.select("vec_id", quantize_expr().alias("q")).join(
        F.broadcast(cand), "vec_id"
    )
    return _exact_topk_over_candidates(cand_q, queries, k=k)


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """PQ approximate top-k, in-memory lifecycle: fit codebooks on a
    capped sample, encode the corpus in one pass, ADC-shortlist
    ``rerank × k`` candidates per query from the codes alone, exact
    re-rank the shortlist.  ``rerank`` is the recall dial and its cost
    is explicit: the exact stage touches rerank·k·n_queries vectors
    regardless of corpus size."""
    books = fit_pq_codebooks(emb, m, k_codes)
    cand = _pq_adc_shortlist(_pq_codes(emb, books), queries, books, rerank_n=rerank * k)
    return _pq_rerank(cand, emb, queries, k=k)


def build_pq_index(
    emb: DataFrame,
    wh,
    table: str = "pq_index",
    m: int | None = None,
    k_codes: int | None = None,
) -> np.ndarray:
    """Materialize the PQ index through the staging warehouse: the code
    table (vec_id, codes — the 4-byte-per-vector artifact the ADC scan
    reads) plus the codebook table beside it, the same fit-once/
    write-once lifecycle as `build_ivf_index` and the BPE artifact.
    Returns the fitted codebooks; `load_pq_codebooks` recovers them
    without refitting.

    Geometry defaults auto-adopt ``plan_pq``'s pick when the corpus
    clears the trainability bound and keep the dense fixture defaults
    below it (``_resolve_pq_geometry``, VERDICT r12 #6); explicit
    ``m``/``k_codes`` are honored verbatim.  The codebook fit is
    memoized per (corpus, geometry) through ``pq_codebooks_memo``."""
    _, books = _memo_quantizers(emb, None, m, k_codes)
    wh.write(_pq_codes(emb, books), table, incremental=False)
    _write_books_and_stats(emb, wh, table, books)
    return books


def _memo_quantizers(
    emb: DataFrame, k_clusters: int | None, m: int | None, k_codes: int | None
) -> tuple[np.ndarray | None, np.ndarray]:
    """An index build's memoized quantizers: coarse centroids when
    ``k_clusters`` is given (else ``None``), then the PQ codebooks —
    fit on residuals against those centroids — in the geometry
    ``_resolve_pq_geometry`` picks.  One fingerprint evaluation feeds
    both memos AND the geometry decision (the content aggregate already
    counts the corpus)."""
    fp = _emb_fingerprint(emb)
    m, k_codes, fit_sample = _resolve_pq_geometry(
        emb, m, k_codes, n=None if fp is None else fp[2]
    )
    cents = None if k_clusters is None else ivf_centroids_memo(emb, k_clusters, fp=fp)
    books = pq_codebooks_memo(emb, m, k_codes, sample_n=fit_sample, cents=cents, fp=fp)
    return cents, books


def _write_books_and_stats(
    emb: DataFrame, wh, table: str, books: np.ndarray, cents: np.ndarray | None = None
) -> None:
    """The codebook table and the stats table beside an index: the
    stats hold the training-distribution quantization error, the drift
    baseline the appends compare new batches against."""
    spark = emb.sparkSession
    wh.write(_books_to_df(spark, books), f"{table}_codebooks", incremental=False)
    train_mse = _quant_mse(emb, books, cents)
    stats_df = spark.createDataFrame(
        [("train_quant_mse", float(train_mse))], "metric string, value double"
    )
    wh.write(stats_df, f"{table}_stats", incremental=False)


#: (corpus fingerprint, quantizer digests, sample_n) -> quantization MSE.
#: The drift probes are PURE deterministic values of (corpus sample,
#: frozen quantizers) — the same argument that memoizes the fits
#: themselves (VERDICT r12 #7): re-collecting the hash-ordered sample and
#: re-running the reconstruction per lifecycle invocation is one sort +
#: collect job of pure overhead each time.  First evaluation always
#: computes; in-memory frames (no fingerprint) bypass.
_QUANT_MSE_MEMO: dict[tuple, float] = {}


def _quant_mse(
    emb: DataFrame,
    books: np.ndarray,
    cents: np.ndarray | None = None,
    sample_n: int = PQ_SAMPLE,
) -> float:
    """Mean squared PQ reconstruction error over the fits' bounded
    deterministic sample: per vector, the L2² gap between the
    unit-normalized vector — with ``cents``, its top-1-list residual —
    and its per-subspace nearest codes.  THE code-health number: it
    rises exactly when incoming vectors stop looking like the
    distribution the frozen codebooks were trained on."""
    fp = _emb_fingerprint(emb)
    key = None if fp is None else (fp, _digest(cents), _digest(books), sample_n)
    if key is not None and key in _QUANT_MSE_MEMO:
        return _QUANT_MSE_MEMO[key]
    X = _unit_sample(emb, sample_n)
    if len(X) == 0:
        return 0.0
    if cents is not None:
        X = X - cents[(X @ cents.T).argmax(axis=1)]
    m, _, dsub = books.shape
    b2 = (books * books).sum(axis=2)
    err = 0.0
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        d2 = b2[s][None, :] - 2.0 * (sub @ books[s].T)
        codes = d2.argmin(axis=1)
        err += ((sub - books[s][codes]) ** 2).sum()
    out = float(err / len(X))
    if key is not None:
        if len(_QUANT_MSE_MEMO) > 512:
            _QUANT_MSE_MEMO.clear()  # crude bound; refills on demand
        _QUANT_MSE_MEMO[key] = out
    return out


def pq_append(
    emb_new: DataFrame,
    wh,
    table: str = "pq_index",
    *,
    batch_id: str | None = None,
    drift_refit_ratio: float = 2.0,
) -> dict:
    """Incremental PQ maintenance — the plain-index twin of
    ``ivfpq_append`` (same contract, same pins pattern): encode NEW
    vectors against the FROZEN codebooks in one distributed pass and
    append their codes through the atomic batch commit (idempotent
    ``batch_id`` retries).  Under frozen codebooks
    ``append(A∪B) ≡ build(A) + append(B)`` code-for-code, so queries
    through ``pq_topk_persisted`` can't tell how the index was grown.
    Returns the same drift instrumentation dict (new batch's
    reconstruction MSE vs the stored training baseline →
    ``drift_ratio`` / ``refit_recommended``)."""
    books = load_pq_codebooks(wh, table)
    train = _load_train_mse(wh, table)
    codes = _pq_codes(emb_new, books)
    report = wh.write(codes, table, incremental=True, batch_id=batch_id)
    return {
        "codes_written": report.records_written,
        **_drift_report(emb_new, books, None, train, drift_refit_ratio),
    }


def _drift_report(emb_new, books, cents, train, drift_refit_ratio) -> dict:
    """An append's drift instrument: the new batch's quantization MSE
    against the stored training baseline ``train``, the
    ``_load_train_mse`` pair.  Appends load that pair BEFORE they
    write, so a malformed stats table fails the call before any
    commit."""
    new_mse = _quant_mse(emb_new, books, cents)
    train_mse, baseline = train
    ratio = new_mse / train_mse if train_mse > 0 else float("inf")
    return {
        "new_quant_mse": new_mse,
        "train_quant_mse": train_mse,
        "drift_ratio": ratio,
        "refit_recommended": ratio > drift_refit_ratio,
        "baseline_available": baseline,
    }


def _load_train_mse(wh, table: str) -> tuple[float, bool]:
    """(train_quant_mse, baseline_available) from the index's stats
    table.  An index built before the stats table existed has none —
    the append must still COMMIT and report (drift_ratio=inf, no
    baseline) instead of failing after its encode already landed
    (ADVICE r12 #4).  Only a MISSING table means "no baseline": a stats
    table that exists but is malformed raises."""
    try:
        rows = _small_table_rows(wh, f"{table}_stats")
    except FileNotFoundError:
        return 0.0, False
    mse = {r["metric"]: r["value"] for r in rows}.get("train_quant_mse")
    return (float(mse), True) if mse is not None else (0.0, False)


def load_pq_codebooks(wh, table: str = "pq_index") -> np.ndarray:
    """Codebook array back from the warehouse, ordered by (subspace,
    code) — an m×k×dsub driver-side read (tiny by construction)."""
    rows = sorted(
        _small_table_rows(wh, f"{table}_codebooks"),
        key=lambda r: (r["subspace"], r["code"]),
    )
    m = 1 + max(r["subspace"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    dsub = len(rows[0]["centroid"])
    books = np.empty((m, k, dsub), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["code"]] = r["centroid"]
    return books


def pq_topk_persisted(
    wh,
    emb: DataFrame,
    queries: DataFrame,
    table: str = "pq_index",
    k: int = TOP_K,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """Query the PERSISTED PQ index through the same stage functions as
    the in-memory `pq_topk` (`_pq_adc_shortlist` + `_pq_rerank` — shared
    code objects, so the two can't drift): the ADC scan reads the stored
    code table, and only the shortlist fetch touches ``emb``."""
    books = load_pq_codebooks(wh, table)
    cand = _pq_adc_shortlist(wh.read(table), queries, books, rerank_n=rerank * k)
    return _pq_rerank(cand, emb, queries, k=k)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only — trained float codebooks aren't
    engine-portable, the same inherent reason as IVF): PQ top-k with the
    in-band ``recall_at_5`` column against the exact brute-force top-5,
    the `sim_ivf_topk` harness shape.  Floors pinned in
    tests/test_pq.py at two fixture scales, plus the exhaustive-
    shortlist identity (rerank ≥ corpus ⇒ bit-equal to `cosine_topk`)."""
    emb = _load_emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return _with_recall(pq_topk(emb, queries, k=TOP_K), emb, queries)


QUERIES["sim_pq_topk"] = sim_pq_topk
# approximate → rows-only; recall vs brute force asserted in tests


def sim_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only — trained float codebooks): the plain-PQ
    incremental lifecycle, the `sim_ivfpq_append` twin without the
    coarse quantizer.  Build on the first half, `pq_append` the second
    against frozen codebooks, answer the benchmark queries through the
    grown code table; per-query recall@5 vs full-corpus brute force and
    the append's drift ratio ride in-band.  The append≡build code
    identity and the drift instrument's firing point are pinned in
    tests/test_pq.py."""
    return _sim_grown(_PQ, spark, sf_dir, "spark_graft_pq_append_")


def _sim_grown(kind, spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """The append registry entries' harness: build the kind's index on
    the first half of the corpus, append the second half, query the
    grown index; recall@5 and the append's drift report ride in-band."""
    wh, _ = _index_scratch(spark, prefix)
    emb = _load_emb(spark, sf_dir)
    n = memo_count(emb)
    kind.build(emb.filter(F.col("vec_id") < n // 2), wh)
    rep = kind.append(emb.filter(F.col("vec_id") >= n // 2), wh, batch_id="growth-1")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    res = kind.topk(wh, emb, queries, k=TOP_K)
    return (
        _with_recall(res, emb, queries)
        .withColumn("drift_ratio", F.lit(float(rep["drift_ratio"])))
        .withColumn("refit_recommended", F.lit(bool(rep["refit_recommended"])))
    )


QUERIES["sim_pq_append"] = sim_pq_append
# approximate + trained codebooks → rows-only; identity + drift pins in tests


def pq_recall_curve(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    reranks: tuple[int, ...] = (5, 10, 20, 40, 80, 160),
    m: int = PQ_M,
    k_codes: int = PQ_K,
) -> DataFrame:
    """Measured recall@k per re-rank depth — the PQ tuning instrument
    (the `sim_srp_recall_curve` shape: the dial is ``rerank`` and this
    row set is what you tune it against).

    One ADC pass suffices for the WHOLE curve: a true top-k neighbor
    that makes the ADC shortlist always survives the exact re-rank (at
    most k−1 vectors in the entire corpus score above it, so it cannot
    be pushed out of the final top-k), hence end-to-end recall at depth
    R is exactly the fraction of brute-force top-k pairs whose ADC rank
    is ≤ R.  So: shortlist once at max(reranks), left-join the exact
    top-k onto the ADC ranks, and read every depth off the same joined
    frame — no repeated pipeline runs."""
    books = fit_pq_codebooks(emb, m, k_codes)
    shortlist = _pq_adc_shortlist(
        _pq_codes(emb, books), queries, books, rerank_n=max(reranks)
    ).withColumnRenamed("vec_id", "neighbor_id")
    exact = cosine_topk(emb, queries, k=k).select("query_id", "neighbor_id")
    hit = exact.join(shortlist, ["query_id", "neighbor_id"], "left")
    per_q = hit.groupBy("query_id").agg(
        *[
            (
                F.sum(
                    F.when(F.col("adc_rank") <= r, 1).otherwise(0)
                )
                / F.lit(float(k))
            ).alias(f"r{r}")
            for r in reranks
        ]
    )
    curves = [
        per_q.select(
            F.lit(int(r)).alias("rerank"),
            F.avg(f"r{r}").alias("avg_recall"),
            F.min(f"r{r}").alias("min_recall"),
            F.count("*").alias("n_queries"),
        )
        for r in reranks
    ]
    out = curves[0]
    for c in curves[1:]:
        out = out.unionByName(c)
    return out


def sim_pq_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only — trained codebooks, like IVF): the
    rerank→recall@5 curve on the benchmark query set.  Monotonicity and
    a floor at the production PQ_RERANK depth are pytest-pinned."""
    emb = _load_emb(spark, sf_dir)
    return pq_recall_curve(emb, emb.filter(F.col("vec_id") < N_QUERIES))


QUERIES["sim_pq_recall_curve"] = sim_pq_recall_curve
# approximate-instrument → rows-only; curve properties asserted in tests


# ---------------------------------------------------------------------------
# IVFPQ — coarse list pruning × residual PQ codes (r11)
# ---------------------------------------------------------------------------
# The composition the two indexes exist for (the classic IVFADC layout of
# the PQ paper): the IVF quantizer prunes WHICH hive partitions are read
# (cost ∝ corpus/k_clusters × nprobe, file-listing pruning on the
# persisted index) and PQ compresses WHAT is read inside them (m bytes of
# code per posting instead of the vector).  Codes quantize the RESIDUAL
# x − c(list): residuals concentrate near zero so a shared codebook spends
# its codes on the part of the vector the coarse quantizer didn't already
# explain, and the inner-product decomposes exactly —
#     q·x ≈ q·c(list) + q·resid_code
# — so the ADC scan needs only the (n_q × k_clusters) q·c table plus the
# same (n_q, m, k) residual LUT every list shares.  Both ride one
# broadcast.  The exact re-rank is the shared `_pq_rerank` tail.

IVFPQ_RERANK = 16  # exact re-rank depth = IVFPQ_RERANK × k


def fit_residual_codebooks(
    emb: DataFrame,
    cents: np.ndarray,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    sample_n: int = PQ_SAMPLE,
    iters: int = PQ_ITERS,
) -> np.ndarray:
    """PQ codebooks fit on RESIDUALS (unit-normalized sample vector minus
    its nearest coarse centroid) — the same capped deterministic sample
    and RNG-free Lloyd as `fit_pq_codebooks`, shifted into residual
    space.  One shared codebook set across lists (the standard IVFPQ
    memory trade: k_clusters × private codebooks would overfit the
    per-list sample anyway)."""
    X = _unit_sample(emb, sample_n)
    R = X - cents[(X @ cents.T).argmax(axis=1)]  # minus the nearest centroid
    return _subspace_lloyd(R, m, k_codes, iters)


def ivfpq_encode_udf(cents: np.ndarray, books: np.ndarray, n_assign: int = IVF_N_ASSIGN):
    """pandas UDF: quantized vector → its spill-assigned postings, an
    array of (label, codes) structs — one struct per assigned list, each
    carrying the PQ code of the residual w.r.t. THAT list's centroid
    (the same vector filed in two lists has two different residuals).
    One distributed pass encodes the whole index."""
    from pyspark.sql.pandas.functions import pandas_udf

    n_assign = min(n_assign, len(cents))
    m, _, dsub = books.shape
    b2 = (books * books).sum(axis=2)
    out_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("label", T.IntegerType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )
    )

    @pandas_udf(out_t)
    def _encode(qs: pd.Series) -> pd.Series:
        mat = np.stack(qs.map(lambda v: np.asarray(v, dtype=np.float64)))
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        top = np.argsort(-(mat @ cents.T), axis=1, kind="stable")[:, :n_assign]
        n = len(mat)
        # vectorized per assignment RANK: one residual matrix and m
        # batch matmuls per rank, never a per-row Python loop (argmin
        # keeps first-min ties — same order the scalar path resolved)
        codes_by_rank = np.empty((n_assign, n, m), dtype=np.int64)
        for j in range(n_assign):
            resid = mat - cents[top[:, j]]
            for s in range(m):
                sub = resid[:, s * dsub : (s + 1) * dsub]
                d2 = b2[s][None, :] - 2.0 * (sub @ books[s].T)
                codes_by_rank[j, :, s] = d2.argmin(axis=1)
        rows = [
            [
                {"label": int(top[i, j]), "codes": [int(c) for c in codes_by_rank[j, i]]}
                for j in range(n_assign)
            ]
            for i in range(n)
        ]
        return pd.Series(rows)

    return _encode


def build_ivfpq_index(
    emb: DataFrame,
    wh,
    table: str = "ivfpq_index",
    k_clusters: int = N_CLUSTERS,
    m: int | None = None,
    k_codes: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the IVFPQ index: postings (vec_id, codes) PARTITIONED
    BY list label — probing nprobe lists is parquet partition pruning at
    file listing, and what those partitions hold is m-byte codes, not
    vectors.  Centroids and residual codebooks land beside it (tiny).
    Returns (centroids, codebooks); the loaders recover both without
    refitting.

    Both quantizer fits are memoized per corpus (``ivf_centroids_memo``
    / ``pq_codebooks_memo`` — VERDICT r12 #7: the append gate entry was
    re-fitting identical quantizers per invocation), and the PQ
    geometry auto-adopts ``plan_pq`` past the trainability bound
    (``_resolve_pq_geometry``, VERDICT r12 #6)."""
    cents, books = _memo_quantizers(emb, k_clusters, m, k_codes)
    postings = _ivfpq_postings(emb, cents, books)
    wh.write(postings, table, incremental=False, partition_by=["label"])
    wh.write(
        _cents_to_df(emb.sparkSession, cents), f"{table}_centroids", incremental=False
    )
    _write_books_and_stats(emb, wh, table, books, cents)
    return cents, books


def _ivfpq_postings(emb: DataFrame, cents: np.ndarray, books: np.ndarray) -> DataFrame:
    """(vec_id, label, codes): one row per spill-assigned posting."""
    encode = ivfpq_encode_udf(cents, books)
    return (
        emb.select("vec_id", encode(quantize_expr()).alias("postings"))
        .select("vec_id", F.explode("postings").alias("p"))
        .select("vec_id", F.col("p.label").alias("label"), F.col("p.codes").alias("codes"))
    )


def ivfpq_append(
    emb_new: DataFrame,
    wh,
    table: str = "ivfpq_index",
    *,
    batch_id: str | None = None,
    drift_refit_ratio: float = 2.0,
) -> dict:
    """Incremental IVFPQ maintenance (VERDICT r11 #5): encode NEW vectors
    against the FROZEN coarse centroids and residual codebooks and append
    their postings to the partitioned index — the standard FAISS
    add-without-retrain.  At 100 TB the corpus grows daily; re-running
    ``build_ivfpq_index`` per batch refits quantizers over the whole
    history (a full-corpus shuffle + fit), while append is ONE
    distributed encode pass over just the new batch, landing through the
    staging warehouse's atomic batch commit (``batch_id`` gives
    exactly-once retries for free; postings stay hive-partitioned by
    list inside each batch, so probes still prune at file listing across
    however many appends accumulated).

    Under frozen codebooks the encode is deterministic, so
    ``append(A∪B) ≡ build(A) + append(B)`` posting-for-posting
    (hash-pinned in tests/test_pq.py) — queries through
    ``ivfpq_topk_persisted`` cannot tell how the index was grown.

    THE DRIFT INSTRUMENT: frozen codebooks quantize yesterday's
    distribution; when the data moves, recall decays silently.  Each
    append measures the new batch's residual-quantization MSE against
    the ``train_quant_mse`` baseline stored at build time and returns
    ``drift_ratio`` (new/train) plus ``refit_recommended`` (ratio >
    ``drift_refit_ratio``) — the number that tells the user WHEN to pay
    for a refit, instead of guessing a cadence."""
    cents, books = load_ivfpq(wh, table)
    train = _load_train_mse(wh, table)
    report = wh.write(
        _ivfpq_postings(emb_new, cents, books),
        table,
        incremental=True,
        partition_by=["label"],
        batch_id=batch_id,
    )
    return {
        "postings_written": report.records_written,
        **_drift_report(emb_new, books, cents, train, drift_refit_ratio),
    }


def _ivfpq_adc_shortlist(
    postings: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    *,
    nprobe: int,
    rerank_n: int,
) -> DataFrame:
    """IVFPQ stage 1: probe selection + masked ADC scan over the probed
    postings.  The label isin filter lands BEFORE anything else — on the
    persisted index that IS the partition pruning; rows from a list no
    query probed are never read.  Inside a batch, q·x is reconstructed as
    q·c(label) (the broadcast n_q×k_clusters table) plus the residual LUT
    sum; (query, row) pairs whose label the query did NOT probe are
    masked out, and spill duplicates keep only their best-scoring posting
    before the shortlist window (a duplicated candidate would distort
    row_number depth).  The batch-local tie-safe top-R prune runs on the
    (query, vector) MAX-DEDUPED scores (ADVICE r11: pruning raw postings
    let a vector's two spill postings each count against the rerank_n
    budget, so R−1 doubly-posted better vectors in one batch could cut a
    true global top-R member; deduping before the threshold restores the
    tie-safe shortlist claim — cross-batch spills still collapse in the
    global groupBy-max)."""
    spark = postings.sparkSession
    q_ids, q_mat, q_norms = _collect_quantized(queries)
    qf = q_mat.astype(np.float64)
    qf /= np.maximum(np.sqrt(q_norms.astype(np.float64)), 1e-30)[:, None]
    m, _, dsub = books.shape
    lut = np.einsum("qsd,scd->qsc", qf.reshape(len(qf), m, dsub), books)
    qdotc = qf @ cents.T  # (n_q, k_clusters)
    order = np.argsort(-qdotc, axis=1, kind="stable")[:, :nprobe]
    probe_mask = np.zeros_like(qdotc, dtype=bool)
    for i in range(len(q_ids)):
        probe_mask[i, order[i]] = True
    needed = sorted({int(l) for row in order for l in row})
    bc = spark.sparkContext.broadcast((q_ids, lut, qdotc, probe_mask))

    def scan(it):
        ids_q, lut_b, qdotc_b, mask_b = bc.value
        nq = len(ids_q)
        for pdf in it:
            if len(pdf) == 0 or nq == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labels = pdf["label"].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["codes"].map(lambda v: np.asarray(v, dtype=np.int64)))
            sc = qdotc_b[:, labels].T.copy()  # (n, n_q): the q·c term
            for s in range(lut_b.shape[1]):
                sc += lut_b[:, s, codes[:, s]].T
            sc[~mask_b[:, labels].T] = -np.inf  # unprobed (query, list) pairs
            sc[c_ids[:, None] == ids_q[None, :]] = -np.inf  # exclude self
            # in-batch spill dedupe BEFORE the prune: max score per
            # (vector, query) via sort + segmented reduce (reduceat) —
            # vectorized, no per-row Python
            uniq, inv = np.unique(c_ids, return_inverse=True)
            if len(uniq) != len(c_ids):
                order_i = np.argsort(inv, kind="stable")
                starts = np.searchsorted(inv[order_i], np.arange(len(uniq)))
                sc = np.fmax.reduceat(sc[order_i], starts, axis=0)
                c_uniq = uniq
            else:
                c_uniq = c_ids
            n_rows = sc.shape[0]
            kk = min(rerank_n, n_rows)
            thresh = np.partition(sc, n_rows - kk, axis=0)[n_rows - kk, :]
            mask = (sc >= thresh[None, :]) & np.isfinite(sc)
            ci, qi = np.nonzero(mask)
            yield pd.DataFrame(
                {"query_id": ids_q[qi], "vec_id": c_uniq[ci], "adc": sc[ci, qi]}
            )

    scored = (
        postings.filter(F.col("label").isin(needed))
        .select("vec_id", "label", "codes")
        .mapInPandas(scan, _ADC_SCHEMA)
    )
    # spill dedupe: keep each (query, vector)'s best posting score
    best = scored.groupBy("query_id", "vec_id").agg(F.max("adc").alias("adc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    return (
        best.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= rerank_n)
        .select("query_id", "vec_id", "adc_rank")
    )


def load_ivfpq(wh, table: str = "ivfpq_index") -> tuple[np.ndarray, np.ndarray]:
    return load_ivf_centroids(wh, table), load_pq_codebooks(wh, table)


def ivfpq_topk_persisted(
    wh,
    emb: DataFrame,
    queries: DataFrame,
    table: str = "ivfpq_index",
    k: int = TOP_K,
    nprobe: int = N_PROBE,
    rerank: int = IVFPQ_RERANK,
) -> DataFrame:
    """Query the persisted IVFPQ index: probed partitions → masked ADC →
    the shared exact re-ranker (`_pq_rerank`, same code object as plain
    PQ; only the shortlist fetch touches ``emb``)."""
    cents, books = load_ivfpq(wh, table)
    cand = _ivfpq_adc_shortlist(
        wh.read(table), queries, cents, books, nprobe=nprobe, rerank_n=rerank * k
    )
    return _pq_rerank(cand, emb, queries, k=k)


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    k_clusters: int = N_CLUSTERS,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    nprobe: int = N_PROBE,
    rerank: int = IVFPQ_RERANK,
) -> DataFrame:
    """In-memory IVFPQ lifecycle (fit + encode + query in one plan) —
    the same stage functions as the persisted path."""
    cents = fit_ivf_centroids(emb, k_clusters)
    books = fit_residual_codebooks(emb, cents, m, k_codes)
    postings = _ivfpq_postings(emb, cents, books)
    cand = _ivfpq_adc_shortlist(
        postings, queries, cents, books, nprobe=nprobe, rerank_n=rerank * k
    )
    return _pq_rerank(cand, emb, queries, k=k)


def sim_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only — trained float quantizers, the IVF/PQ
    reason): build the partitioned IVFPQ index in a throwaway warehouse
    as a VERSIONED generation (control-store pointer — VERDICT r12 #2),
    answer the benchmark queries through the pointer, and carry
    ``recall_at_5`` vs brute force plus the answering
    ``index_generation`` in-band (floors in tests/test_pq.py, plus the
    exhaustive identity: nprobe = k_clusters AND rerank ≥ corpus ⇒
    bit-equal to `cosine_topk`)."""
    wh, control = _index_scratch(spark, "spark_graft_ivfpq_index_")
    emb = _load_emb(spark, sf_dir)
    build_ivfpq_versioned(emb, wh, control)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    res = ivfpq_topk_current(wh, control, emb, queries, k=TOP_K)
    return _with_recall(res, emb, queries)


QUERIES["sim_ivfpq_persisted"] = sim_ivfpq_persisted
# approximate → rows-only; recall vs brute force asserted in tests


def sim_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only — trained float quantizers): the
    INCREMENTAL index lifecycle.  Build the IVFPQ index on the first
    half of the corpus, grow it with ``ivfpq_append`` over the second
    half (frozen codebooks, one encode pass, atomic batch commit), and
    answer the benchmark queries through the GROWN index.  In-band
    evidence: per-query ``recall_at_5`` vs brute force over the FULL
    corpus, plus the append's drift instrumentation (``drift_ratio`` of
    the appended batch vs the training baseline) — the two numbers an
    operator watches on a daily-growth index.  The build(A)+append(B) ≡
    build(A∪B) posting identity is hash-pinned in tests/test_pq.py."""
    return _sim_grown(_IVFPQ, spark, sf_dir, "spark_graft_ivfpq_append_")


QUERIES["sim_ivfpq_append"] = sim_ivfpq_append
# approximate + trained quantizers → rows-only; identity + drift pins in tests


# ---------------------------------------------------------------------------
# Versioned index generations: drift-triggered refit-and-swap (VERDICT r12 #2)
# ---------------------------------------------------------------------------
# An append keeps an index CURRENT under growth, and its drift
# instrument says WHEN the frozen quantizers have aged out — but acting on
# ``refit_recommended`` needs machinery: at 100 TB a refit re-trains and
# re-encodes for hours BESIDE live queries, so the new index must build
# under a different name and become visible in one atomic act.  The index
# artifact is therefore VERSIONED: generation g lives in physical tables
# ``<table>__g000g`` (codes + quantizers + stats), and "current" is
# published through the ControlStore artifact log — one append to the
# atomically-replaced control file repoints every reader (the
# staging-manifest CURRENT discipline, applied to whole indexes).
# Readers resolve the pointer per query; a query planned against the old
# generation keeps reading its (still-present) tables; superseded
# generations are reaped AFTER the swap by ``expire_index_generations``.
# Both index kinds (IVFPQ, plain PQ) run ONE lifecycle: a frozen
# ``_IndexKind`` names a kind's build / append / persisted-query
# callables, the component tables of one generation and its compaction
# arguments (the table-driven binding idiom of PySpark's
# ``functions._create_function``); the public ``ivfpq_*`` / ``pq_*``
# lifecycle names bind the kind-generic functions below.

ANN_INDEX_KIND = "ann_index_generation"


def _index_physical(table: str, generation: int) -> str:
    return f"{table}__g{generation:04d}"


def current_index_generation(control, table: str = "ivfpq_index") -> dict | None:
    """The published 'current' pointer for a versioned index — newest
    artifact wins, the ``latest_config`` read discipline."""
    return control.latest_artifact(ANN_INDEX_KIND, table)


def resolve_index_table(control, table: str = "ivfpq_index") -> tuple[str, int]:
    """(physical table, generation) a reader should use NOW.  An index
    never published through the log resolves to its plain name as
    generation 0 (pre-versioning compatibility)."""
    art = current_index_generation(control, table)
    if art is None:
        return table, 0
    return art["physical"], int(art["generation"])


@dataclass(frozen=True)
class _IndexKind:
    table: str  # default logical table name
    build: Callable[..., object]  # (emb, wh, table=, **geometry)
    append: Callable[..., dict]  # (emb_new, wh, table=, batch_id=, drift_refit_ratio=)
    topk: Callable[..., DataFrame]  # (wh, emb, queries, table=, k=, ...)
    components: tuple[str, ...]  # table-name suffixes of one generation
    compact: dict  # rewrite_compact_files arguments


_IVFPQ = _IndexKind(
    "ivfpq_index",
    build_ivfpq_index,
    ivfpq_append,
    ivfpq_topk_persisted,
    ("", "_centroids", "_codebooks", "_stats"),
    {"partition_by": ["label"]},
)
# the plain code table has no label dirs: it packs to a flat file count
_PQ = _IndexKind(
    "pq_index",
    build_pq_index,
    pq_append,
    pq_topk_persisted,
    ("", "_codebooks", "_stats"),
    {"n_files": 16},
)


def _publish_generation(kind, emb, wh, control, table, gen, geometry) -> dict:
    """Build generation ``gen`` into its physical tables, THEN publish
    the pointer — a reader never resolves to a half-built generation.
    The artifact append is THE swap: the control store's tmp+replace
    flush shows readers the old or the new generation wholly."""
    phys = _index_physical(table, gen)
    kind.build(emb, wh, table=phys, **geometry)
    control.put_artifact(ANN_INDEX_KIND, table, {"generation": gen, "physical": phys})
    return {"generation": gen, "physical": phys}


def _refit(kind, emb_full, wh, control, table, keep_generations=1, **geometry) -> dict:
    """Act on ``refit_recommended``: train NEW quantizers on the grown
    corpus, re-encode it into generation g+1 beside the live index,
    atomically repoint 'current', then expire superseded generations.
    Queries keep answering against generation g for the entire refit;
    the swap costs one pointer read.  Returns the new pointer plus the
    generations reaped."""
    gen = resolve_index_table(control, table)[1] + 1
    out = _publish_generation(kind, emb_full, wh, control, table, gen, geometry)
    out["expired"] = expire_index_generations(
        wh, control, table, keep_last=keep_generations
    )
    return out


def expire_index_generations(
    wh, control, table: str = "ivfpq_index", keep_last: int = 1
) -> list[str]:
    """Reap physical tables of generations older than the newest
    ``keep_last`` — the snapshot-expiry discipline applied to whole
    index artifacts (reclamation only: the swap already made them
    unreachable through the pointer).  Physical names are deterministic,
    so crashed-refit leftovers below the horizon are reaped too.  Every
    kind's component suffixes are tried: a component the table's kind
    never wrote drops as a no-op."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    _, cur_gen = resolve_index_table(control, table)
    components = dict.fromkeys(c for kind in (_IVFPQ, _PQ) for c in kind.components)
    reaped = []
    for g in range(1, cur_gen - keep_last + 1):
        phys = _index_physical(table, g)
        dropped = False
        for component in components:
            dropped = wh.drop_table(phys + component) or dropped
        if dropped:
            reaped.append(phys)
    return reaped


def _append_current(kind, emb_new, wh, control, table, **append_kw) -> dict:
    """The kind's append routed through the generation pointer: new
    vectors land in whichever generation is current, and the report
    carries that generation so an orchestrator can act on
    ``refit_recommended`` with the refit."""
    phys, gen = resolve_index_table(control, table)
    rep = kind.append(emb_new, wh, table=phys, **append_kw)
    rep["generation"] = gen
    return rep


def _topk_current(kind, wh, control, emb, queries, table, **query_kw) -> DataFrame:
    """Query through the generation pointer; the answering generation
    rides in-band so a result can always be traced to the index version
    that produced it."""
    phys, gen = resolve_index_table(control, table)
    res = kind.topk(wh, emb, queries, table=phys, **query_kw)
    return res.withColumn("index_generation", F.lit(int(gen)))


def _compact(wh, control, table, **rewrite_kw) -> dict:
    """Bin-pack the CURRENT generation's code table.  Every append
    commits one more ``ingest_batch=`` dir, so after k appends a scan
    opens O(k) parquet files — at index scale the file listing, not the
    code bytes, becomes the query cost.  Quantizers, the generation
    pointer and query results are untouched (result identity pinned in
    tests/test_pq.py).  Safe beside concurrent appends — the rewrite
    replaces only the batches it read."""
    phys, gen = resolve_index_table(control, table)
    before = len(wh.data_files(phys))
    wh.rewrite_compact_files(phys, **rewrite_kw)
    return {
        "generation": gen,
        "physical": phys,
        "files_before": before,
        "files_after": len(wh.data_files(phys)),
    }


# how many committed posting batches an index generation accumulates
# before maintain_index bin-packs them (each append = one batch = one
# more file per probed label partition; past this, listing cost beats
# the rewrite cost it amortizes)
INDEX_COMPACT_AFTER_BATCHES = 8


def _maintain(
    kind, emb_new, wh, control, table, emb_full, compact_after, refit_kw, **append_kw
) -> dict:
    """One hands-free maintenance turn for a versioned index — the
    orchestration that closes the loop the drift instrument opened (the
    continuously-adaptive maintenance loop of CASS): append the batch
    through the current generation; if the report says
    ``refit_recommended`` AND the caller supplied the grown corpus
    (``emb_full``), refit (new quantizers, re-encode, atomic pointer
    swap); otherwise, once the generation's committed batch history
    passes ``compact_after``, bin-pack it with the kind's compaction
    arguments.  Exactly one heavy action per turn — a refit re-encodes
    everything anyway, so compaction after it is moot.

    Returns the append report plus ``actions`` (subset of
    {"refit", "compact"}) and the post-turn generation, so a scheduler
    can log what each turn did.  Idempotent per ``batch_id`` like the
    append it wraps.

    A default-geometry refit re-derives the geometry from the GROWN
    corpus through the planner — intentional: the refit exists because
    the old geometry aged out, and the trainability bound is exactly
    what changed.  Callers that need geometry or retention continuity
    pass ``refit_kwargs`` (forwarded to the refit verbatim, e.g.
    ``{"k_clusters": 4, "m": 4, "k_codes": 8, "keep_generations": 2}``)."""
    rep = _append_current(kind, emb_new, wh, control, table, **append_kw)
    actions: list[str] = []
    if rep.get("refit_recommended") and emb_full is not None:
        sw = _refit(kind, emb_full, wh, control, table, **(refit_kw or {}))
        rep["generation"] = sw["generation"]
        actions.append("refit")
    else:
        phys, _gen = resolve_index_table(control, table)
        if len(wh.snapshots(phys)) > compact_after:
            rep["compact_report"] = _compact(wh, control, table, **kind.compact)
            actions.append("compact")
    rep["actions"] = actions
    return rep


def build_ivfpq_versioned(
    emb: DataFrame,
    wh,
    control,
    table: str = _IVFPQ.table,
    k_clusters: int = N_CLUSTERS,
    m: int | None = None,
    k_codes: int | None = None,
) -> dict:
    """Generation-1 build of a versioned IVFPQ index."""
    geometry = {"k_clusters": k_clusters, "m": m, "k_codes": k_codes}
    return _publish_generation(_IVFPQ, emb, wh, control, table, 1, geometry)


def build_pq_versioned(
    emb: DataFrame,
    wh,
    control,
    table: str = _PQ.table,
    m: int | None = None,
    k_codes: int | None = None,
) -> dict:
    """Generation-1 build of a versioned plain-PQ index."""
    geometry = {"m": m, "k_codes": k_codes}
    return _publish_generation(_PQ, emb, wh, control, table, 1, geometry)


def ivfpq_refit(
    emb_full: DataFrame,
    wh,
    control,
    table: str = _IVFPQ.table,
    *,
    k_clusters: int = N_CLUSTERS,
    m: int | None = None,
    k_codes: int | None = None,
    keep_generations: int = 1,
) -> dict:
    """Refit-and-swap a versioned IVFPQ index (``_refit``)."""
    return _refit(
        _IVFPQ, emb_full, wh, control, table, keep_generations,
        k_clusters=k_clusters, m=m, k_codes=k_codes,
    )


def pq_refit(
    emb_full: DataFrame,
    wh,
    control,
    table: str = _PQ.table,
    *,
    m: int | None = None,
    k_codes: int | None = None,
    keep_generations: int = 1,
) -> dict:
    """Refit-and-swap a versioned plain-PQ index (``_refit``)."""
    return _refit(
        _PQ, emb_full, wh, control, table, keep_generations, m=m, k_codes=k_codes
    )


def ivfpq_append_current(
    emb_new: DataFrame,
    wh,
    control,
    table: str = _IVFPQ.table,
    *,
    batch_id: str | None = None,
    drift_refit_ratio: float = 2.0,
) -> dict:
    """``ivfpq_append`` routed through the generation pointer."""
    return _append_current(
        _IVFPQ, emb_new, wh, control, table,
        batch_id=batch_id, drift_refit_ratio=drift_refit_ratio,
    )


def pq_append_current(
    emb_new: DataFrame,
    wh,
    control,
    table: str = _PQ.table,
    *,
    batch_id: str | None = None,
    drift_refit_ratio: float = 2.0,
) -> dict:
    """``pq_append`` routed through the generation pointer."""
    return _append_current(
        _PQ, emb_new, wh, control, table,
        batch_id=batch_id, drift_refit_ratio=drift_refit_ratio,
    )


def ivfpq_topk_current(
    wh,
    control,
    emb: DataFrame,
    queries: DataFrame,
    table: str = _IVFPQ.table,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
    rerank: int = IVFPQ_RERANK,
) -> DataFrame:
    """Query a versioned IVFPQ index through the generation pointer."""
    return _topk_current(
        _IVFPQ, wh, control, emb, queries, table, k=k, nprobe=nprobe, rerank=rerank
    )


def pq_topk_current(
    wh,
    control,
    emb: DataFrame,
    queries: DataFrame,
    table: str = _PQ.table,
    k: int = TOP_K,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """Query a versioned plain-PQ index through the generation pointer."""
    return _topk_current(_PQ, wh, control, emb, queries, table, k=k, rerank=rerank)


def ivfpq_compact(wh, control, table: str = _IVFPQ.table) -> dict:
    """Bin-pack the current IVFPQ generation to ~one file per label dir."""
    return _compact(wh, control, table, **_IVFPQ.compact)


def pq_compact(
    wh, control, table: str = _PQ.table, n_files: int = _PQ.compact["n_files"]
) -> dict:
    """Bin-pack the current plain-PQ generation into ``n_files`` files."""
    return _compact(wh, control, table, n_files=n_files)


def maintain_index(
    emb_new: DataFrame,
    wh,
    control,
    table: str = _IVFPQ.table,
    *,
    batch_id: str | None = None,
    drift_refit_ratio: float = 2.0,
    emb_full: DataFrame | None = None,
    compact_after: int = INDEX_COMPACT_AFTER_BATCHES,
    refit_kwargs: dict | None = None,
) -> dict:
    """One maintenance turn for a versioned IVFPQ index (``_maintain``)."""
    return _maintain(
        _IVFPQ, emb_new, wh, control, table, emb_full, compact_after, refit_kwargs,
        batch_id=batch_id, drift_refit_ratio=drift_refit_ratio,
    )


def maintain_pq_index(
    emb_new: DataFrame,
    wh,
    control,
    table: str = _PQ.table,
    *,
    batch_id: str | None = None,
    drift_refit_ratio: float = 2.0,
    emb_full: DataFrame | None = None,
    compact_after: int = INDEX_COMPACT_AFTER_BATCHES,
    refit_kwargs: dict | None = None,
) -> dict:
    """One maintenance turn for a versioned plain-PQ index (``_maintain``)."""
    return _maintain(
        _PQ, emb_new, wh, control, table, emb_full, compact_after, refit_kwargs,
        batch_id=batch_id, drift_refit_ratio=drift_refit_ratio,
    )


def sim_ivfpq_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only — trained float quantizers): the FULL
    versioned-index lifecycle an operator runs on a drifting corpus.
    Build generation 1 on the first half, grow it with an append (drift
    instrument fires in-band), ``ivfpq_refit`` on the whole corpus —
    new quantizers, re-encode, one atomic pointer swap, old generation
    expired — then answer the benchmark queries through the repointed
    current.  In-band: ``index_generation`` (2 — proof the swap landed),
    the pre-refit ``drift_ratio``, and per-query ``recall_at_5`` vs
    brute force.  Swap-boundary correctness and old-generation expiry
    are pinned in tests/test_pq.py."""
    wh, control = _index_scratch(spark, "spark_graft_ivfpq_refit_")
    emb = _load_emb(spark, sf_dir)
    n = memo_count(emb)
    build_ivfpq_versioned(emb.filter(F.col("vec_id") < n // 2), wh, control)
    rep = ivfpq_append_current(
        emb.filter(F.col("vec_id") >= n // 2), wh, control, batch_id="growth-1"
    )
    ivfpq_refit(emb, wh, control)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    res = ivfpq_topk_current(wh, control, emb, queries, k=TOP_K)
    return _with_recall(res, emb, queries).withColumn(
        "pre_refit_drift_ratio", F.lit(float(rep["drift_ratio"]))
    )


QUERIES["sim_ivfpq_refit"] = sim_ivfpq_refit
# approximate + trained quantizers → rows-only; swap pins in tests/test_pq.py


def sim_ivfpq_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only — trained float quantizers): the
    hands-free maintenance loop on a versioned index.  Build generation
    1 on the first half of the corpus (the same frame the refit entry
    builds, so the quantizer fits memo-share within a gate run), then
    two ``maintain_index`` turns over the second half: below the drift
    bar the turns append, and once the generation's batch history
    passes ``compact_after`` the turn bin-packs the postings
    (``ivfpq_compact`` — the small-files bound every probed label
    partition needs after incremental growth).  Queries answer through
    the generation pointer afterwards.  In-band: ``index_generation``
    (still 1 — the fixture never trips drift), the second turn's
    ``actions``, and the compact's ``files_before``/``files_after``
    (the compaction must strictly shrink the probe's file listing).
    Result identity across the compact and the refit-on-drift turn are
    pinned in tests/test_pq.py."""
    wh, control = _index_scratch(spark, "spark_graft_ivfpq_maintain_")
    emb = _load_emb(spark, sf_dir)
    n = memo_count(emb)
    build_ivfpq_versioned(emb.filter(F.col("vec_id") < n // 2), wh, control)
    mid = n // 2 + (n - n // 2) // 2
    rep1 = maintain_index(
        emb.filter((F.col("vec_id") >= n // 2) & (F.col("vec_id") < mid)),
        wh,
        control,
        batch_id="turn-0",
        compact_after=2,
    )
    rep2 = maintain_index(
        emb.filter(F.col("vec_id") >= mid),
        wh,
        control,
        batch_id="turn-1",
        compact_after=2,
    )
    cf = rep2.get("compact_report", {})
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    res = ivfpq_topk_current(wh, control, emb, queries, k=TOP_K)
    return (
        res.withColumn("turn1_actions", F.lit(",".join(rep1["actions"])))
        .withColumn("turn2_actions", F.lit(",".join(rep2["actions"])))
        .withColumn("files_before", F.lit(int(cf.get("files_before", -1))))
        .withColumn("files_after", F.lit(int(cf.get("files_after", -1))))
    )


QUERIES["sim_ivfpq_maintain"] = sim_ivfpq_maintain
# approximate + trained quantizers → rows-only; compact/refit-turn pins
# in tests/test_pq.py
