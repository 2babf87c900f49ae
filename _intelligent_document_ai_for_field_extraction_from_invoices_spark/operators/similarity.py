"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline — one broadcast of the
  query vector, native `aggregate`/`zip_with` dot products (JVM-side), a
  TakeOrderedAndProject top-k (no full sort)
- IVF-bucketed ANN: the scale path — assign every vector to its nearest of
  C deterministic centroids once (one narrow pass), then probe only the
  query's bucket. At 10^12 rows the bucket assignment is the partition key,
  so a query touches 1/C of the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .dedup import (  # shared cache registry and bucket primitives
    _bq, _cap_hot_keys, _self_join_pairs, register_cache, release_caches,
)

__all__ = [
    "cosine_knn", "label_centroid_norms", "kmeans_centroids", "ivf_assign",
    "cosine_near_dup_pairs", "ivf_ann_query", "cosine_col", "release_caches",
    "seed_centroids", "hyperplane_lsh_pairs", "plane_sign", "plane_dot_sql",
    "signature_sql", "hyperplane_banded_buckets",
    "HYPERPLANE_PLANES", "HYPERPLANE_BANDS", "HYPERPLANE_SQL_TERM_LIMIT",
]


def _unit_vectors(emb: DataFrame, key: str, vec_col: str) -> DataFrame:
    """(key, uvec): vectors normalized ONCE, so every downstream pair
    cosine is a single dot-product fold — shared by both embedding
    near-dup paths (IVF and hyperplane-LSH) so precision/guard changes
    can't desynchronize them."""
    # O(dim) per row, NOT the obvious two-step select: projecting `nrm`
    # in one select and dividing inside transform() in the next lets
    # Catalyst's CollapseProject inline the whole norm FOLD into the
    # per-element lambda — the 768-term sum re-evaluates for EVERY
    # element, O(dim^2)/row (measured: 43 s to normalize 20k x 768 at
    # sf1, vs ~2 s for this shape). array_repeat evaluates the norm
    # ONCE per row and zip_with divides elementwise against the
    # materialized copies; the emitted values are bit-identical.
    v = F.col(_bq(vec_col))
    return emb.select(
        F.col(_bq(key)),
        F.zip_with(v, F.array_repeat(_norm(v), F.size(v)),
                   lambda x, n: x.cast("double") / n).alias("uvec"),
    )


def seed_centroids(emb: DataFrame, num_centroids: int, key: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """The deterministic seed-centroid choice (vectors with key <
    num_centroids) — reproducible in the ANSI oracles; the shared default
    for ivf_assign / ivf_ann_query and the CLI's --build-index."""
    return emb.filter(F.col(key) < num_centroids).select(
        F.col(key).alias("centroid_id"), F.col(vec_col).alias("cvec"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _argmax_centroid(scored: DataFrame, group_col: str, keep_cols: list[str]):
    """Per-group argmax over (sim desc, centroid_id asc) as ONE aggregate —
    never `row_number()` over a Window, which would sort every
    (vector, centroid) scored row; the aggregate partial-combines map-side,
    so the shuffle carries one row per vector instead of one per scored
    pair. At 10^12 vectors that is a full sort and a C-fold shuffle saved.

    `sim` must already be rounded to 6 dp (every caller does). That makes
    the ordering encodable as ONE exact BIGINT — round(sim*1e6)*2^32 -
    centroid_id — so when nothing else rides along Spark can use a
    HashAggregate (struct-valued max_by buffers force SortAggregate).
    With `keep_cols` (the k-means loop carries the vector through) the
    struct form is used: still Window-free and map-side combining, just
    sort-based within partitions."""
    order = (F.round(F.col("sim") * 1e6).cast("long") * F.lit(1 << 32)
             - F.col("centroid_id").cast("long"))
    if not keep_cols:
        return scored.groupBy(group_col).agg(
            F.max_by("centroid_id", order).alias("centroid_id"),
            F.max("sim").alias("sim"),  # the argmax winner's sim IS max(sim)
        )
    best = F.max_by(F.struct("centroid_id", "sim", *keep_cols),
                    F.struct(F.col("sim").alias("s"),
                             (-F.col("centroid_id")).alias("nc")))
    return (
        scored.groupBy(group_col).agg(best.alias("best"))
        .select(group_col, "best.*")
    )


def cosine_knn(emb: DataFrame, query_vec_id: int, k: int = 10,
               key: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k vs one stored vector. The query side is a
    1-row broadcast (no shuffle); ordering has an explicit key tie-break."""
    q = emb.filter(F.col(key) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    return (
        emb.filter(F.col(key) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            key,
            F.round(cosine_col(F.col(vec_col), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(key))
        .limit(k)
    )


def label_centroid_norms(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label mean L2 norm — sanity aggregate over the vector column."""
    return (
        emb.select("label", _norm(F.col(vec_col)).alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
        )
    )


def kmeans_centroids(emb: DataFrame, num_centroids: int = 8, iters: int = 2,
                     key: str = "vec_id", vec_col: str = "embedding",
                     persist_iterations: bool = False) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding column — the trained
    replacement for the seeded IVF centroids.

    Everything is native DataFrame ops: init centroids = per-(key % k)
    element-wise means (posexplode -> groupBy(cluster, pos) avg), each
    iteration broadcasts the k x dim centroid table, assigns by cosine with
    an explicit (sim desc, centroid_id asc) tie-break (`max_by` aggregate —
    map-side combine, no window sort), and recomputes means. Deterministic
    given the data AND across engines: centroid means and assignment sims
    are rounded to 6 dp each iteration, so FP summation-order differences
    (partial-agg order in Spark vs sequential in a SQL engine) cannot flip
    an argmax — this is what lets contract._kmeans_oracle_sql replicate the
    whole training loop in DuckDB and hash-match.

    Per-iteration cost is one shuffle of n x dim (pos, val) rows — the
    standard distributed-k-means profile; k and dim are small so every
    centroid table broadcast is trivial. With `persist_iterations` each
    assignment is persisted (and the previous one released), so iteration
    i+1's centroid scan does not re-run iterations 0..i's whole chain —
    turn it on for iters > 2; off by default to keep short trainings
    allocation-free."""
    ex = emb.select(F.col(key).alias("k"), F.col(vec_col).alias("v"))
    # init: element-wise mean per (key % num_centroids) bucket
    assigned = ex.select(
        (F.col("k") % num_centroids).cast("int").alias("cid"), "v")
    prev = None
    for _ in range(iters + 1):
        if persist_iterations:
            assigned = assigned.persist()
            assigned.count()  # materialize before releasing the parent
            if prev is not None:
                prev.unpersist()
            prev = assigned
        cents = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos").agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ps"))
            .select(F.col("cid").alias("centroid_id"),
                    F.transform("ps", lambda s: s["m"]).alias("cvec"))
        )
        # reassign by cosine against the fresh centroids
        scored = ex.join(F.broadcast(cents)).select(
            "k", "v", "centroid_id",
            F.round(cosine_col(F.col("v"), F.col("cvec")), 6).alias("sim"),
        )
        assigned = _argmax_centroid(scored, "k", ["v"]).select(
            F.col("centroid_id").alias("cid"), "v")
    if persist_iterations and prev is not None:
        # cut the lineage off the persisted assignment before releasing it:
        # the centroid table is k x dim (tiny by construction), so a driver
        # round-trip is cheaper than localCheckpoint (which would pin blocks)
        cents = emb.sparkSession.createDataFrame(cents.collect(), cents.schema)
        prev.unpersist()
    return cents


def _ivf_scores_sql(emb: DataFrame, cents: DataFrame, key: str,
                    vec_col: str) -> DataFrame:
    """(key, centroid_id, sim) scored rows as native expressions: the
    broadcast centroid table joined to every vector, one `cosine_col`
    fold per pair, rounded to 6 dp."""
    return emb.select(key, vec_col).join(F.broadcast(cents)).select(
        key,
        "centroid_id",
        F.round(cosine_col(F.col(vec_col), F.col("cvec")), 6).alias("sim"),
    )


def _ivf_scores_arrow(emb: DataFrame, cents: DataFrame, key: str,
                      vec_col: str) -> DataFrame:
    """(key, centroid_id, sim) scored rows as ONE Arrow stage (r7
    optimization): the centroid table is C-bounded by construction, so
    it is collected and its rows ship in the task closure; each batch
    scores against the whole bank with j-ascending NumPy accumulations
    that replay the JVM `cosine_col` fold EXACTLY — dot and both norm
    folds are left-associative over j, sqrt is IEEE-correctly-rounded in
    both runtimes, and the denominator multiplies norms before the
    divide in the same order. Length-mismatched (vector, centroid) pairs,
    NULL vectors and NULL centroids (or ones with a NULL element) emit
    NULL, replicating zip_with's NULL poisoning. Rounding to 6 dp stays
    in Spark (HALF_UP). Bit-equality with `_ivf_scores_sql` is pinned by
    tests/test_similarity_kmeans.py."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.types import DoubleType  # noqa: PLC0415

    out_t = StructType([StructField("k", emb.schema[key].dataType),
                        StructField("centroid_id",
                                    cents.schema["centroid_id"].dataType),
                        StructField("_raw", DoubleType())])
    cents = [(cid, None if cv is None or None in cv
              else [float(x) for x in cv])
             for cid, cv in cents.collect()]
    cid_list = [cid for cid, _ in cents]
    n_cents = len(cents)

    def run(batches):
        import numpy as np  # noqa: PLC0415

        # per-dim centroid banks: positions in `cents` order, matrix,
        # and each centroid's norm (one left-assoc fold per centroid —
        # the same double the JVM fold yields per pair)
        by_dim: dict = {}
        for pos, (_cid, cv) in enumerate(cents):
            if cv is not None:  # a NULL centroid scores NULL everywhere
                by_dim.setdefault(len(cv), []).append(pos)
        banks = {}
        for dim, poss in by_dim.items():
            mat_c = np.asarray([cents[p][1] for p in poss],
                               dtype=np.float64)
            accn = np.zeros(mat_c.shape[0], dtype=np.float64)
            for j in range(dim):
                accn += mat_c[:, j] * mat_c[:, j]
            banks[dim] = (poss, mat_c, np.sqrt(accn))
        for pdf in batches:
            vs = pdf["v"].tolist()
            karr = pdf["k"].tolist()
            n = len(vs)
            cos_full = np.zeros((n, n_cents), dtype=np.float64)
            valid = np.zeros((n, n_cents), dtype=bool)
            by_len: dict = {}
            for i, v in enumerate(vs):
                if v is None:
                    continue  # NULL embedding -> NULL sim row (sql tier)
                by_len.setdefault(len(v), []).append(i)
            for dim, idxs in by_len.items():
                if dim not in banks:
                    continue  # length mismatch vs every centroid -> NULL
                poss, mat_c, nc = banks[dim]
                mat = np.asarray([vs[i] for i in idxs], dtype=np.float64)
                dots = np.zeros((mat.shape[0], mat_c.shape[0]),
                                dtype=np.float64)
                accv = np.zeros(mat.shape[0], dtype=np.float64)
                for j in range(dim):
                    col = mat[:, j]
                    dots += col[:, None] * mat_c[:, j]
                    accv += col * col
                denom = np.sqrt(accv)[:, None] * nc[None, :]
                if np.any(denom == 0.0):
                    # the expression tier raises DIVIDE_BY_ZERO under
                    # ANSI mode on zero-norm vectors/centroids — fail
                    # identically instead of silently emitting NaN
                    raise ArithmeticError(
                        "ivf_assign: division by zero in cosine scoring "
                        "(zero-norm vector or centroid)")
                cos = dots / denom
                cos_full[np.ix_(idxs, poss)] = cos
                valid[np.ix_(idxs, poss)] = True
            ks = [k for k in karr for _ in range(n_cents)]
            cids = [cid for _ in range(n) for cid in cid_list]
            raws = [float(cos_full[i, c]) if valid[i, c] else None
                    for i in range(n) for c in range(n_cents)]
            yield pd.DataFrame({
                "k": pd.Series(ks, dtype="object"),
                "centroid_id": pd.Series(cids, dtype="object"),
                "_raw": pd.Series(raws, dtype="object")})

    raw = emb.select(F.col(_bq(key)).alias("k"),
                     F.col(_bq(vec_col)).alias("v")) \
        .mapInPandas(run, schema=out_t)
    return raw.select(F.col("k").alias(key), "centroid_id",
                      F.round(F.col("_raw"), 6).alias("sim"))


def ivf_assign(emb: DataFrame, num_centroids: int = 8, key: str = "vec_id",
               vec_col: str = "embedding",
               centroids: DataFrame | None = None) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine. Default
    centroids are the vectors with key < num_centroids (deterministic seed
    choice, reproducible in the ANSI oracles); pass `centroids` (e.g. from
    `kmeans_centroids`) for trained buckets at scale. Centroid table is
    broadcast; argmax via a `max_by` aggregate with explicit
    (sim desc, centroid_id asc) tie-break — partial-combines map-side, no
    window sort (plan pinned Window/Sort-free in tests/test_plans.py).

    Large seeded banks (C >= 32) score in one Arrow stage
    (`_ivf_scores_arrow`): the n x C interpreted fold chain dominates
    there. Small banks and trained-centroid DataFrames keep native
    expression scoring (`_ivf_scores_sql`), which also avoids collecting
    a not-yet-materialized training plan."""
    cents = centroids if centroids is not None else seed_centroids(
        emb, num_centroids, key, vec_col)
    score = (_ivf_scores_arrow if centroids is None and num_centroids >= 32
             else _ivf_scores_sql)
    return _argmax_centroid(score(emb, cents, key, vec_col), key, []).select(
        key, "centroid_id", F.col("sim").alias("centroid_sim"))


# the largest group `_grouped_pair_cosines` may take: applyInPandas holds a
# whole group plus two m x m float64 buffers (2 x 128 MiB at 4096 rows)
_GROUPED_MAX_ROWS = 4096


def cosine_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                          num_centroids: int | None = None, key: str = "vec_id",
                          vec_col: str = "embedding",
                          n_hint: int | None = None,
                          assign: DataFrame | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-bucketed: vectors are
    assigned to their nearest centroid once, and only same-bucket pairs are
    scored — the self-join touches ~1/C^2 of the full cross product per
    bucket (the scale path; brute-force all-pairs is quadratic in rows).
    Near-dups straddling a bucket boundary are missed, as in any
    single-probe IVF — raise num_probes/overlap if recall matters more
    than cost.

    Pair-stage cost discipline (this is THE hot loop — O(n^2/C) pairs):
    - vectors are unit-normalized ONCE per vector before the self-join, so
      each pair costs one dot-product fold instead of dot + two norms
      (3x fewer array folds per pair; identical result after the 6 dp
      rounding both engines apply)
    - the assigned+normalized table is cached: both self-join sides and
      the assignment aggregate would otherwise re-run the whole scoring
      pipeline. Register with `release_caches()` semantics: callers
      running many queries in one session call
      `similarity.release_caches()` (or dedup.release_caches(), shared
      registry) once results are materialized.

    `num_centroids=None` sizes C to keep the average bucket ~250 vectors
    (C = max(8, n/250)): per-bucket pair work stays constant as the corpus
    grows, so total cost scales LINEARLY in n instead of quadratically —
    the standard IVF sizing discipline. At the oracle gate scales
    (n <= 2000) this resolves to exactly the 8 seed centroids the static
    DuckDB oracle replicates.

    `n_hint` sizes C without the counting pass — at 10^12 vectors the
    `emb.count()` fallback is a full scan before any work starts, and
    callers (catalog readers, the CLI) usually know n already. The hint
    only picks C; correctness never depends on it being exact.

    `assign` is the persisted-index path (same contract as
    `ivf_ann_query`): pass a precomputed (key, centroid_id) assignment —
    e.g. the `ann --build-index` table read back from a catalog — and the
    full-corpus bucket-assignment pass is skipped entirely (CLI:
    `cc --method embedding --index`). Bucket granularity then comes from
    the index, so num_centroids/n_hint are ignored. A STALE index is
    checked for, not silently tolerated: the same-bucket inner join would
    simply omit vectors missing from the assignment (they'd look
    unclustered, and a keep-one filter would keep every copy), so any
    uncovered corpus vector raises — rebuild the index after ingesting
    new vectors (one anti-join count; clustering is multi-pass anyway)."""
    n_known = n_hint
    if assign is None:
        if num_centroids is None:
            n_known = n_hint if n_hint is not None else emb.count()
            num_centroids = max(8, n_known // 250)
        assign = ivf_assign(emb, num_centroids, key, vec_col)
    else:
        n_missing = emb.select(_bq(key)).join(
            assign.select(_bq(key)), key, "left_anti").count()
        if n_missing:
            raise ValueError(
                f"persisted assignment does not cover {n_missing} corpus "
                "vectors (stale index?) — rebuild with ann --build-index "
                "or drop --index to recompute")
    unit = _unit_vectors(emb, key, vec_col)
    tagged = unit.join(assign.select(key, "centroid_id"), key)
    tagged = register_cache(tagged.cache())
    # grouped pair generation materializes one IVF bucket per Arrow
    # group, so it needs (a) enough pair volume to amortize the Python
    # stage — below ~10k vectors the streaming self-join is already
    # sub-second (measured: +0.5 s at 2k vectors, -1.5 s at 20k), and
    # (b) every bucket bounded — ONE tiny count aggregate over the
    # (cached) assignment answers that exactly. The corpus size comes
    # free from the IVF sizing pass when it ran; small corpora skip the
    # bucket probe job entirely.
    grouped = False
    if n_known is None or n_known >= 10_000:
        row = (tagged.groupBy("centroid_id").count()
               .agg(F.max("count").alias("mx"),
                    F.sum("count").alias("n")).first())
        grouped = ((row.mx or 0) <= _GROUPED_MAX_ROWS
                   and (row.n or 0) >= 10_000)
    if grouped:
        return _grouped_pair_cosines(tagged, key, ["centroid_id"], threshold,
                                     dedup_pairs=False)
    return _pair_cosines(
        _self_join_pairs(tagged, key, ["centroid_id"], "uvec"), threshold)


def ivf_ann_query(emb: DataFrame, query_vec_id: int, k: int = 5,
                  num_centroids: int = 8, key: str = "vec_id",
                  vec_col: str = "embedding",
                  centroids: DataFrame | None = None,
                  num_probes: int = 1,
                  assign: DataFrame | None = None) -> DataFrame:
    """ANN top-k probing the query's `num_probes` nearest IVF buckets
    (num_probes/C of the data — the standard recall/cost dial: 1 = fastest,
    C = exact brute force). Pass `centroids` (e.g. kmeans_centroids) for
    trained buckets. Probed-centroid choice and the final top-k both carry
    explicit tie-breaks so results are deterministic.

    `assign` is the persisted-index path: pass a precomputed
    (key, centroid_id) assignment (from `ivf_assign`, e.g. read back from a
    catalog table — CLI `ann --build-index` / `--index`) and the full-corpus
    bucket-assignment pass is skipped entirely. That is the real ANN shape:
    the index is built once and probed many times; recomputing the
    assignment per query would scan all of a 10^12-row corpus each probe."""
    cents = centroids if centroids is not None else seed_centroids(
        emb, num_centroids, key, vec_col)
    if assign is None:
        assign = ivf_assign(emb, num_centroids, key, vec_col, centroids=cents)
    q = emb.filter(F.col(key) == query_vec_id).select(F.col(vec_col).alias("qvec"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("centroid_id",
                F.round(cosine_col(F.col("cvec"), F.col("qvec")), 6).alias("qsim"))
        .orderBy(F.desc("qsim"), F.asc("centroid_id"))
        .limit(num_probes)
        .select("centroid_id")
    )
    bucket_members = assign.join(F.broadcast(probed), "centroid_id").select(key)
    return (
        emb.join(bucket_members, key)
        .filter(F.col(key) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            key,
            F.round(cosine_col(F.col(vec_col), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(key))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane (sign-projection) LSH — the second bucketing family for
# embedding near-dup search, next to the IVF path above (task brief:
# "IVF or LSH-bucketed variant as the scale path"; this engine ships both)
# ---------------------------------------------------------------------------

# 32 planes / 4 bands -> 8-bit bands = 256 buckets per band: at 16 bits
# (4-bit bands) a few thousand vectors already average past the hot-bucket
# cap (16 buckets/band), silencing most of the corpus AND paying ~2M
# verify cosines — measured 4.9 s at sf0.1 vs ~1.5 s with 8-bit bands.
# More planes = fewer false candidates; more bands = higher recall.
HYPERPLANE_PLANES = 32
HYPERPLANE_BANDS = 4


def plane_sign(p: int, j: int) -> int:
    """Deterministic pseudo-random hyperplane component sign in {+1,-1} —
    md5 parity of "p,j", so Spark AND the DuckDB oracle unroll the SAME
    plane matrix as plan-time constants (no RNG, no state to ship)."""
    import hashlib  # noqa: PLC0415

    return 1 if int(hashlib.md5(f"{p},{j}".encode()  # noqa: S324
                                ).hexdigest()[0], 16) % 2 == 0 else -1


def plane_dot_sql(p: int, dim: int, element: str) -> str:
    """SQL for <plane_p, v> as an UNROLLED left-associative sum with ±1
    coefficients. Both engines evaluate the identical addition order on
    identical doubles, so the sign test (>= 0) is bit-deterministic
    cross-engine — no rounding needed. `element` formats one 1-indexed
    vector element access that yields NULL past the end, e.g.
    'CAST(embedding[{i}] AS DOUBLE)' (DuckDB, the oracle) — the Spark
    side replays this sum in `hyperplane_banded_buckets`.

    Each term is coalesce'd to 0: a vector shorter than `dim` projects on
    its actual components zero-padded instead of NULLing the whole dot —
    the review-flagged silent failure where every short vector landed in
    bucket 0 and the hot-bucket cap dropped the lot."""
    terms = " ".join(
        f"{'+' if plane_sign(p, j) > 0 else '-'} "
        f"coalesce({element.format(i=j + 1)}, 0.0)"
        for j in range(dim))
    return f"(0 {terms})"  # seed 0: exact, and pins left-assoc start


def signature_sql(num_planes: int, dim: int, element: str) -> str:
    """SQL for the packed num_planes-bit signature int."""
    # BIGINT bit weights: at >= 31 planes the packed signature overflows
    # a 32-bit int
    return " + ".join(
        f"(CASE WHEN {plane_dot_sql(p, dim, element)} >= 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for p in range(num_planes))


# up to this many planes x dim terms hyperplane_banded_buckets accumulates
# the plane dots with the j-ascending loop, which is bit-identical to the
# oracle's unrolled signature_sql sum, so the oracle shape (32 x 64 = 2048)
# keeps cross-engine signs. Past it the batched matmul takes over: at real
# dims it is faster (hyperplane_lsh_pairs at 768 x 64 on 2000 vectors,
# 4-core host, 8 interleaved pairs: 1.65 s median vs 1.74 s for the loop,
# matmul faster in 6 of 8; identical buckets).
HYPERPLANE_SQL_TERM_LIMIT = 4096


def _plane_matrix(num_planes: int, dim: int):
    """The ±1 plane matrix as float64 — SAME md5-parity entries as the
    unrolled SQL (plane_sign), so Spark and the oracle project against
    identical planes."""
    import numpy as np  # noqa: PLC0415

    return np.array([[plane_sign(p, j) for j in range(dim)]
                     for p in range(num_planes)], dtype=np.float64)


def _corpus_dim(emb: DataFrame, vec_col: str) -> tuple[int, int, int]:
    """(min, max, count) vector size stats over the corpus — ONE exact
    narrow aggregate, not a sample (review finding: a limit(100) sample is
    partition-order dependent, so a mixed-dim corpus derived a different
    dim on different runs and silently truncated the longer vectors).
    The scan reads only array lengths and runs once per call; the
    operator is multi-pass anyway. The row count rides along for free and
    drives the pair-stage density choice (r7)."""
    row = emb.agg(F.min(F.size(_bq(vec_col))).alias("lo"),
                  F.max(F.size(_bq(vec_col))).alias("hi"),
                  F.count("*").alias("n")).first()
    if row is None or row.hi is None or row.hi <= 0:
        raise ValueError("cannot derive embedding dim: empty corpus or "
                         f"null/empty {vec_col!r} everywhere")
    return row.lo, row.hi, row.n


def _grouped_pair_cosines(tagged: DataFrame, key: str,
                          group_cols: list[str], threshold: float,
                          dedup_pairs: bool = True) -> DataFrame:
    """In-bucket candidate pairs + exact-cosine verify as ONE grouped
    Arrow stage (r7 optimization): per (bucket) group of unit vectors,
    emit every id-ordered pair with its raw dot product, then round /
    threshold-filter / cross-band dedup in Spark.

    The dense-bucket twin of the join tiers (`_pair_cosines`): where a
    join moves both vectors of every candidate pair and folds each dot
    with an interpreted `aggregate(zip_with(...))` (higher-order
    functions have no codegen), this moves each vector once per group
    and takes all of a group's dots in one NumPy pass. BIT-IDENTICAL
    results, argued and test-pinned: the accumulation loops over vector
    components j in ascending order (`acc += u_a[j] * u_b[j]` across the
    whole bucket at once), which is the exact left-associative IEEE
    sequence the JVM fold `((0.0 + a0*b0) + a1*b1) + ...` evaluates,
    products included; rounding to 6 dp stays in Spark (F.round =
    HALF_UP; numpy rounds half-even).
    Pairs whose vectors differ in length emit nothing — the JVM fold
    NULL-poisons those dots and the threshold filter drops them, so the
    output sets match on mixed-dim corpora too.

    Rows with a NULL group key or NULL uvec are dropped first: the join
    tiers' INNER equi-joins drop NULL keys (vectors no centroid could
    score, e.g. mismatched dims) and NULL-poisoned dots never pass the
    threshold, so the pair sets match instead of one NULL-key group
    collecting every unassigned vector.

    Scale guard: callers only route here when no group exceeds
    _GROUPED_MAX_ROWS (hyperplane: its `_cap_hot_keys` bound max_bucket
    is at most that; IVF: its measured largest bucket), because
    applyInPandas materializes one group per call. `tagged` must carry
    (key, uvec, group_cols...)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.types import DoubleType  # noqa: PLC0415

    keep = F.col("uvec").isNotNull()
    for g in group_cols:
        keep &= F.col(g).isNotNull()
    tagged = tagged.filter(keep).select(F.col(_bq(key)).alias("k"), "uvec",
                                        *group_cols)
    kt = tagged.schema["k"].dataType
    out_schema = StructType([StructField("vec_a", kt),
                             StructField("vec_b", kt),
                             StructField("_dot", DoubleType())])

    def _pairs(pdf):
        import numpy as np  # noqa: PLC0415

        if len(pdf) < 2:
            # object dtype: empty float64 defaults do not cast to every
            # key type (e.g. string keys) on the Arrow boundary
            return pd.DataFrame({"vec_a": pd.Series([], dtype="object"),
                                 "vec_b": pd.Series([], dtype="object"),
                                 "_dot": pd.Series([], dtype="float64")})
        pdf = pdf.sort_values("k", kind="mergesort")
        ks = pdf["k"].tolist()
        vs = pdf["uvec"].tolist()
        bylen: dict = {}
        for i, v in enumerate(vs):
            bylen.setdefault(len(v), []).append(i)
        ka: list = []
        kb: list = []
        dots: list = []
        for idxs in bylen.values():
            m = len(idxs)
            if m < 2:
                continue
            mat = np.asarray([vs[i] for i in idxs], dtype=np.float64)
            acc = np.zeros((m, m), dtype=np.float64)
            tmp = np.empty((m, m), dtype=np.float64)
            for j in range(mat.shape[1]):
                # out= reuses one buffer instead of allocating an m x m
                # temporary per dimension (identical values/order)
                np.multiply.outer(mat[:, j], mat[:, j], out=tmp)
                acc += tmp
            iu, ju = np.triu_indices(m, k=1)
            karr = [ks[i] for i in idxs]
            ka.extend(karr[i] for i in iu)
            kb.extend(karr[j] for j in ju)
            dots.extend(acc[iu, ju])
        return pd.DataFrame({"vec_a": ka, "vec_b": kb, "_dot": dots})

    raw = tagged.groupBy(*group_cols).applyInPandas(_pairs, out_schema)
    out = (
        raw.select("vec_a", "vec_b",
                   F.round(F.col("_dot"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    # multi-bucket schemes (banded LSH) see the same pair in several
    # buckets — its dot is bit-identical each time, so a plain distinct
    # dedups exactly; single-membership schemes (IVF) skip the shuffle
    return out.distinct() if dedup_pairs else out


def _pair_cosines(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cos_sim) of (a, b, pa, pb) unit-vector pairs, one
    dot-product fold per pair, kept at cos_sim >= threshold — the verify
    of every join tier, row for row the same as `_grouped_pair_cosines`."""
    return (
        pairs.select(F.col("a").alias("vec_a"), F.col("b").alias("vec_b"),
                     F.round(_dot(F.col("pa"), F.col("pb")), 6)
                     .alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def hyperplane_banded_buckets(emb: DataFrame, num_planes: int, bands: int,
                              dim: int, key: str, vec_col: str) -> DataFrame:
    """(k, band, bucket) banded sign-projection buckets, computed in one
    Arrow-batched pandas UDF. The plane dots take one of two forms,
    chosen from num_planes x dim:

    - up to HYPERPLANE_SQL_TERM_LIMIT: a j-ascending NumPy loop
      (`acc += v[:, j] * signs_j`, signs ±1.0) that replays the
      left-associative sum of `signature_sql` EXACTLY (±1.0
      multiplication is a sign flip; x + (-y) == x - y), so its sign
      bits — and therefore every bucket — are BIT-IDENTICAL to the
      DuckDB oracle running the same generated SQL (pinned by
      tests/test_similarity_kmeans.py::test_hyperplane_loop_tier_matches_duckdb_signature_sql).
    - past it: one batched NumPy sign(V @ P.T) matmul per Arrow batch —
      the scale form for real dims (768+), same md5-parity plane matrix.
      It agrees with the loop except where a plane dot lands within
      float addition-order noise of exactly 0 (left-assoc sum vs
      pairwise matmul) — measure-zero for real embeddings.

    Per-band buckets are packed directly from the sign bits, so 64-plane
    signatures never round-trip through a signed BIGINT."""
    rpb = num_planes // bands
    if rpb > 62:
        # per-band buckets pack into a signed BIGINT
        raise ValueError(
            f"planes per band = {rpb} overflows the 63-bit bucket key: "
            "use more bands (or fewer planes)")

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    plane_t = _plane_matrix(num_planes, dim).T  # (dim, planes)
    weights = 1 << np.arange(rpb, dtype=np.int64)  # bit weights within a band
    exact = num_planes * dim <= HYPERPLANE_SQL_TERM_LIMIT

    def _buckets(vs):
        # vectors arrive as ndarray/list cells; vectors shorter than the
        # plane matrix zero-pad — IDENTICAL semantics to the oracle's
        # out-of-range NULL + coalesce(…, 0.0), so a mixed-dim corpus
        # buckets the same in both (mixed corpora also require an
        # explicit dim at the API boundary)
        mat = np.zeros((len(vs), dim), dtype=np.float64)
        for i, v in enumerate(vs):
            if v is None:
                # the oracle coalesces every element of a NULL cell to
                # 0.0 and buckets the row like a zero vector — keep the
                # row as the zero-filled default instead of crashing
                continue
            a = np.asarray(v, dtype=np.float64)
            n = min(a.shape[0], dim)
            mat[i, :n] = a[:n]
        if exact:
            # j-ascending accumulation == signature_sql's
            # left-associative sum, term for term (±1.0 products are
            # exact sign flips; the zero-pad adds exact 0.0 like
            # coalesce) — sign bits bit-identical to the oracle
            acc = np.zeros((mat.shape[0], num_planes), dtype=np.float64)
            for j in range(dim):
                acc += mat[:, j:j + 1] * plane_t[j]
            bits = acc >= 0.0
        else:
            bits = (mat @ plane_t) >= 0.0  # (n, planes)
        cols = [bits[:, b * rpb:(b + 1) * rpb].astype(np.int64) @ weights
                for b in range(bands)]
        # int64 end-to-end (ADVICE round-5: an int32 cast here silently
        # wrapped buckets negative at rpb >= 32 — e.g. 64 planes / 2
        # bands — and diverged from the oracle's BIGINT buckets)
        return pd.Series(list(np.stack(cols, axis=1)))

    # the module's `from __future__ import annotations` would stringify
    # inline hints against globals that don't hold pd; real objects keep
    # pandas_udf's Series->Series inference working
    _buckets.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _buckets = pandas_udf(_buckets, "array<long>")

    return emb.select(
        F.col(_bq(key)).alias("k"),
        F.posexplode(_buckets(F.col(_bq(vec_col)))).alias("band", "bucket"),
    )


def hyperplane_lsh_pairs(emb: DataFrame, threshold: float = 0.40,
                         num_planes: int = HYPERPLANE_PLANES,
                         bands: int = HYPERPLANE_BANDS,
                         dim: int | None = None, key: str = "vec_id",
                         vec_col: str = "embedding",
                         max_bucket: int = 256) -> DataFrame:
    """Embedding near-dup pairs via banded random-hyperplane LSH: vectors
    colliding in any band of their sign-projection signature become
    candidates; candidates are verified by exact cosine >= threshold.

    `dim=None` derives the projection dim from an exact min/max size
    aggregate over the corpus — a mixed-dim corpus must pass `dim`
    explicitly (shorter vectors zero-pad; longer ones project on their
    first `dim` components). An explicit `dim` beyond the corpus max
    raises instead of silently collapsing every vector into bucket 0.

    Scale shape mirrors the text-LSH family: signatures come from
    `hyperplane_banded_buckets` (one vectorized Arrow pass; exact
    left-assoc loop at oracle dims, ONE batched NumPy matmul per batch
    past HYPERPLANE_SQL_TERM_LIMIT — no per-row Python either way), the
    banded explode carries `bands` ints per VECTOR on the shuffle, hot
    buckets are capped BEFORE the pair stage (`_cap_hot_keys`), and the
    verify stage unit-normalizes once per vector so each candidate pair
    costs one dot-product fold.
    Recall/cost dial: more planes = fewer false candidates; more bands =
    higher recall. Sizing at corpus scale: buckets per band =
    2^(planes/bands), so pick planes/bands such that corpus_size /
    2^(planes/bands) stays under max_bucket — the defaults (32/4 -> 256
    buckets/band) suit 10^4-10^5 vectors; a 10^12 corpus wants 64 planes
    x 4 bands (65k buckets) plus a larger cap — real-dim 768 x 64-plane
    signatures take the matmul form, which has no compile wall.

    Pair stage, three tiers with the same rows, chosen from the expected
    bucket fill n/B (B = 2^(planes/bands) buckets per band). A payload
    self-join moves every unit vector once per band; id-only candidates
    move two vectors per candidate, about n/B per vector per band. So
    n/B < 1 (sparse) takes distinct id-only `_self_join_pairs` candidates
    and joins in only their vectors; n/B >= 8 (dense) with max_bucket <=
    _GROUPED_MAX_ROWS takes the grouped Arrow stage
    (`_grouped_pair_cosines`, a bucket's dots in one NumPy pass); the
    rest self-joins the capped buckets joined to the unit vectors
    (`tagged`) with the vector as payload. The join tiers verify one dot
    fold per candidate (`_pair_cosines`); all dedup across bands."""
    lo, hi, n = _corpus_dim(emb, vec_col)
    if dim is None:
        if lo != hi:
            raise ValueError(
                f"mixed embedding dims in corpus ({lo}..{hi}): pass dim "
                "explicitly (vectors shorter than it zero-pad, longer "
                "ones project on their first dim components)")
        dim = hi
    elif dim > hi:
        raise ValueError(
            f"hyperplane dim {dim} exceeds corpus embedding dim "
            f"{hi}; pass dim<={hi} or dim=None to derive")
    banded = hyperplane_banded_buckets(emb, num_planes, bands, dim,
                                       key, vec_col)
    capped = _cap_hot_keys(banded, ["band", "bucket"], max_bucket)
    # cached: joined on both pair sides (id-only) or into `tagged`
    unit = register_cache(_unit_vectors(emb, key, vec_col).cache())
    fill = n / (1 << (num_planes // bands))
    if fill < 1:
        cand = _self_join_pairs(capped, "k", ["band", "bucket"]).distinct()
        ua, ub = (unit.select(F.col(_bq(key)).alias(s),
                              F.col("uvec").alias("p" + s)) for s in "ab")
        return _pair_cosines(cand.join(ua, "a").join(ub, "b"), threshold)
    tagged = capped.join(unit.withColumnRenamed(key, "k"), "k")
    if fill >= 8 and max_bucket <= _GROUPED_MAX_ROWS:
        return _grouped_pair_cosines(tagged, "k", ["band", "bucket"],
                                     threshold)
    return _pair_cosines(_self_join_pairs(tagged, "k", ["band", "bucket"],
                                          "uvec"), threshold).distinct()
