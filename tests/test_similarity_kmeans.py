"""Lloyd k-means centroids for IVF (the trained upgrade over seed choice)."""

import math

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
    similarity as sim,
)


@pytest.fixture(scope="module")
def clustered(spark):
    """Three well-separated clusters on coordinate axes (deterministic)."""
    rows = []
    for i in range(90):
        c = i % 3
        base = [0.0, 0.0, 0.0, 0.0]
        base[c] = 10.0
        # small deterministic jitter on a different axis
        base[3] = (i % 7) * 0.01
        rows.append((i, c, base))
    return spark.createDataFrame(
        rows, "vec_id long, true_cluster int, embedding array<double>")


def test_kmeans_recovers_separated_clusters(spark, clustered):
    cents = sim.kmeans_centroids(clustered, num_centroids=3, iters=2)
    got = cents.collect()
    assert len(got) == 3
    # each centroid points along exactly one of the three cluster axes
    axes = sorted(max(range(3), key=lambda d: r.cvec[d]) for r in got)
    assert axes == [0, 1, 2]
    # assignment groups members with their true cluster
    assign = sim.ivf_assign(clustered, centroids=cents)
    joined = {r.vec_id: r.centroid_id for r in assign.collect()}
    by_true = {}
    for r in clustered.collect():
        by_true.setdefault(r.true_cluster, set()).add(joined[r.vec_id])
    # every true cluster maps to exactly one centroid, all distinct
    assert all(len(v) == 1 for v in by_true.values())
    assert len({next(iter(v)) for v in by_true.values()}) == 3


def test_kmeans_is_deterministic(spark, clustered):
    a = sorted(map(tuple, sim.kmeans_centroids(clustered, 3, 1).collect()))
    b = sorted(map(tuple, sim.kmeans_centroids(clustered, 3, 1).collect()))
    assert a == b


def test_ivf_ann_with_kmeans_matches_brute_force_topk(spark, clustered):
    """On well-separated clusters the kmeans-IVF probe returns the same
    top-k as brute force (the query's true neighbors share its bucket)."""
    cents = sim.kmeans_centroids(clustered, num_centroids=3, iters=2)
    ann = sim.ivf_ann_query(clustered, query_vec_id=0, k=5, centroids=cents)
    bf = sim.cosine_knn(clustered, query_vec_id=0, k=5)
    assert [r.vec_id for r in ann.collect()] == [r.vec_id for r in bf.collect()]


def test_centroid_vectors_are_unit_scale_means(spark, clustered):
    """Centroid = element-wise mean of its members (axis value ~10.0)."""
    cents = sim.kmeans_centroids(clustered, num_centroids=3, iters=2)
    for r in cents.collect():
        peak = max(r.cvec)
        assert math.isclose(peak, 10.0, rel_tol=1e-9)


def test_kmeans_persist_iterations_matches_and_releases(spark, clustered):
    """iters=5 with persist_iterations: same centroids as the unpersisted
    path (rounding makes both exact), recall holds (ANN top-k == brute
    force on the separated fixture), and no cached blocks survive."""
    base = sorted(map(tuple, sim.kmeans_centroids(
        clustered, 3, iters=5).collect()))
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    fast = sim.kmeans_centroids(clustered, 3, iters=5,
                                persist_iterations=True)
    got = sorted(map(tuple, fast.collect()))
    assert got == base
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    assert after - before == set()  # every per-iteration persist released

    ann = sim.ivf_ann_query(clustered, query_vec_id=0, k=5, centroids=fast)
    bf = sim.cosine_knn(clustered, query_vec_id=0, k=5)
    assert [r.vec_id for r in ann.collect()] == [r.vec_id for r in bf.collect()]


def test_near_dup_pairs_n_hint_skips_count(spark):
    """Round-4: with n_hint the auto-C sizing must NOT run a counting job
    over the corpus (at 10^12 vectors that is a full extra pass)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<double>")

    def _boom():
        raise AssertionError("count() must not run when n_hint is given")

    emb.count = _boom  # instance attr shadows the method
    pairs = similarity.cosine_near_dup_pairs(emb, threshold=0.99,
                                             n_hint=40)
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    similarity.release_caches()

    # same corpus via the counting path -> identical pairs (C identical)
    emb2 = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    pairs2 = similarity.cosine_near_dup_pairs(emb2, threshold=0.99)
    assert {(r.vec_a, r.vec_b) for r in pairs2.collect()} == got
    similarity.release_caches()


def test_hyperplane_lsh_recall_against_bruteforce(spark):
    """Hyperplane-LSH pairs are a SUBSET of the brute-force >= threshold
    pairs (verify stage is exact cosine), with non-trivial recall on
    clustered vectors; identical duplicate vectors always collide (same
    signature in every band)."""
    import math

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    # two tight clusters + noise: i%2 picks the cluster axis
    rows = [(i, [1.0 if j == (i % 2) else 0.001 * ((i + j) % 5)
                 for j in range(64)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_a, r.vec_b): r.cos_sim
           for r in similarity.hyperplane_lsh_pairs(
               emb, threshold=0.95, dim=64).collect()}
    similarity.release_caches()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(x * x for x in b))

    brute = {(a, b) for a, va in rows for b, vb in rows
             if a < b and round(cos(va, vb), 6) >= 0.95}
    assert set(got) <= brute          # no false positives (exact verify)
    assert len(got) >= len(brute) // 2  # same-cluster vectors mostly collide
    # exact duplicates share every band -> always recalled
    dup = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 64), (3, [-1.0] * 64)],
        "vec_id long, embedding array<double>")
    pairs = {(r.vec_a, r.vec_b) for r in similarity.hyperplane_lsh_pairs(
        dup, threshold=0.99, dim=64).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    similarity.release_caches()


def _ref_hyperplane_pairs(rows, num_planes, bands, dim, threshold,
                          max_bucket):
    """Pure-NumPy reference of the whole hyperplane-LSH pipeline: the
    cross-implementation check for the batched matmul tier (VERDICT #2)."""
    import numpy as np

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    ids = [k for k, _ in rows]
    mat = np.array([v[:dim] for _, v in rows], dtype=np.float64)
    planes = similarity._plane_matrix(num_planes, dim)
    bits = (mat @ planes.T) >= 0.0
    rpb = num_planes // bands
    w = 1 << np.arange(rpb, dtype=np.int64)
    buckets = {}
    for i, k in enumerate(ids):
        for b in range(bands):
            bucket = int(bits[i, b * rpb:(b + 1) * rpb].astype(np.int64) @ w)
            buckets.setdefault((b, bucket), []).append(k)
    cand = set()
    for ks in buckets.values():
        if len(ks) > max_bucket:
            continue  # hot-bucket cap
        for i, a in enumerate(ks):
            for b in ks[i + 1:]:
                cand.add((min(a, b), max(a, b)))
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    byid = {k: unit[i] for i, k in enumerate(ids)}
    return {(a, b) for a, b in cand
            if round(float(byid[a] @ byid[b]), 6) >= threshold}


def test_hyperplane_pandas_tier_matches_numpy_reference(spark):
    """VERDICT #2: at real embedding dims (768 x 64 planes = 49k terms —
    past the Janino compile wall) hyperplane LSH runs the batched
    sign(V @ P.T) matmul tier and must produce the IDENTICAL pair set to a
    pure-NumPy reference implementation built from the same md5-parity
    plane matrix. dim is DERIVED from the corpus (ADVICE regression: the
    hardcoded dim=64 silently zero-bucketed other dims)."""
    import numpy as np

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    dim, planes, bands = 768, 64, 4
    rng = np.random.default_rng(7)
    base = rng.standard_normal((12, dim))
    rows = []
    for i in range(60):  # 12 clusters x 5 near-copies
        v = base[i % 12] + 0.02 * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    assert planes * dim > similarity.HYPERPLANE_SQL_TERM_LIMIT  # matmul tier
    got = {(r.vec_a, r.vec_b) for r in similarity.hyperplane_lsh_pairs(
        emb, threshold=0.9, num_planes=planes, bands=bands).collect()}
    similarity.release_caches()
    ref = _ref_hyperplane_pairs(rows, planes, bands, dim, 0.9, 256)
    assert got == ref
    assert len(got) > 0  # the clusters must actually collide


def test_hyperplane_pandas_tier_wide_band_no_overflow(spark):
    """ADVICE round-5 regression: 64 planes / 2 bands packs 32 sign bits
    per bucket — an int32 bucket column silently wrapped NEGATIVE past
    bit 31 and diverged from the oracle's BIGINT buckets. The matmul
    form must emit int64 buckets that match the NumPy reference, and
    rpb > 62 must fail loudly instead of overflowing BIGINT."""
    import numpy as np
    import pytest

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    dim, planes, bands = 128, 64, 2  # rpb = 32: past the int32 boundary
    rng = np.random.default_rng(11)
    base = rng.standard_normal((6, dim))
    rows = []
    for i in range(30):
        v = base[i % 6] + 0.02 * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    assert planes * dim > similarity.HYPERPLANE_SQL_TERM_LIMIT  # matmul form
    banded = similarity.hyperplane_banded_buckets(
        emb, planes, bands, dim, "vec_id", "embedding")
    got = banded.collect()
    assert banded.schema["bucket"].dataType.simpleString() == "bigint"
    assert all(r.bucket >= 0 for r in got)
    assert any(r.bucket >= (1 << 31) for r in got)  # bits past int32 real
    # bucket-exact vs the pure-NumPy reference
    mat = np.array([v for _, v in rows], dtype=np.float64)
    bits = (mat @ similarity._plane_matrix(planes, dim).T) >= 0.0
    rpb = planes // bands
    w = 1 << np.arange(rpb, dtype=np.int64)
    ref = {(i, b, int(bits[i, b * rpb:(b + 1) * rpb].astype(np.int64) @ w))
           for i in range(len(rows)) for b in range(bands)}
    assert {(r.k, r.band, r.bucket) for r in got} == ref
    with pytest.raises(ValueError, match="overflows the 63-bit bucket"):
        similarity.hyperplane_banded_buckets(
            emb, 64, 1, dim, "vec_id", "embedding")
    similarity.release_caches()


def test_hyperplane_dim_validation(spark):
    """ADVICE regression: an explicit dim beyond the corpus embedding dim
    must fail loudly instead of NULLing every plane dot (all vectors into
    bucket 0, silently capped away -> near-empty result)."""
    import pytest

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(10)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="exceeds corpus embedding dim"):
        similarity.hyperplane_lsh_pairs(emb, dim=64)
    # derived dim works on the same corpus
    pairs = similarity.hyperplane_lsh_pairs(emb, threshold=0.999)
    assert pairs.count() >= 0
    similarity.release_caches()


def test_stale_persisted_assignment_raises(spark):
    """Review regression: a persisted bucket assignment missing corpus
    vectors must raise (the inner join would silently leave them
    unclustered and keep-one would keep every copy)."""
    import pytest

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.5]) for i in range(30)],
        "vec_id long, embedding array<double>")
    stale = similarity.ivf_assign(emb.filter("vec_id < 20"), 8)
    with pytest.raises(ValueError, match="does not cover 10"):
        similarity.cosine_near_dup_pairs(emb, assign=stale)
    # a full-coverage assignment passes
    full = similarity.ivf_assign(emb, 8)
    similarity.cosine_near_dup_pairs(emb, assign=full).count()
    similarity.release_caches()


def test_hyperplane_mixed_dim_corpus_policy(spark):
    """Review regressions: (1) derived dim on a mixed-dim corpus refuses
    loudly (a sampled dim was partition-order dependent and silently
    truncated longer vectors); (2) an explicit dim on a mixed corpus
    zero-pads shorter vectors in BOTH tiers instead of crashing — under
    ANSI mode plain element_at RAISES past the array end, so the SQL tier
    must use try_element_at."""
    import pytest

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="mixed embedding dims"):
        similarity.hyperplane_lsh_pairs(emb)
    got = {(r.vec_a, r.vec_b) for r in similarity.hyperplane_lsh_pairs(
        emb, dim=3, threshold=0.99).collect()}
    assert got == {(2, 3)}  # identical full-dim pair; short vector survives
    similarity.release_caches()


def test_pair_engines_bit_identical(spark):
    """r7 pin: the grouped Arrow pair stage (_grouped_pair_cosines) must
    emit EXACTLY the join tier's (vec_a, vec_b, cos_sim) rows on the same
    buckets — the NumPy accumulation replays the JVM fold's
    left-associative IEEE sequence, so even the 6-dp rounding
    boundaries cannot diverge. Pinned for both bucketing families
    (banded hyperplane LSH and IVF), on a corpus with mixed dims and a
    NULL embedding so the NULL-poisoned-pair drop semantics match too;
    the join side is the public call, which this corpus routes to a join
    tier (both hyperplane join tiers)."""
    import random

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        dedup, similarity,
    )

    rng = random.Random(7)
    rows = []
    for i in range(400):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 3 == 0:  # near-dup partner
            rows.append((1000 + i,
                         [x + rng.uniform(-0.05, 0.05) for x in base]))
    rows.append((5000, [1.0, 2.0]))  # short vector: mixed-dim corpus
    rows.append((5001, None))          # NULL embedding: paths must agree
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    unit = similarity._unit_vectors(emb, "vec_id", "embedding")

    def run(df, grouped):
        plan = str(df._jdf.queryExecution().executedPlan())
        assert ("FlatMapGroupsInPandas" in plan) == grouped
        return sorted((r.vec_a, r.vec_b, r.cos_sim) for r in df.collect())

    # ~536 vectors: 32 planes / 4 bands fill 256 buckets ~2 deep (payload
    # self-join tier), 40 / 4 fill 1024 ~0.5 deep (id-only tier)
    for planes in (32, 40):
        hp_join = run(similarity.hyperplane_lsh_pairs(
            emb, 0.30, num_planes=planes, bands=4, dim=8, max_bucket=256),
            False)
        capped = dedup._cap_hot_keys(similarity.hyperplane_banded_buckets(
            emb, planes, 4, 8, "vec_id", "embedding"), ["band", "bucket"], 256)
        hp_grp = run(similarity._grouped_pair_cosines(
            capped.join(unit.withColumnRenamed("vec_id", "k"), "k"), "k",
            ["band", "bucket"], 0.30), True)
        assert hp_join == hp_grp and len(hp_join) > 0

    ivf_join = run(similarity.cosine_near_dup_pairs(emb, 0.30, 8), False)
    tagged = unit.join(similarity.ivf_assign(emb, 8)
                       .select("vec_id", "centroid_id"), "vec_id")
    ivf_grp = run(similarity._grouped_pair_cosines(
        tagged, "vec_id", ["centroid_id"], 0.30, dedup_pairs=False), True)
    assert ivf_join == ivf_grp and len(ivf_join) > 0
    dedup.release_caches()


def test_hyperplane_loop_tier_matches_duckdb_signature_sql(spark):
    """r7 pin: the exact "loop" signature form replays the unrolled
    signature_sql sum's left-associative IEEE sequence, so every (k,
    band, bucket) row must be bit-identical to DuckDB running the
    oracle's generated SQL — including zero-padded short vectors, a
    NULL cell, and adversarial values that sit near sign boundaries."""
    import random

    import duckdb

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    rng = random.Random(99)
    rows = []
    for i in range(300):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, v))
        if i % 7 == 0:
            rows.append((10_000 + i, [-x for x in v]))   # mirrored signs
    rows.append((50_000, [0.0] * 16))                    # exact-zero dots
    rows.append((50_001, [1.0, -1.0] * 8))
    rows.append((50_002, [0.5, 0.25]))                   # short: zero-pad
    rows.append((50_003, None))  # NULL cell: coalesces to the zero row
    planes, bands, dim = 32, 4, 16
    assert planes * dim <= similarity.HYPERPLANE_SQL_TERM_LIMIT  # loop form
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = similarity.hyperplane_banded_buckets(
        emb, planes, bands, dim, "vec_id", "embedding")
    got = sorted((r.k, r.band, r.bucket) for r in b.collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sig = similarity.signature_sql(planes, dim,
                                   "CAST(embedding[{i}] AS DOUBLE)")
    rpb = planes // bands
    ref = sorted((k, band, (s >> (band * rpb)) & ((1 << rpb) - 1))
                 for k, s in con.execute(
                     f"SELECT vec_id, ({sig}) FROM t").fetchall()
                 for band in range(bands))
    con.close()
    assert got == ref


def test_ivf_assign_engines_identical(spark):
    """r7 pin: the Arrow scorer of ivf_assign (_ivf_scores_arrow) must
    reproduce the expression scorer (_ivf_scores_sql) exactly — same
    rounded sims — including length-mismatched vectors and NULL
    embeddings (NULL-poisoned sims) and a NULL SEED centroid or one with
    a NULL element, which scores NULL against every vector; a zero-norm
    vector must FAIL on both scorers (the expression tier raises
    DIVIDE_BY_ZERO under ANSI mode)."""
    import random

    import pytest

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(200)]
    rows[5] = (5, None)                # NULL seed centroid (vec_id < 40)
    rows[6][1][3] = None               # NULL element in a seed centroid
    rows.append((301, [1.0, 2.0]))     # length mismatch vs centroids
    rows.append((302, None))           # NULL embedding -> NULL sim row
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def scores(score, df):
        cents = similarity.seed_centroids(df, 40)
        return score(df, cents, "vec_id", "embedding")

    got = {score: sorted(tuple(r) for r in scores(score, emb).collect())
           for score in (similarity._ivf_scores_sql,
                         similarity._ivf_scores_arrow)}
    assert got[similarity._ivf_scores_sql] == \
        got[similarity._ivf_scores_arrow]
    assert len(got[similarity._ivf_scores_sql]) == len(rows) * 40
    # C = 40 seeded picks the Arrow scorer; every vector still gets a row
    assert similarity.ivf_assign(emb, 40).count() == len(rows)

    zero = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(40)]
        + [(100, [0.0] * 8)], "vec_id long, embedding array<double>")
    for score in (similarity._ivf_scores_sql, similarity._ivf_scores_arrow):
        with pytest.raises(Exception, match="[Dd]ivi"):
            scores(score, zero).collect()
