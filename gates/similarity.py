"""Embedding and media similarity gates: near-dup, ANN top-k, SemDeDup."""

import os

from pyspark.sql import functions as F

from origami_spark.operators import dedup as D
from origami_spark.operators import multimodal as M
from origami_spark.operators import similarity as S

from gates import _STAGE_DIR, _TRAIN_CACHE, _spread, _t, gate, stage
from gates.dedup import _component_keep, _reach_comp_cte

IVF_CENTROIDS_PATH = os.path.join(_STAGE_DIR, "ivf_centroids.parquet")
SEMDEDUP_CENTROIDS_PATH = os.path.join(_STAGE_DIR, "semdedup_centroids.parquet")
PQ_CODEBOOKS_PATH = os.path.join(_STAGE_DIR, "pq_codebooks.parquet")
IVFPQ_CENTROIDS_PATH = os.path.join(_STAGE_DIR, "ivfpq_centroids.parquet")
IVFPQ_CODEBOOKS_PATH = os.path.join(_STAGE_DIR, "ivfpq_codebooks.parquet")
CLUSTER_SAMPLE_CENTROIDS_PATH = os.path.join(
    _STAGE_DIR, "cluster_sample_centroids.parquet")


def _bucket_array_sql(planes: int, tables: int, dim: int) -> str:
    """The inlined multi-table bucket-array expression with the same
    deterministic plane coefficients the Spark kernels use
    (operators/similarity.plane_coefficients)."""
    from origami_spark.operators.similarity import plane_coefficients

    total = planes * tables
    coeffs = plane_coefficients(total, dim)
    table_buckets = []
    for t in range(tables):
        bits = []
        for j in range(planes):
            pidx = t * planes + j
            # flat list_sum instead of chained '+': DuckDB's binder has
            # a 128-deep recursion limit
            terms = ", ".join(
                f"CAST(embedding[{d + 1}] AS DOUBLE) * ({coeffs[pidx][d]!r})"
                for d in range(dim)
            )
            bits.append(f"(CASE WHEN list_sum([{terms}]) >= 0 "
                        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)")
        table_buckets.append(f"CAST(list_sum([{', '.join(bits)}]) AS BIGINT)")
    return "[" + ", ".join(table_buckets) + "]"


def _lsh_oracle_sql(planes: int = 6, tables: int = 8, dim: int = 64,
                    threshold: float = 0.4) -> str:
    """Programmatically build the multi-table hyperplane-LSH oracle with
    the same inlined deterministic plane coefficients the Spark operator
    uses (operators/dedup.embedding_near_dups_lsh)."""
    buckets_arr = _bucket_array_sql(planes, tables, dim)
    return f"""
        WITH sig AS (
          SELECT vec_id, embedding, {buckets_arr} AS buckets FROM embeddings),
        banded AS (
          SELECT vec_id, embedding, CAST(tbl AS INT) AS tbl,
                 buckets[CAST(tbl AS INT) + 1] AS tbucket
          FROM sig, LATERAL unnest(range(0, {tables})) AS r(tbl)),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM banded a JOIN banded b
            ON a.tbl = b.tbl AND a.tbucket = b.tbucket
           AND a.vec_id < b.vec_id)
        SELECT c.vec_a, c.vec_b,
               round(CAST(list_cosine_similarity(ea.embedding, eb.embedding)
                     AS DOUBLE), 4) AS cosine
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
        WHERE round(CAST(list_cosine_similarity(ea.embedding, eb.embedding)
                    AS DOUBLE), 4) >= {threshold}"""


def _emb_contam_oracle_sql(planes: int, tables: int, dim: int,
                           threshold: float, bench_ids) -> str:
    """Oracle mirror of operators/dedup.embedding_contamination: both
    sides sign with the same inlined plane coefficients; candidates
    are cross-set band collisions; exact cosine verifies; every corpus
    row carries its flag."""
    buckets_arr = _bucket_array_sql(planes, tables, dim)
    ids = ", ".join(str(int(i)) for i in bench_ids)
    return f"""
        WITH sig AS (
          SELECT vec_id, embedding, {buckets_arr} AS buckets FROM embeddings),
        banded AS (
          SELECT vec_id, CAST(tbl AS INT) AS tbl,
                 buckets[CAST(tbl AS INT) + 1] AS tbucket
          FROM sig, LATERAL unnest(range(0, {tables})) AS r(tbl)),
        cand AS (
          SELECT DISTINCT c.vec_id, b.vec_id AS bench_id
          FROM banded c JOIN banded b
            ON c.tbl = b.tbl AND c.tbucket = b.tbucket
           AND b.vec_id IN ({ids}) AND c.vec_id <> b.vec_id),
        hit AS (
          SELECT DISTINCT c.vec_id
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.vec_id
          JOIN embeddings eb ON eb.vec_id = c.bench_id
          WHERE round(CAST(list_cosine_similarity(ea.embedding,
                eb.embedding) AS DOUBLE), 4) >= {threshold})
        SELECT e.vec_id, (h.vec_id IS NOT NULL) AS contaminated
        FROM embeddings e LEFT JOIN hit h ON e.vec_id = h.vec_id"""


def _lsh_topk_oracle_sql(planes: int = 8, tables: int = 8, dim: int = 64,
                         k: int = 5, n_queries: int = 8) -> str:
    """Oracle for the multi-table LSH approximate top-k
    (operators/similarity.lsh_topk): identical bucket expressions,
    candidate union across tables, exact-cosine re-rank."""
    buckets_arr = _bucket_array_sql(planes, tables, dim)
    return f"""
        WITH sig AS (
          SELECT vec_id, embedding, {buckets_arr} AS buckets FROM embeddings),
        banded AS (
          SELECT vec_id, CAST(tbl AS INT) AS tbl,
                 buckets[CAST(tbl AS INT) + 1] AS tbucket
          FROM sig, LATERAL unnest(range(0, {tables})) AS r(tbl)),
        q AS (
          SELECT vec_id AS query_id, tbl, tbucket FROM banded
          WHERE vec_id < {n_queries}),
        cand AS (
          SELECT DISTINCT q.query_id, b.vec_id
          FROM banded b JOIN q
            ON b.tbl = q.tbl AND b.tbucket = q.tbucket
           AND b.vec_id != q.query_id),
        scored AS (
          SELECT c.query_id, c.vec_id,
                 round(CAST(list_cosine_similarity(eq.embedding, ec.embedding)
                       AS DOUBLE), 4) AS cosine
          FROM cand c
          JOIN embeddings eq ON eq.vec_id = c.query_id
          JOIN embeddings ec ON ec.vec_id = c.vec_id),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rk
          FROM scored)
        SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= {k}"""


@gate("""
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                         AS DOUBLE), 4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) >= 0.4""")
def dedup_embedding(spark, sf):
    # max pairwise cosine in the testdata is ~0.51; 0.4 yields real pairs
    return D.embedding_near_dups(_t(spark, sf, "embeddings"), threshold=0.4)


@gate(_lsh_oracle_sql(8, 8, 64, 0.4))
def dedup_embedding_lsh(spark, sf):
    # planes=8 -> 256 buckets/table keeps candidate sets small (the
    # bucket-size/recall tradeoff: 4 tables still give ~0.9 recall at
    # the cos>=0.95 design point); 6x8 was 30x more candidate pairs
    return D.embedding_near_dups_lsh(_spread(_t(spark, sf, "embeddings"), "vec_id"),
                                     threshold=0.4, planes=8, tables=8)


@gate(_emb_contam_oracle_sql(8, 8, 64, 0.4, range(10)))
def dedup_embedding_contamination(spark, sf):
    """Semantic benchmark decontamination (operators/dedup.
    embedding_contamination): corpus vectors flagged when any of the
    10 'benchmark' vectors (ids 0..9 of the same table — real usage
    is a disjoint suite) sits within cosine 0.4; bench signatures
    broadcast, corpus never shuffles, flags broadcast back."""
    # no _spread: with the cosine in one Arrow kernel, the sf0.1 gate
    # ran 0.71 s without it against 0.91 s with it (median of 6
    # interleaved bench_extra pairs, faster in 6/6, steal <= 0.02)
    emb = _t(spark, sf, "embeddings")
    bench = emb.filter(F.col("vec_id") < 10)
    return D.embedding_contamination(emb, bench, threshold=0.4,
                                     planes=8, tables=8)


@gate("""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     round(CAST(list_cosine_similarity(q.embedding, c.embedding)
                           AS DOUBLE), 4) AS cosine
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 8),
            ranked AS (
              SELECT *, CAST(row_number() OVER
                     (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rk
              FROM scored)
            SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5""")
def ann_cosine_topk(spark, sf):
    return S.cosine_topk(_spread(_t(spark, sf, "embeddings"), "vec_id"),
                         list(range(8)), k=5)


@gate(_lsh_topk_oracle_sql(4, 16, 64, 5, 8))
def ann_lsh_topk(spark, sf):
    # multi-table LSH approximate top-k; recall vs cosine_topk asserted
    # in tests/test_similarity.py, value parity gated by its oracle.
    # planes=4/tables=16 is the weak-neighbour design point: this corpus's
    # true top-5 sit at cos ~0.3 (theta ~72deg -> per-plane agreement
    # ~0.6), so few planes + many tables buys recall ~0.95; a 0.95-cosine
    # near-dup task uses 8 planes instead (see dedup_embedding_lsh)
    return S.lsh_topk(_spread(_t(spark, sf, "embeddings"), "vec_id"),
                      list(range(8)), k=5,
                      planes=4, tables=16)


# IVF serving over the staged centroid table (training stays
# iterative and Spark-side; ann_ivf_topk stages centroids + c_sq
# before returning) — same rounded-distance argmin, same probes,
# same exact cosine re-rank
@gate(f"""
        WITH cen AS (
          SELECT cluster, centroid, c_sq
          FROM '{IVF_CENTROIDS_PATH}/*.parquet'),
        e AS (SELECT vec_id, embedding FROM embeddings),
        scored AS (
          -- floor(x*1e6+0.5)/1e6, NOT round(x, 6): the engine's Arrow
          -- argmin kernel, the Spark relational form, and this oracle
          -- all compute the identical double expression bit-for-bit
          -- (Spark F.round's BigDecimal HALF_UP diverges at half
          -- boundaries; see similarity._round6)
          SELECT e.vec_id, e.embedding, cen.cluster,
                 floor((cen.c_sq - 2.0 * list_sum(
                   [CAST(e.embedding[i] AS DOUBLE) * cen.centroid[i]
                    for i in range(1, 65)])) * 1000000.0 + 0.5)
                   / 1000000.0 AS dist
          FROM e CROSS JOIN cen),
        ranked AS (
          SELECT *, row_number() OVER
                 (PARTITION BY vec_id ORDER BY dist, cluster) AS ark
          FROM scored),
        assigned AS (
          SELECT vec_id, embedding, cluster FROM ranked WHERE ark = 1),
        probes AS (
          SELECT vec_id AS query_id, cluster FROM ranked
          WHERE vec_id < 8 AND ark <= 4),
        qv AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM e WHERE vec_id < 8),
        cand AS (
          SELECT p.query_id, a.vec_id, a.embedding, q.qvec
          FROM assigned a
          JOIN probes p ON a.cluster = p.cluster AND a.vec_id != p.query_id
          JOIN qv q ON q.query_id = p.query_id),
        sc AS (
          SELECT query_id, vec_id,
                 round(CAST(list_cosine_similarity(qvec, embedding)
                       AS DOUBLE), 4) AS cosine
          FROM cand),
        r2 AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rk
          FROM sc)
        SELECT query_id, vec_id, cosine, rk FROM r2 WHERE rk <= 5""")
def ann_ivf_topk(spark, sf):
    """IVF approximate top-k, hash-gated: the k-means TRAINING stays
    an iterative driver-loop (not SQL-expressible), but its output — the
    centroid table — is staged to parquet; the SERVING path
    (operators/similarity.ivf_topk_served) assigns the corpus through
    the broadcast Arrow argmin kernel (zero Exchange/Sort before
    assignment — tests/test_plan_quality.py), while the DuckDB oracle
    reruns the bit-compatible relational window-argmin SQL over the
    same staged centroids (parity: tests/test_similarity.py).  Recall
    vs the exact scan is asserted in tests/test_similarity.py."""
    # NO _spread here: this entry's serving contract is "zero Exchange/
    # Sort between the scan and the Arrow argmin assignment"
    # (test_plan_quality.test_ivf_assignment_is_exchange_free, VERDICT
    # r3 item 1) — a scan fan-out would be a hashpartitioning(vec_id)
    # exchange on the corpus side, exactly what the contract forbids
    emb = _t(spark, sf, "embeddings")
    staged = _stage_centroids(spark, emb, IVF_CENTROIDS_PATH, sf)
    return S.ivf_topk_served(emb, staged, list(range(8)), k=5, nprobe=4)


# PQ over the staged codebooks (ann_pq_topk stages them before
# returning): DuckDB re-derives per-(vec, subspace) INTEGER distance
# terms — floor((c_sq - 2*dot)*1e6 + 0.5), the dot a left-to-right
# list_sum fold exactly like the kernel's _seq_dot — takes the
# argmin code, sums the query's term lookups (associative integer
# sum == the kernel's), cuts the top-50, and re-ranks exactly
@gate(f"""
        WITH cb AS (
          SELECT sub, code, centroid, c_sq
          FROM '{PQ_CODEBOOKS_PATH}/*.parquet'),
        e AS (SELECT vec_id, embedding FROM embeddings),
        terms AS (
          SELECT e.vec_id, cb.sub, cb.code,
                 CAST(floor((cb.c_sq - 2.0 * list_sum(
                   [CAST(e.embedding[cb.sub * 8 + i] AS DOUBLE)
                    * cb.centroid[i] for i in range(1, 9)]))
                   * 1000000.0 + 0.5) AS BIGINT) AS t
          FROM e CROSS JOIN cb),
        codes AS (
          SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY t, code) AS rn
            FROM terms) WHERE rn = 1),
        qlut AS (
          SELECT vec_id AS query_id, sub, code, t
          FROM terms WHERE vec_id < 8),
        adc AS (
          SELECT q.query_id, c.vec_id, CAST(sum(q.t) AS BIGINT) AS dist_q
          FROM codes c
          JOIN qlut q ON c.sub = q.sub AND c.code = q.code
                     AND c.vec_id <> q.query_id
          GROUP BY q.query_id, c.vec_id),
        cand AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist_q, vec_id) AS crk
            FROM adc) WHERE crk <= 50),
        qv AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM e WHERE vec_id < 8),
        sc AS (
          SELECT cand.query_id, cand.vec_id,
                 round(CAST(list_cosine_similarity(q.qvec, e.embedding)
                       AS DOUBLE), 4) AS cosine
          FROM cand
          JOIN e ON e.vec_id = cand.vec_id
          JOIN qv q ON q.query_id = cand.query_id),
        r2 AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rk
          FROM sc)
        SELECT query_id, vec_id, cosine, rk FROM r2 WHERE rk <= 5""")
def ann_pq_topk(spark, sf):
    """Product-quantization approximate top-k (similarity.pq_topk,
    Jegou et al. 2011): the corpus compresses to M=8 one-byte codes per
    vector, queries rank by an INTEGER asymmetric-distance sum (the
    terms are floor-quantized micro-units, so the associative integer
    sum — unlike a float sum — is identical under any partitioning and
    in DuckDB), top-50 candidates re-rank with exact cosine.  Training
    is the iterative driver loop (not SQL-expressible); its codebook
    table is staged and the oracle re-derives codes, LUTs, and the ADC
    ranking from the staged floats bit-for-bit."""
    emb = _spread(_t(spark, sf, "embeddings"), "vec_id")
    staged = _stage_pq_codebooks(spark, emb, PQ_CODEBOOKS_PATH, sf)
    return S.pq_topk(emb, staged, list(range(8)), k=5, refine=50)


def _stage_pq_codebooks(spark, emb, path, sf):
    """Stage the 8x16 PQ codebooks (sub, code, centroid, c_sq) to the
    caller's per-query path; the TRAINING (5 Lloyd iterations per
    subspace, all subspaces per job) runs once per (corpus) and its
    output is shared — it is deterministic (lowest-vec_id init, fixed
    iters), so every consumer would train byte-identical tables."""
    def build():
        key = ("pq", sf)
        if key not in _TRAIN_CACHE:
            _TRAIN_CACHE[key] = S.train_pq_codebooks(emb, iters=5)
        return S.pq_codebooks_df(spark, _TRAIN_CACHE[key]).coalesce(1)

    return stage(spark, path, sf, build)


# IVF-PQ over BOTH staged artifacts: cluster assignment + probes
# from the staged coarse centroids (the ann_ivf_topk shape), codes
# + integer ADC from the staged codebooks (the ann_pq_topk shape),
# ADC restricted to probed-list candidates, top-40 refine, exact
# cosine re-rank — every ranking quantity integer or _round6
@gate(f"""
        WITH cen AS (
          SELECT cluster, centroid, c_sq
          FROM '{IVFPQ_CENTROIDS_PATH}/*.parquet'),
        cb AS (
          SELECT sub, code, centroid, c_sq
          FROM '{IVFPQ_CODEBOOKS_PATH}/*.parquet'),
        e AS (SELECT vec_id, embedding FROM embeddings),
        cscored AS (
          SELECT e.vec_id, cen.cluster,
                 floor((cen.c_sq - 2.0 * list_sum(
                   [CAST(e.embedding[i] AS DOUBLE) * cen.centroid[i]
                    for i in range(1, 65)])) * 1000000.0 + 0.5)
                   / 1000000.0 AS dist
          FROM e CROSS JOIN cen),
        cranked AS (
          SELECT *, row_number() OVER
                 (PARTITION BY vec_id ORDER BY dist, cluster) AS ark
          FROM cscored),
        assigned AS (
          SELECT vec_id, cluster FROM cranked WHERE ark = 1),
        probes AS (
          SELECT vec_id AS query_id, cluster FROM cranked
          WHERE vec_id < 8 AND ark <= 6),
        terms AS (
          SELECT e.vec_id, cb.sub, cb.code,
                 CAST(floor((cb.c_sq - 2.0 * list_sum(
                   [CAST(e.embedding[cb.sub * 8 + i] AS DOUBLE)
                    * cb.centroid[i] for i in range(1, 9)]))
                   * 1000000.0 + 0.5) AS BIGINT) AS t
          FROM e CROSS JOIN cb),
        codes AS (
          SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY t, code) AS rn
            FROM terms) WHERE rn = 1),
        qlut AS (
          SELECT vec_id AS query_id, sub, code, t
          FROM terms WHERE vec_id < 8),
        candrows AS (
          SELECT p.query_id, a.vec_id
          FROM assigned a
          JOIN probes p ON a.cluster = p.cluster
                       AND a.vec_id <> p.query_id),
        adc AS (
          SELECT cr.query_id, cr.vec_id,
                 CAST(sum(q.t) AS BIGINT) AS dist_q
          FROM candrows cr
          JOIN codes c ON c.vec_id = cr.vec_id
          JOIN qlut q ON q.query_id = cr.query_id
                     AND q.sub = c.sub AND q.code = c.code
          GROUP BY cr.query_id, cr.vec_id),
        cand AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dist_q, vec_id) AS crk
            FROM adc) WHERE crk <= 40),
        qv AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM e WHERE vec_id < 8),
        sc AS (
          SELECT cand.query_id, cand.vec_id,
                 round(CAST(list_cosine_similarity(q.qvec, e.embedding)
                       AS DOUBLE), 4) AS cosine
          FROM cand
          JOIN e ON e.vec_id = cand.vec_id
          JOIN qv q ON q.query_id = cand.query_id),
        r2 AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rk
          FROM sc)
        SELECT query_id, vec_id, cosine, rk FROM r2 WHERE rk <= 5""")
def ann_ivfpq_topk(spark, sf):
    """IVF-PQ composed serving (similarity.ivfpq_topk — the FAISS
    IVFPQ architecture, by_residual=False): both trained artifacts
    (coarse centroids + PQ codebooks, each its own staged parquet per
    the per-query staging contract) drive a probe -> ADC -> exact-
    refine plan whose corpus side is never exchanged before scoring;
    the DuckDB oracle re-derives cluster assignment, probes, codes,
    integer ADC, and the refine cut from the same staged floats."""
    emb = _spread(_t(spark, sf, "embeddings"), "vec_id")
    cents = _stage_centroids(spark, emb, IVFPQ_CENTROIDS_PATH, sf)
    cbs = _stage_pq_codebooks(spark, emb, IVFPQ_CODEBOOKS_PATH, sf)
    return S.ivfpq_topk(emb, cents, cbs, list(range(8)), k=5, nprobe=6,
                        refine=40)


def _stage_centroids(spark, emb, path, sf):
    """Stage the 16-cluster/5-iter k-means quantizer as (cluster,
    centroid, c_sq) to the caller's path — shared by ann_ivf_topk,
    ann_ivfpq_topk, and dedup_semantic*, each staging its OWN file (the
    gate's per-query contract: a query's oracle reads only what that
    query staged).  Training is deterministic per corpus, so its output
    is cached per sf and the stage write per (path, sf): repeated calls
    in one process (the bench's warm-then-time protocol, the multi-SF
    gate) never retrain byte-identical tables."""
    def build():
        key = ("ivf", sf)
        if key not in _TRAIN_CACHE:
            cents = S.train_ivf_centroids(emb, n_clusters=16, iters=5)
            rows = [
                (int(i), [float(v) for v in c],
                 float(sum(float(v) * float(v) for v in c)))
                for i, c in enumerate(cents)
            ]
            _TRAIN_CACHE[key] = rows
        return spark.createDataFrame(
            _TRAIN_CACHE[key],
            "cluster int, centroid array<double>, c_sq double").coalesce(1)

    return stage(spark, path, sf, build)


# SemDeDup over the staged k-means partition (dedup_semantic stages
# its own centroid table before returning): the same bit-compatible
# floor-quantized argmin assignment, then exact rounded cosine over
# within-cluster pairs only
@gate(f"""
        WITH cen AS (
          SELECT cluster, centroid, c_sq
          FROM '{SEMDEDUP_CENTROIDS_PATH}/*.parquet'),
        e AS (SELECT vec_id, embedding FROM embeddings),
        scored AS (
          SELECT e.vec_id, e.embedding, cen.cluster,
                 floor((cen.c_sq - 2.0 * list_sum(
                   [CAST(e.embedding[i] AS DOUBLE) * cen.centroid[i]
                    for i in range(1, 65)])) * 1000000.0 + 0.5)
                   / 1000000.0 AS dist
          FROM e CROSS JOIN cen),
        assigned AS (
          SELECT vec_id, embedding, cluster FROM (
            SELECT *, row_number() OVER
                   (PARTITION BY vec_id ORDER BY dist, cluster) AS ark
            FROM scored) WHERE ark = 1)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cluster AS cluster,
               round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                     AS DOUBLE), 4) AS cosine
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                    AS DOUBLE), 4) >= 0.35""")
def dedup_semantic(spark, sf):
    """SemDeDup (operators/similarity.semantic_dedup_pairs): k-means
    partition the embeddings (trainer = the same iterative driver loop
    as ann_ivf_topk; centroids staged for the oracle), exact cosine
    restricted to within-cluster pairs.  The oracle reruns the
    bit-compatible relational assignment (window argmin over the
    _round6 distance) and the same rounded-cosine filter.  Builds
    eagerly — the ann_ivf_topk trainer precedent."""
    emb = _spread(_t(spark, sf, "embeddings"), "vec_id")
    staged = _stage_centroids(spark, emb, SEMDEDUP_CENTROIDS_PATH, sf)
    # the testdata corpus has no true near-dup embeddings (max pairwise
    # cosine ~0.5), so the evidence-bearing threshold sits at the
    # moderate-similarity band like dedup_embedding's 0.4
    return S.semantic_dedup_pairs(emb, staged, threshold=0.35)


# SemDeDup keep-one: the same staged-centroid assignment + pair
# filter, fed through the dedup_components recursive min-label
# propagation (label spreads while label < node)
@gate(f"""
        WITH RECURSIVE cen AS (
          SELECT cluster, centroid, c_sq
          FROM '{SEMDEDUP_CENTROIDS_PATH}/*.parquet'),
        emb AS (SELECT vec_id, embedding FROM embeddings),
        scored AS (
          SELECT emb.vec_id, emb.embedding, cen.cluster,
                 floor((cen.c_sq - 2.0 * list_sum(
                   [CAST(emb.embedding[i] AS DOUBLE) * cen.centroid[i]
                    for i in range(1, 65)])) * 1000000.0 + 0.5)
                   / 1000000.0 AS dist
          FROM emb CROSS JOIN cen),
        assigned AS (
          SELECT vec_id, embedding, cluster FROM (
            SELECT *, row_number() OVER
                   (PARTITION BY vec_id ORDER BY dist, cluster) AS ark
            FROM scored) WHERE ark = 1),
        pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM assigned a JOIN assigned b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                      AS DOUBLE), 4) >= 0.35),
        {_reach_comp_cte(u="vec_a", v="vec_b", nodes="embeddings",
                         node_col="vec_id")}
        SELECT vec_id, component, vec_id = component AS keep
        FROM comp""")
def dedup_semantic_keep(spark, sf):
    """SemDeDup's APPLICATION step: transitive keep-one over the
    within-cluster cosine pairs (operators/components.connected_
    components over semantic_dedup_pairs; Abbas et al. 2023 keep the
    cluster representative).  Every embedding labeled with its
    semantic component and the keep decision (vec_id == component
    min).  The oracle reruns the staged-centroid assignment + pair
    filter, then recursive min-label propagation — the
    dedup_components CTE shape.  Eager-builder (the clustering loop
    runs at build time — ann_ivf_topk precedent)."""
    emb = _spread(_t(spark, sf, "embeddings"), "vec_id")
    staged = _stage_centroids(spark, emb, SEMDEDUP_CENTROIDS_PATH, sf)
    pairs = S.semantic_dedup_pairs(emb, staged, threshold=0.35)
    return _component_keep(pairs, emb.select("vec_id"),
                           node_col="vec_id", src="vec_a", dst="vec_b")


@gate("""
            WITH media AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN 'image'
                          WHEN doc_id % 3 = 1 THEN 'audio'
                          ELSE 'video' END AS kind,
                     encode(text) AS payload, text
              FROM documents)
            SELECT kind, count(*) AS n,
                   CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
                   CAST(sum(CASE WHEN sha256(text) LIKE '0%'
                            THEN 1 ELSE 0 END) AS BIGINT) AS digest_0
            FROM media GROUP BY kind""")
def multimodal_payload(spark, sf):
    media = M.media_from_documents(_spread(_t(spark, sf, "documents"), "doc_id"))
    feats = M.media_features(media)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.count(F.when(F.col("digest").startswith("0"), 1)).alias("digest_0"),
    )


# perceptual payload near-dup: DuckDB re-derives the 60-bit
# block-mean hash from hex(payload) — byte i -> segment
# i*60//n, bit = integer cross-product, identical to the kernel
@gate("""
            WITH base AS (
              SELECT doc_id AS media_id, encode(text) AS payload
              FROM documents
              UNION ALL
              SELECT doc_id + 100000000,
                     encode(substr(text, 1, 10) || 'X' || substr(text, 12))
              FROM documents
              WHERE doc_id % 17 = 0 AND length(text) >= 12),
            p AS (SELECT media_id, hex(payload) AS hx,
                         CAST(octet_length(payload) AS BIGINT) AS n
                  FROM base WHERE octet_length(payload) > 0),
            bytes AS (
              SELECT media_id, n,
                     CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INT), 2))
                          AS BIGINT) AS v,
                     i * 60 // n AS k
              FROM p, LATERAL unnest(range(0, n)) AS r(i)),
            agg AS (
              SELECT media_id, any_value(n) AS n, k,
                     CAST(sum(v) AS BIGINT) AS seg_sum,
                     CAST(count(*) AS BIGINT) AS seg_len
              FROM bytes GROUP BY media_id, k),
            tot AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS total
                    FROM bytes GROUP BY media_id),
            bh0 AS (
              SELECT a.media_id,
                     -- HUGEINT: the cross-products pass int64 at
                     -- ~1.4 GB payloads (the kernel compares in
                     -- Python big ints for the same reason)
                     CAST(sum(CASE WHEN CAST(a.seg_sum AS HUGEINT) * a.n
                                        > CAST(t.total AS HUGEINT) * a.seg_len
                                   THEN CAST(1 AS BIGINT) << CAST(a.k AS INT)
                                   ELSE 0 END) AS BIGINT) AS bh
              FROM agg a JOIN tot t USING (media_id)
              GROUP BY a.media_id),
            allbh AS (
              SELECT base.media_id, coalesce(bh0.bh, 0) AS bh
              FROM base LEFT JOIN bh0 USING (media_id)),
            banded AS (
              SELECT media_id, bh, band,
                     (bh >> CAST(band * 12 AS INT)) & 4095 AS bval
              FROM allbh, LATERAL unnest(range(0, 5)) AS r(band)),
            pairs AS (
              SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                     a.bh AS ha, b.bh AS hb
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bval = b.bval
               AND a.media_id < b.media_id)
            SELECT media_a, media_b,
                   CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
            FROM pairs
            WHERE bit_count(xor(ha, hb)) <= 4""")
def multimodal_near_dup(spark, sf):
    """Perceptual payload near-dup (multimodal.media_near_dups,
    block-mean hashing — Yang et al. 2006): every 17th document's
    payload is re-served with ONE substituted byte (the planted
    near-dup, media_id + 10^8), the banded 60-bit blockhash surfaces
    the pairs, and the true hamming verifies them.  Every bit of the
    hash is an integer cross-product, so the DuckDB oracle re-derives
    the identical hashes from hex(payload)."""
    docs = _t(spark, sf, "documents")
    media = M.media_from_documents(docs).select(
        "media_id", "kind", "payload")
    spiked = docs.filter(
        (F.col("doc_id") % 17 == 0) & (F.length("text") >= 12)
    ).select(
        (F.col("doc_id") + 100000000).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(
            F.concat(F.expr("substring(text, 1, 10)"), F.lit("X"),
                     F.expr("substring(text, 12)")), "utf-8"
        ).alias("payload"),
    )
    return M.media_near_dups(media.unionByName(spiked), max_hamming=4)


# cluster-balanced reservoir: the same staged-centroid
# window-argmin assignment, then the single-window form of the
# per-stratum reservoir (seed 'cb0') — value-identical to the
# engine's two-level decomposed rank
@gate(f"""
        WITH cen AS (
          SELECT cluster, centroid, c_sq
          FROM '{CLUSTER_SAMPLE_CENTROIDS_PATH}/*.parquet'),
        e AS (SELECT vec_id, embedding FROM embeddings),
        scored AS (
          SELECT e.vec_id, cen.cluster,
                 floor((cen.c_sq - 2.0 * list_sum(
                   [CAST(e.embedding[i] AS DOUBLE) * cen.centroid[i]
                    for i in range(1, 65)])) * 1000000.0 + 0.5)
                   / 1000000.0 AS dist
          FROM e CROSS JOIN cen),
        assigned AS (
          SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM (
            SELECT *, row_number() OVER
                   (PARTITION BY vec_id ORDER BY dist, cluster) AS ark
            FROM scored) WHERE ark = 1),
        h AS (
          SELECT vec_id, cluster,
                 CAST(('0x' || substring(md5('cb0'
                   || '|' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   AS hh
          FROM assigned),
        r AS (SELECT vec_id, cluster,
              CAST(row_number() OVER (PARTITION BY cluster
                   ORDER BY hh ASC, vec_id ASC) AS BIGINT) AS rk
              FROM h)
        SELECT vec_id, cluster, rk FROM r WHERE rk <= 5""")
def sample_cluster_balanced(spark, sf):
    """Cluster-balanced diversity sample (the DCLM/SemDeDup-style
    selection step): assign every embedding to its nearest staged
    k-means centroid through the exchange-free Arrow argmin kernel
    (similarity.cluster_assign — the ann_ivf_topk serving contract),
    then keep a deterministic fixed-size reservoir per cluster
    (sampling.reservoir_sample, two-level decomposed rank) — equal
    representation across semantic clusters instead of the corpus'
    frequency weighting.  The oracle reruns the staged-centroid
    window-argmin assignment (the dedup_semantic form) and the
    single-window reservoir over the same hash."""
    from origami_spark.operators.sampling import reservoir_sample

    emb = _spread(_t(spark, sf, "embeddings"), "vec_id")
    staged = _stage_centroids(spark, emb, CLUSTER_SAMPLE_CENTROIDS_PATH, sf)
    assigned = S.cluster_assign(emb, staged).select("vec_id", "cluster")
    return reservoir_sample(assigned, k=5, by="cluster",
                            id_col="vec_id", seed="cb0")
