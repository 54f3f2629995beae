"""Document dedup gates: exact, MinHash, SimHash, substring, incremental."""

from pyspark.sql import functions as F

from origami_spark.operators import dedup as D
from origami_spark.session import cache

from gates import _H60, _TOKENS, _t, gate

def _shingle_cte(n: int = 3) -> str:
    return f"""
toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL unnest(range(1, greatest(len(t) - {n - 2}, 1))) AS r(i)
  WHERE len(t) >= {n}
)"""


def _simhash_cand_cte() -> str:
    """The banded-simhash candidate CTE chain (mirrors
    operators/dedup.simhash + the band join), ending at
    ``cand(doc_a, doc_b, ha, hb)`` — shared by dedup_simhash and
    dedup_simhash_keep."""
    return f"""toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
            th AS (SELECT doc_id, {_H60.format(x="tok")} AS h FROM toks),
            votes AS (
              SELECT doc_id, CAST(bit AS INT) AS bit,
                     sum(CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1
                         THEN 1 ELSE -1 END) AS vote
              FROM th, LATERAL unnest(range(0, 32)) AS r(bit)
              GROUP BY doc_id, bit),
            sh AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN vote > 0
                              THEN (CAST(1 AS BIGINT) << bit)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
            banded AS (
              SELECT doc_id, simhash, CAST(band AS INT) AS band,
                     (simhash >> (CAST(band AS INT) * 8)) & 255 AS bucket
              FROM sh, LATERAL unnest(range(0, 4)) AS r(band)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.simhash AS ha, b.simhash AS hb
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id)"""


def _reach_comp_cte(u: str = "doc_a", v: str = "doc_b",
                    nodes: str = "documents",
                    node_col: str = "doc_id") -> str:
    """Transitive min-label propagation over a preceding
    ``pairs({u}, {v})`` CTE — the DuckDB oracle of
    operators/components.connected_components.  Emits the ``e`` /
    ``reach`` / ``comp`` chain (labels flow while label < node, so the
    component min always spreads); append after the pairs CTE inside a
    WITH RECURSIVE chain and SELECT from ``comp``.  ONE copy on
    purpose: the propagation rule must stay identical across every
    *_keep / components oracle."""
    return f"""e AS (
              SELECT {u} AS u, {v} AS v FROM pairs
              UNION
              SELECT {v}, {u} FROM pairs),
            reach(node, label) AS (
              SELECT {node_col}, {node_col} FROM {nodes}
              UNION
              SELECT e.v, r.label
              FROM reach r JOIN e ON e.u = r.node
              WHERE r.label < e.v),
            comp AS (
              SELECT node AS {node_col}, min(label) AS component
              FROM reach GROUP BY node)"""


def _winnow_fp_cte(window: int = 64, k: int = 16, max_df: int = 5,
                   all_positions: bool = False,
                   max_positions: int = 16) -> str:
    """Winnowing-fingerprint CTE chain ending in `fp` (doc_id, gram,
    pos) — the exact relational form of operators/dedup.py's
    substring_fingerprints + df cutoff, shared by the substring-pair
    and span-removal oracles.  ``all_positions`` mirrors the operator
    flag: every occurrence of a selected gram instead of the earliest
    (df then counts DISTINCT docs)."""
    w = window - k + 1
    if all_positions:
        # first max_positions occurrences per (doc, gram) — the same
        # anchor-explosion bound the operator applies
        fp0 = f"""fp0 AS (
              SELECT doc_id, gram, pos FROM (
                SELECT g.doc_id, g.gram, g.pos,
                       row_number() OVER (PARTITION BY g.doc_id, g.gram
                                          ORDER BY g.pos) AS rn
                FROM g JOIN sel ON g.doc_id = sel.doc_id AND g.h = sel.h)
              WHERE rn <= {max_positions})"""
        rare = (f"rare AS (\n              SELECT gram FROM fp0 "
                f"GROUP BY gram HAVING count(DISTINCT doc_id) <= {max_df})")
    else:
        fp0 = """fp0 AS (
              SELECT g.doc_id, g.gram, min(g.pos) AS pos
              FROM g JOIN sel ON g.doc_id = sel.doc_id AND g.h = sel.h
              GROUP BY g.doc_id, g.gram)"""
        rare = (f"rare AS (\n              SELECT gram FROM fp0 "
                f"GROUP BY gram HAVING count(*) <= {max_df})")
    return f"""grams AS (
              SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
                     CAST(i AS BIGINT) AS pos,
                     substr(text, CAST(i AS INT) + 1, {k}) AS gram
              FROM documents,
                   LATERAL unnest(range(0, length(text) - {k} + 1)) AS r(i)
              WHERE length(text) >= {window}),
            g AS (SELECT doc_id, len, pos, gram,
                         {_H60.format(x="gram")} AS h
                  FROM grams),
            wm AS (
              SELECT doc_id, len, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
                       AS mh
              FROM g),
            sel AS (
              SELECT DISTINCT doc_id, mh AS h FROM wm
              WHERE pos <= len - {window}),
            {fp0},
            {rare},
            fp AS (SELECT fp0.* FROM fp0 JOIN rare USING (gram))"""


def _span_removal_oracle_sql(window: int = 64, k: int = 16,
                             max_df: int = 5,
                             max_positions: int = 16) -> str:
    """Oracle for the span-removal APPLICATION (duplicate_spans with
    skip_covered=False): all-positions winnowing anchors, each extended
    to the maximal exact match via MONOTONE substring-equality counting
    (prefix equality at length L implies it at L-1, so count(matching
    lengths) == max length), spans >= window kept, distinct, then the
    same running-max interval merge the Spark side computes.  All
    window/k literals derive from the parameters — the fingerprint CTE
    and the extension arithmetic cannot drift apart."""
    return f"""
        WITH {_winnow_fp_cte(window, k, max_df, all_positions=True,
                             max_positions=max_positions)},
        anchors AS (
          SELECT a.doc_id AS da, b.doc_id AS db,
                 a.pos AS pa, b.pos AS pb
          FROM fp a JOIN fp b
            ON a.gram = b.gram AND a.doc_id < b.doc_id),
        ax AS (
          SELECT an.*, ta.text AS ta, tb.text AS tb,
                 CAST(length(ta.text) AS BIGINT) AS la,
                 CAST(length(tb.text) AS BIGINT) AS lb
          FROM anchors an
          JOIN documents ta ON ta.doc_id = an.da
          JOIN documents tb ON tb.doc_id = an.db),
        ext AS (
          SELECT db AS doc_id, pb,
            COALESCE((SELECT count(*)
               FROM unnest(range(1, least(pa, pb) + 1)) AS r(l)
               WHERE substr(ta, CAST(pa - l + 1 AS INT), CAST(l AS INT))
                   = substr(tb, CAST(pb - l + 1 AS INT), CAST(l AS INT))),
              0) AS lmax,
            COALESCE((SELECT count(*)
               FROM unnest(range(1, least(la - pa, lb - pb) - {k} + 1)) AS r(e)
               WHERE substr(ta, CAST(pa + 1 AS INT), CAST({k} + e AS INT))
                   = substr(tb, CAST(pb + 1 AS INT), CAST({k} + e AS INT))),
              0) AS rext
          FROM ax),
        spans0 AS (
          SELECT DISTINCT doc_id,
                 CAST(pb - lmax AS BIGINT) AS start,
                 CAST(pb + {k} + rext AS BIGINT) AS "end"
          FROM ext WHERE lmax + {k} + rext >= {window}),
        m1 AS (
          SELECT doc_id, start, "end",
                 max("end") OVER (PARTITION BY doc_id
                   ORDER BY start, "end"
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
          FROM spans0),
        m2 AS (
          SELECT *, CASE WHEN prev_max IS NULL OR start > prev_max
                    THEN 1 ELSE 0 END AS ng
          FROM m1),
        m3 AS (
          SELECT *, sum(ng) OVER (PARTITION BY doc_id
                   ORDER BY start, "end"
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS grp
          FROM m2)
        SELECT doc_id, min(start) AS start, max("end") AS "end"
        FROM m3 GROUP BY doc_id, grp"""


@gate("""
            SELECT md5(text) AS digest, min(doc_id) AS keeper,
                   count(*) AS n_docs
            FROM documents GROUP BY 1""")
def dedup_exact(spark, sf):
    # min_count=1: the testdata corpus has no exact duplicates, so the
    # evidence-bearing result is the full digest table the dedup join
    # consumes (0 matching rows would be a trivially-true oracle)
    return D.exact_duplicates(_t(spark, sf, "documents"), min_count=1)


@gate("""
            SELECT md5(trim(regexp_replace(regexp_replace(
                     regexp_replace(lower(text), '[0-9]+', '', 'g'),
                     '[!-/:-@\\[-`{-~]+', '', 'g'),
                     '[ \t\n\r\f]+', ' ', 'g'))) AS digest,
                   min(doc_id) AS keeper, count(*) AS n_docs
            FROM documents GROUP BY 1""")
def dedup_exact_normalized(spark, sf):
    """ccnet-normalized exact dedup (operators/dedup.ccnet_normalize,
    Wenzek et al. 2020 §3.1): digests over lowercased, digit- and
    punctuation-stripped, whitespace-collapsed text — catches the
    trivially-differing re-serve class raw digests miss.  min_count=1
    for the dedup_exact rationale (the full digest table is the
    evidence; the synthetic corpus has no duplicates)."""
    return D.exact_duplicates(_t(spark, sf, "documents"), min_count=1,
                              normalized=True)


@gate(f"""
            WITH {_shingle_cte(3)},
            sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
            rare AS (
              SELECT shingle FROM shingles GROUP BY 1 HAVING count(*) <= 5),
            joinable AS (
              SELECT s.doc_id, s.shingle FROM shingles s JOIN rare USING (shingle)),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM joinable a JOIN joinable b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b, common,
                   round(common * 1.0 / (sa.sz + sb.sz - common), 4) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(common * 1.0 / (sa.sz + sb.sz - common), 4) >= 0.2""")
def dedup_ngram_jaccard(spark, sf):
    # max_df=5 exercises the hot-shingle cutoff (sf0.01 dfs reach 7):
    # ubiquitous shingles leave the inverted index before the self-join
    return D.ngram_jaccard_pairs(_t(spark, sf, "documents"), n=3,
                                 threshold=0.2, max_df=5)


@gate(f"""
            WITH {_shingle_cte(3)},
            mh AS (
              SELECT doc_id, i,
                     min({_H60.format(x="CAST(i AS VARCHAR) || '|' || shingle")}) AS mh
              FROM shingles, LATERAL unnest(range(0, 16)) AS r(i)
              GROUP BY doc_id, i),
            buckets AS (
              SELECT doc_id, CAST(i // 4 AS INT) AS band,
                     string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
              FROM mh GROUP BY doc_id, band)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id""")
def dedup_minhash_lsh(spark, sf):
    return D.minhash_lsh_candidates(_t(spark, sf, "documents"), n=3, k=16, bands=4)


# incremental near-dup: the same banding CTEs as
# dedup_minhash_lsh, with the corpus/batch split expressed as
# join predicates — 'corpus' pairs an indexed doc with a batch
# doc (either id may be smaller), 'batch' pairs two batch docs
@gate(f"""
            WITH {_shingle_cte(3)},
            mh AS (
              SELECT doc_id, i,
                     min({_H60.format(x="CAST(i AS VARCHAR) || '|' || shingle")}) AS mh
              FROM shingles, LATERAL unnest(range(0, 16)) AS r(i)
              GROUP BY doc_id, i),
            buckets AS (
              SELECT doc_id, CAST(i // 4 AS INT) AS band,
                     string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
              FROM mh GROUP BY doc_id, band)
            SELECT DISTINCT c.doc_id AS doc_a, b.doc_id AS doc_b,
                   'corpus' AS kind
            FROM buckets c JOIN buckets b
              ON c.band = b.band AND c.bucket = b.bucket
             AND c.doc_id % 4 <> 0 AND b.doc_id % 4 = 0
             AND c.doc_id <> b.doc_id
            UNION ALL
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   'batch' AS kind
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id % 4 = 0 AND b.doc_id % 4 = 0
             AND a.doc_id < b.doc_id""")
def dedup_incremental(spark, sf):
    """Incremental near-dup against a persisted signature index
    (operators/dedup.py signature_index/incremental_candidates): the
    corpus (doc_id % 4 != 0) is indexed once; the arriving batch
    (doc_id % 4 == 0) emits only pairs touching the batch — corpus
    pairs amortized away.  Banding identical to dedup_minhash_lsh, so
    the oracle reuses its CTEs with the split as join predicates."""
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    idx = D.signature_index(corpus)
    return D.incremental_candidates(cache(D.signature_index(batch)), idx)


# incremental exact dedup: the same deterministic source-id
# remap, then the keep rule in direct SQL — digest absent from
# the corpus index AND min batch id per digest
@gate("""
            WITH remapped AS (
              SELECT m.doc_id, s.text
              FROM (SELECT doc_id,
                           CASE WHEN doc_id % 48 IN (0, 4, 16)
                                THEN doc_id - doc_id % 48
                                WHEN doc_id % 48 IN (8, 9, 10)
                                THEN doc_id - doc_id % 48 + 8
                                ELSE doc_id END AS src
                    FROM documents) m
              JOIN documents s ON s.doc_id = m.src),
            idx AS (
              SELECT md5(text) AS digest, min(doc_id) AS keeper
              FROM remapped WHERE doc_id % 4 <> 0 GROUP BY 1),
            b AS (
              SELECT doc_id, md5(text) AS digest
              FROM remapped WHERE doc_id % 4 = 0),
            bmin AS (SELECT digest, min(doc_id) AS bkeep FROM b GROUP BY 1)
            SELECT b.doc_id, b.digest,
                   (idx.keeper IS NULL AND b.doc_id = bmin.bkeep) AS keep,
                   CASE WHEN idx.keeper IS NOT NULL THEN idx.keeper
                        WHEN b.doc_id <> bmin.bkeep THEN bmin.bkeep
                   END AS dup_of
            FROM b JOIN bmin USING (digest)
            LEFT JOIN idx USING (digest)""")
def dedup_incremental_exact(spark, sf):
    """Incremental EXACT dedup against a persisted digest index
    (operators/dedup.digest_index/incremental_exact).  The corpus
    ships no exact duplicates, so the query synthesizes them with a
    deterministic source-id remap covering all three decision cases:
    doc_ids ≡ {0,4,16} (mod 48) share the 48-multiple's text — groups
    entirely in the batch (doc_id % 4 == 0), so the min id keeps;
    ids ≡ {8,9,10} (mod 48) share the +8 member's text — the batch doc
    (+8) collides with indexed corpus copies (+9,+10) and drops;
    everything else is unique and keeps.  The oracle mirrors the remap
    and the keep/dup_of rule in direct SQL."""
    docs = _t(spark, sf, "documents")
    src = docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 48 IN (0, 4, 16)"
            "     THEN doc_id - doc_id % 48 "
            "     WHEN doc_id % 48 IN (8, 9, 10)"
            "     THEN doc_id - doc_id % 48 + 8 "
            "     ELSE doc_id END").alias("src"),
    )
    texts = docs.select(F.col("doc_id").alias("src"), "text")
    remapped = src.join(texts, "src").select("doc_id", "text")
    corpus = remapped.filter(F.col("doc_id") % 4 != 0)
    batch = remapped.filter(F.col("doc_id") % 4 == 0)
    idx = D.digest_index(corpus)
    return D.incremental_exact(batch, idx)


def _component_keep(pairs, nodes, node_col="doc_id",
                    src="doc_a", dst="doc_b"):
    """Candidate pairs -> connected components -> (node, component,
    keep = node == component min).  ONE copy of the transitive
    keep-one labeling shared by every *_keep query; its oracle twin is
    ``_reach_comp_cte``.  Eager-builder: the component loop executes
    at build time (ann_ivf_topk trainer precedent)."""
    from origami_spark.operators.components import connected_components

    comp = connected_components(pairs, src=src, dst=dst,
                                node_col=node_col, nodes=nodes)
    return comp.select(
        node_col, "component",
        (F.col(node_col) == F.col("component")).alias("keep"))


# near-dup clusters: the minhash banding pairs (CTEs identical
# to dedup_minhash_lsh) fed through a recursive min-label
# propagation — label L spreads along an edge into node v only
# while L < v (a label >= v can never be v's component min, and
# the true min m < every other member, so its path is never
# pruned); min(label) per node == the alternating-star result
@gate(f"""
            WITH RECURSIVE {_shingle_cte(3)},
            mh AS (
              SELECT doc_id, i,
                     min({_H60.format(x="CAST(i AS VARCHAR) || '|' || shingle")}) AS mh
              FROM shingles, LATERAL unnest(range(0, 16)) AS r(i)
              GROUP BY doc_id, i),
            buckets AS (
              SELECT doc_id, CAST(i // 4 AS INT) AS band,
                     string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
              FROM mh GROUP BY doc_id, band),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM buckets a JOIN buckets b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
            {_reach_comp_cte()}
            SELECT doc_id, component,
                   count(*) OVER (PARTITION BY component) AS csize
            FROM comp""")
def dedup_components(spark, sf):
    """Near-dup CLUSTERS from candidate pairs: alternating large/small
    star connected components (operators/components.py, Kiveris et al.
    2014) over the minhash banding graph, every document labeled with
    its cluster's min doc_id plus the cluster size.  The oracle is a
    DuckDB recursive CTE propagating min labels over the same pairs.
    NB building this frame EXECUTES the clustering loop (per-round
    eager checkpoints + convergence probes) — the same eager-builder
    shape as ann_ivf_topk's trainer; plan-only consumers pay the run."""
    from origami_spark.operators.components import connected_components

    docs = _t(spark, sf, "documents")
    cand = D.minhash_lsh_candidates(docs, n=3, k=16, bands=4)
    comp = connected_components(cand, nodes=docs.select("doc_id"))
    size = comp.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return comp.join(size, "component").select("doc_id", "component", "csize")


# winnowing fingerprints (shared _winnow_fp_cte): window-min hash ->
# distinct fingerprint grams, df<=5 cutoff, equality join
# (mirrors substring_dup_pairs)
@gate(f"""
            WITH {_winnow_fp_cte()}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_shared,
                   min(a.pos) AS a_pos_min, min(b.pos) AS b_pos_min
            FROM fp a JOIN fp b
              ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2""")
def dedup_substring(spark, sf):
    # exact repeated-substring pairs (Lee et al. 2022 shape) via
    # alignment-free winnowing fingerprints; max_df bounds the hot-key
    # bucket a boilerplate fragment would otherwise create at scale
    return D.substring_dup_pairs(_t(spark, sf, "documents"),
                                 window=64, k=16, max_df=5)


@gate(_span_removal_oracle_sql())
def dedup_span_removal(spark, sf):
    # the APPLICATION step of exact-substring dedup (Lee et al. 2022):
    # maximal duplicated spans to remove from all but the earliest copy.
    # skip_covered=False = the exhaustive, order-independent extension —
    # exactly what the DuckDB oracle reproduces via monotone
    # substring-equality counting
    return D.duplicate_spans(_t(spark, sf, "documents"),
                             window=64, k=16, max_df=5,
                             skip_covered=False)


@gate(f"""
            WITH {_simhash_cand_cte()}
            SELECT doc_a, doc_b,
                   CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS BIGINT) AS hamming
            FROM cand
            WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 6""")
def dedup_simhash(spark, sf):
    return D.simhash_near_dups(_t(spark, sf, "documents"), bits=32, bands=4,
                               max_hamming=6)


# substring pairs -> transitive min-label components -> keep-one
@gate(f"""
            WITH RECURSIVE {_winnow_fp_cte()},
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM fp a JOIN fp b
                ON a.gram = b.gram AND a.doc_id < b.doc_id),
            {_reach_comp_cte()}
            SELECT doc_id, component, doc_id = component AS keep
            FROM comp""")
def dedup_substring_keep(spark, sf):
    """Transitive keep-one over the winnowing SUBSTRING pair graph:
    docs sharing any >= window-char passage (at any alignment) are
    clustered via the alternating-star component loop and exactly one
    per cluster keeps.  This is the whole-doc POLICY consumer of
    dedup_substring's pair evidence (the passage-surgery consumer is
    dedup_span_removal).  Same eager-builder caveat as
    dedup_components."""
    docs = _t(spark, sf, "documents")
    pairs = D.substring_dup_pairs(docs, window=64, k=16, max_df=5)
    return _component_keep(pairs, docs.select("doc_id"))


# simhash pairs -> transitive min-label components (the
# dedup_components reach shape) -> keep-one per cluster
@gate(f"""
            WITH RECURSIVE {_simhash_cand_cte()},
            pairs AS (
              SELECT doc_a, doc_b FROM cand
              WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 6),
            {_reach_comp_cte()}
            SELECT doc_id, component, doc_id = component AS keep
            FROM comp""")
def dedup_simhash_keep(spark, sf):
    """Transitive keep-one over the SIMHASH pair graph: the verified
    hamming<=6 pairs feed the same alternating-star component loop as
    dedup_components (a~b~c is ONE cluster even when a,c share no
    band), every doc labeled (component, keep = doc_id == component).
    Same eager-builder caveat as dedup_components; the oracle chains
    the dedup_simhash CTE into the recursive min-label reach."""
    docs = _t(spark, sf, "documents")
    pairs = D.simhash_near_dups(docs, bits=32, bands=4, max_hamming=6)
    return _component_keep(pairs, docs.select("doc_id"))


@gate(f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
            g AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(t) >= 8 THEN
                       list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS gs
              FROM toks),
            cg AS (
              SELECT doc_id, {_H60.format(x='gram')} AS gh
              FROM (SELECT doc_id, unnest(gs) AS gram FROM g)),
            bg AS (SELECT doc_id AS bench_id, gh FROM cg WHERE doc_id % 50 = 0),
            hits AS (
              SELECT c.doc_id,
                     count(DISTINCT c.gh) AS n_hits,
                     count(DISTINCT b.bench_id) AS n_benchmarks
              FROM cg c JOIN bg b USING (gh) GROUP BY c.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(coalesce(h.n_benchmarks, 0) AS BIGINT) AS n_benchmarks,
                   coalesce(h.n_hits, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)""")
def dedup_contamination(spark, sf):
    """Benchmark decontamination check (operators/dedup.py): every 50th
    document plays the evaluation set; 8-gram collisions flag
    contaminated training docs (each benchmark doc trivially flags
    itself, plus any corpus near-copies)."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return D.benchmark_contamination(docs, bench, n=8, min_hits=1)
