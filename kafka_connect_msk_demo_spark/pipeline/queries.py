"""Registered LLM-pipeline queries + DuckDB oracle twins.

Every entry follows the engine-wide contract (queries.py): a
``(spark, sf_dir) -> DataFrame`` callable and an exact-match oracle SQL
string. Even the approximate indexes (SimHash, hyperplane-LSH ANN,
seed-quantizer IVF, the Lloyd-trained IVF, the multimodal embed→ANN
composition) carry exact twins — their hash functions/planes/centroids
are deterministic, so the oracle replays them. The Lloyd trainer earns
its twin by quantizing partial sums to int64 (order-independent
accumulation), which lets the oracle unroll the training loop as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.aggregates import _sql_hll_distinct
from . import clean, dedup, multimodal, similarity, text_analysis
from .text_analysis import LANG_MARKERS, STOPWORDS
from .textprep import duckdb_shingle_cte, tokens

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).orderBy("canonical_id")


_SQL_DEDUP_EXACT = """
SELECT md5(lower(trim(text))) AS text_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY 1
ORDER BY canonical_id
"""


def q_dup_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health duplication spectrum: histogram of exact-duplicate
    cluster sizes (normalized-text md5, same key as dedup_exact) —
    for each cluster size, how many clusters and how many documents.
    The standard first look at a crawl: a heavy tail here means the
    dedup stage will pay for itself. Two cascaded hash-aggs; the
    second runs over one row per cluster, so the shuffle shrinks by
    the dup factor at each step — at 100 TB the md5 digest is the
    only wide shuffle key."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = (docs.groupBy(F.md5(F.lower(F.trim("text")))
                             .alias("text_hash"))
                .agg(F.count(F.lit(1)).alias("sz")))
    return (clusters.groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum("sz").alias("n_docs"))
            .orderBy("cluster_size"))


_SQL_DUP_SPECTRUM = """
WITH c AS (
  SELECT md5(lower(trim(text))) AS text_hash, COUNT(*) AS sz
  FROM documents GROUP BY 1
)
SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM c GROUP BY 1 ORDER BY 1
"""


def q_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token (hapax) scoring: per document, how many of its
    whitespace tokens occur at most TWICE in the whole corpus, and
    their share — the standard cheap detector for OCR noise, mangled
    encodings, and boilerplate-free gibberish (junk text is rich in
    corpus-unique tokens). Three shuffles, each on the natural key:
    token explode -> global frequency hash-agg (token key) -> join
    back on the SAME token key -> per-doc re-agg (doc key). The
    frequency side never collects; the rare set is the long tail of
    the vocabulary, so it stays a shuffle join, not a broadcast."""
    return rare_token_frame(load_table(spark, sf_dir, "documents"))


def rare_token_frame(docs: DataFrame, max_freq: int = 2) -> DataFrame:
    """Hapax-scoring plan over a (doc_id, text) frame — tests inject
    hand-built corpora here so they exercise the production plan.
    Global token frequency is a WINDOW count over the token
    partition, not a groupBy + join back: the join form plans the
    explode branch twice (one full corpus re-scan); this is one
    explode, one token exchange, one doc exchange."""
    toks = (docs
            .select("doc_id",
                    F.explode(F.split(F.lower(F.trim("text")), " "))
                    .alias("tok"))
            .filter(F.col("tok") != ""))
    freq = F.count(F.lit(1)).over(Window.partitionBy("tok"))
    per_doc = (toks.withColumn("freq", freq)
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.when(F.col("freq") <= max_freq, 1)
                          .otherwise(0)).alias("n_rare")))
    return (per_doc
            .select("doc_id", "n_tokens", "n_rare",
                    (F.col("n_rare").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("rare_share"))
            .orderBy("doc_id"))


_SQL_RARE_TOKEN_SCORE = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (SELECT unnest(string_split(lower(trim(text)), ' '))
                AS tok) t
  WHERE t.tok <> ''
), freq AS (
  SELECT tok, COUNT(*) AS freq FROM toks GROUP BY 1
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN freq <= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rare
  FROM toks JOIN freq USING (tok)
  GROUP BY 1
)
SELECT doc_id, n_tokens, n_rare,
       CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rare_share
FROM per_doc ORDER BY doc_id
"""


def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-duplicate pairs (same
    exact prefix-filtered J >= 0.8 generator as dedup_near_pairs)
    rolled up by the UNORDERED pair of source labels — the report
    that tells a corpus owner WHERE the duplication lives (mirror
    sites, cross-source syndication) before choosing a dedup policy.
    Two broadcast-sized joins attach sources to the pair endpoints;
    least/greatest normalizes the pair so (a,b) and (b,a) pool."""
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8, k=3)
    src = docs.select("doc_id", "source")
    lab = (pairs
           .join(src.select(F.col("doc_id").alias("d1"),
                            F.col("source").alias("s1")), "d1")
           .join(src.select(F.col("doc_id").alias("d2"),
                            F.col("source").alias("s2")), "d2"))
    return (lab.groupBy(
        F.least("s1", "s2").alias("source_a"),
        F.greatest("s1", "s2").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b"))


#: shared oracle for the exact and the LSH near-dup paths — the LSH
#: variant must find the identical pair set (recall 1.0 at J ≥ 0.8 with
#: b=16/r=8; verified in tests at sf0.001 and sf0.01).
_SQL_NEAR_PAIRS = f"""
WITH {duckdb_shingle_cte(3)},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
FROM pairs
JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = d1
JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = d2
WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
ORDER BY d1, d2
"""


#: near pairs rolled up by unordered source pair (dup_source_matrix)
_SQL_DUP_SOURCE_MATRIX = f"""
WITH np AS ({_SQL_NEAR_PAIRS}),
lab AS (
  SELECT least(a.source, b.source) AS source_a,
         greatest(a.source, b.source) AS source_b
  FROM np
  JOIN documents a ON a.doc_id = np.d1
  JOIN documents b ON b.doc_id = np.d2
)
SELECT source_a, source_b, COUNT(*) AS n_pairs
FROM lab GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, threshold=0.8, k=3)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.8, k=3)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-checked: the fingerprint is deterministic md5-prefix
    arithmetic, so the DuckDB twin recomputes every 64-bit SimHash from
    hex-digit arithmetic and brute-forces the pair set. The pigeonhole
    block join is EXACT w.r.t. Hamming distance (a pair within d bits
    agrees on >= 1 of d+1 blocks), so the brute-force oracle and the
    blocked Spark plan must produce the identical pair set."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=8)


#: DuckDB twin of the SimHash fingerprint + pair search. Bit ``j`` of a
#: shingle's base hash (first 8 md5 bytes, big-endian) lives in hex char
#: ``16 - j//4`` at in-char bit ``j%4``; the fingerprint bit is the sign
#: of the per-bit +/-1 sum over the document's shingles; pairs are brute
#: forced (the Spark side's block pigeonhole is exact, so the sets agree).
_SQL_DEDUP_SIMHASH_TEMPLATE = """
WITH {shingle_cte},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
h AS (SELECT doc_id, md5(sg) AS hx FROM ex),
bits AS (
  SELECT doc_id, gs.j,
         ((strpos('0123456789abcdef',
                  substr(hx, 16 - (gs.j // 4), 1)) - 1)
          >> (gs.j % 4)) & 1 AS bit
  FROM h, generate_series(0, 63) gs(j)
), sums AS (
  SELECT doc_id, j, SUM(2 * bit - 1) AS ssum FROM bits GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN ssum > 0 THEN 1::HUGEINT << j ELSE 0 END) AS ufp
  FROM sums GROUP BY 1
), fps AS (
  SELECT doc_id,
         (CASE WHEN ufp >= 9223372036854775808::HUGEINT
               THEN ufp - 18446744073709551616::HUGEINT
               ELSE ufp END)::BIGINT AS simhash
  FROM fp
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY d1, d2
"""

_SQL_DEDUP_SIMHASH = _SQL_DEDUP_SIMHASH_TEMPLATE.format(
    shingle_cte=duckdb_shingle_cte(3), max_hamming=8)


# ---------------------------------------------------------------------------
# Similarity family
# ---------------------------------------------------------------------------


def q_similar_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings")
    q = similarity.queries_by_mod(vecs, 50)
    return similarity.brute_force_topk(vecs, q, k=10)


_SQL_SIMILAR_VECTORS = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
           FROM embeddings WHERE vec_id % 50 = 0),
d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q_id, vec_id,
         list_dot_product(q_vec, v) /
           (sqrt(list_dot_product(q_vec, q_vec))
            * sqrt(list_dot_product(v, v))) AS cos
  FROM q, d WHERE vec_id <> q_id
), r AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM s
)
SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= 10
ORDER BY q_id, rank
"""


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs via the distributed block-matrix self-join
    (no corpus-sized driver transfer — the ``toPandas``-broadcast
    scorer is demoted to a validation helper; LSH buckets cannot be
    the primary here because every true pair on this corpus sits in
    the weak 0.45–0.6 cosine band where the signatures miss ~half)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_dup_pairs_blocked(vecs, threshold=0.45)


_SQL_EMBEDDING_DUP_PAIRS = """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS d1, b.vec_id AS d2,
       list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v))
          * sqrt(list_dot_product(b.v, b.v))) AS cos
FROM d a JOIN d b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.45
ORDER BY d1, d2
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-checked despite being an ANN index: the hyperplanes
    are deterministic SHA-derived +/-1 constants, so the DuckDB twin
    inlines every plane as a signed-sum expression (same left-fold
    summation order as the Arrow kernel -> identical sign bits),
    replays the 1-bit multiprobe, and reranks exactly."""
    vecs = load_table(spark, sf_dir, "embeddings")
    q = similarity.queries_by_mod(vecs, 50)
    return similarity.ann_topk(vecs, q, k=10)


def _ann_dot_expr(t: int, j: int, dim: int = 64) -> str:
    """Signed-sum SQL for dot(v, plane(t, j)) in the numpy kernel's
    left-fold order — +/-1 multiplies and left-assoc adds are IEEE-exact,
    so the DuckDB sign bit equals the Spark sign bit."""
    parts = [("+ " if s > 0 else "- ") + f"v[{i + 1}]"
             for i, s in enumerate(similarity._plane_signs(t, j, dim))]
    e = " ".join(parts)
    return e[2:] if e.startswith("+ ") else "-" + e[2:]


#: DuckDB CTE producing (vec_id, v DOUBLE[]) from the embeddings table —
#: the default vector source for the generated ANN twin.
_ANN_SOURCE_EMBEDDINGS = \
    "d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def _sql_ann_topk(nbits: int = 6, tables: int = 8, k: int = 10,
                  mod: int = 50,
                  source: str = _ANN_SOURCE_EMBEDDINGS) -> str:
    """Generated DuckDB twin of :func:`similarity.ann_topk` — the
    deterministic planes are inlined as literals; queries are the
    vec_id % mod == 0 subset of the data, so buckets are computed once.
    ``source`` is a WITH-clause fragment whose final CTE must be
    ``d(vec_id, v DOUBLE[])`` — the embeddings table by default, or the
    multimodal embed stage for the composition query."""
    def bucket(t: int) -> str:
        return " + ".join(
            f"(((({_ann_dot_expr(t, j)}) > 0)::BIGINT) << {j})"
            for j in range(nbits))

    bexprs = ",\n       ".join(f"{bucket(t)} AS b{t}" for t in range(tables))
    union = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM bk"
        for t in range(tables))
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(nbits)])
    return f"""
WITH {source},
bk AS (SELECT vec_id, {bexprs} FROM d),
db AS ({union}),
qp AS (
  SELECT vec_id AS q_id, tbl, unnest([{probe_list}]) AS bucket
  FROM db WHERE vec_id % {mod} = 0
), cand AS (
  SELECT DISTINCT qp.q_id, db.vec_id
  FROM qp JOIN db USING (tbl, bucket)
  WHERE db.vec_id <> qp.q_id
), scored AS (
  SELECT c.q_id, c.vec_id,
         list_dot_product(qv.v, dv.v) /
           (sqrt(list_dot_product(qv.v, qv.v))
            * sqrt(list_dot_product(dv.v, dv.v))) AS cos
  FROM cand c
  JOIN d qv ON qv.vec_id = c.q_id
  JOIN d dv ON dv.vec_id = c.vec_id
), r AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= {k}
ORDER BY q_id, rank
"""


_SQL_ANN_TOPK = _sql_ann_topk()


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-checked: with the deterministic seed quantizer (the
    K=16 lowest-id vectors as centroids) every stage is replayable in
    SQL — centroid selection, nearest-cell assignment (same
    sim-desc/c_id-asc tie-break as ``max_by(struct(sim, -c_id))``),
    nprobe=6 probe ranking, and exact rerank. The Lloyd-TRAINED
    variant (``ivf_kmeans_topk``) is oracle-checked too — its trainer
    accumulates int64-quantized partials, so the training loop unrolls
    in SQL. Recall floor additionally asserted in
    tests/test_pipeline.py."""
    vecs = load_table(spark, sf_dir, "embeddings")
    q = similarity.queries_by_mod(vecs, 50)
    return similarity.ivf_topk(vecs, q, k=10)


_COS_CENT = ("list_dot_product({a}.v, {b}.c_vec) /"
             " (sqrt(list_dot_product({a}.v, {a}.v))"
             " * sqrt(list_dot_product({b}.c_vec, {b}.c_vec)))")


def _sql_ivf_tail(cents: str, nprobe: int, k: int, mod: int) -> str:
    """The shared IVF search body (assignment, probes, candidates,
    exact rerank) as CTE text, parameterized by the centroid CTE
    name — used by both the seed-quantizer and the Lloyd-trained
    oracles."""
    return f"""asg AS (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, c.c_id AS cell,
           row_number() OVER (PARTITION BY d.vec_id
               ORDER BY {_COS_CENT.format(a='d', b='c')} DESC, c.c_id) AS rn
    FROM d CROSS JOIN {cents} c) WHERE rn = 1
), q AS (SELECT vec_id AS q_id, v FROM d WHERE vec_id % {mod} = 0),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.c_id AS cell,
           row_number() OVER (PARTITION BY q.q_id
               ORDER BY {_COS_CENT.format(a='q', b='c')} DESC, c.c_id) AS rk
    FROM q CROSS JOIN {cents} c) WHERE rk <= {nprobe}
), cand AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN asg a USING (cell)
  WHERE a.vec_id <> p.q_id
), scored AS (
  SELECT c.q_id, c.vec_id,
         list_dot_product(qv.v, dv.v) /
           (sqrt(list_dot_product(qv.v, qv.v))
            * sqrt(list_dot_product(dv.v, dv.v))) AS cos
  FROM cand c
  JOIN d qv ON qv.vec_id = c.q_id
  JOIN d dv ON dv.vec_id = c.vec_id
), r AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= {k}
ORDER BY q_id, rank
"""


def _sql_ivf_topk(n_centroids: int = 16, nprobe: int = 6, k: int = 10,
                  mod: int = 50) -> str:
    """DuckDB twin of :func:`similarity.ivf_topk` over the
    deterministic seed centroids."""
    return f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS c_id, v AS c_vec FROM d
  ORDER BY vec_id LIMIT {n_centroids}
), {_sql_ivf_tail('cents', nprobe, k, mod)}"""


_SQL_IVF_TOPK = _sql_ivf_topk()


def _sql_ivf_kmeans_topk(n_centroids: int = 16, iters: int = 2,
                         nprobe: int = 6, k: int = 10, mod: int = 50,
                         dim: int = 64) -> str:
    """DuckDB twin of :func:`similarity.kmeans_centroids` +
    :func:`similarity.ivf_topk` — the Lloyd iterations are UNROLLED as
    CTE pairs (assign ``a{{i}}``, per-dimension quantized sums
    ``s{{i}}``, means ``m{{i}}``, next centroids ``c{{i}}``).

    Replayable only because the trainer quantizes partial sums to
    int64 (order-independent addition; ``similarity._QUANT_SCALE``):
    ``SUM(CAST(floor(v*S + 0.5) AS BIGINT))`` here is the exact same
    integer regardless of either engine's aggregation order, and the
    final ``qs::DOUBLE / (n * S)`` is a single IEEE division in
    both."""
    return ("WITH " + ",\n".join(_sql_lloyd_parts(n_centroids, iters,
                                                  dim)) + ",\n"
            + _sql_ivf_tail(f"c{iters}", nprobe, k, mod))


def _sql_lloyd_parts(n_centroids: int | str, iters: int,
                     dim: int) -> list[str]:
    """The Lloyd-trainer CTE chain (seed ``c0``, then per-iteration
    assign ``a{i}`` / quantized sums ``s{i}`` / means ``m{i}`` / next
    centroids ``c{i}``) — shared by every trained-quantizer oracle;
    the final centroid CTE is ``c{iters}``.

    ``n_centroids`` may be an SQL scalar expression over ``cnt`` (the
    corpus row count) instead of a literal — the corpus-proportional
    sizing path (``cells_for_corpus``), where k is a function of
    COUNT(*) and only changes DATA (seed-centroid rows), never the
    CTE structure, so the same unrolled Lloyd chain serves any N."""
    scale = 1 << 20  # similarity._QUANT_SCALE
    parts = ["d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    if isinstance(n_centroids, str):
        parts.append("n AS (SELECT COUNT(*) AS cnt FROM d)")
        parts.append(f"""c0 AS (
  SELECT vec_id AS c_id, v AS c_vec FROM (
    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM d)
  WHERE rn <= (SELECT {n_centroids} FROM n))""")
    else:
        parts.append(
            f"c0 AS (SELECT vec_id AS c_id, v AS c_vec FROM d"
            f" ORDER BY vec_id LIMIT {n_centroids})")
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(f"""a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, c.c_id AS cell,
           row_number() OVER (PARTITION BY d.vec_id
               ORDER BY {_COS_CENT.format(a='d', b='c')} DESC, c.c_id) AS rn
    FROM d CROSS JOIN {prev} c) WHERE rn = 1)""")
        parts.append(f"""s{i} AS (
  SELECT a.cell AS c_id, t.i AS idx,
         SUM(CAST(floor(d.v[t.i] * {scale}.0 + 0.5) AS BIGINT)) AS qs,
         COUNT(*) AS n
  FROM a{i} a JOIN d USING (vec_id) CROSS JOIN range(1, {dim + 1}) t(i)
  GROUP BY 1, 2)""")
        parts.append(f"""m{i} AS (
  SELECT c_id, list(qs::DOUBLE / (n * {scale}.0) ORDER BY idx) AS c_vec
  FROM s{i} GROUP BY c_id)""")
        parts.append(f"""c{i} AS (
  SELECT p.c_id, coalesce(m.c_vec, p.c_vec) AS c_vec
  FROM {prev} p LEFT JOIN m{i} m USING (c_id))""")
    return parts


_SQL_IVF_KMEANS_TOPK = _sql_ivf_kmeans_topk()


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-checked: IVF top-k over a Lloyd-trained coarse
    quantizer — the iterative-algorithm shape (bounded driver loop
    re-broadcasting a K×dim table per round). The trainer's
    order-independent int64-quantized partial sums make every
    iteration bit-replayable in SQL, so the oracle unrolls the Lloyd
    loop as CTEs (see :func:`_sql_ivf_kmeans_topk`).
    Recall/convergence properties additionally asserted in
    tests/test_pipeline.py.

    iters=2 is a BENCH-TIME choice, not a quality recommendation: each
    Lloyd pass is a full scan of the embeddings table, and two passes
    already satisfy the distortion-non-increase test on this data. A
    production index build would run iters=10-25 (or until centroid
    movement < epsilon) on a sampled subset — ``iters`` is a caller
    parameter precisely so that choice stays with the caller."""
    vecs = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(vecs, k=16, iters=2)
    q = similarity.queries_by_mod(vecs, 50)
    return similarity.ivf_topk(vecs, q, k=10, centroids=cents)




def _cleaned_docs(spark: SparkSession, sf_dir: str,
                  cache_registry: list | None = None) -> DataFrame:
    """The shared quality-gate → exact-dedup → near-dup-removal chain
    (all columns retained) feeding both `corpus_clean` and the full
    `corpus_pipeline` census.

    r12: the two survivor frames are persisted — ``kept1`` feeds both
    the exact-dedup canon aggregate and the survivor semi-join, and
    ``kept2`` feeds both the near-dup shingle kernel and the final
    anti-join, so the un-cached plan re-ran the scan + quality
    expressions + semi-joins once per consumer (guide §5: reused AND
    expensive to recompute). Callers materialize their (small) result
    and unpersist via ``cache_registry`` — the rfm_segments
    discipline — so repeated invocations leak nothing."""
    # r13: spread (guide §2.5) — quality chain + md5/shingle kernels start in the scan stage
    docs = load_table(spark, sf_dir, "documents", spread=True)
    q = text_analysis.quality_score(docs).select("doc_id", "quality")
    kept1 = docs.join(q.filter(F.col("quality") >= 0.45).select("doc_id"),
                      "doc_id", "left_semi").persist()
    canon = dedup.exact_dedup(kept1) \
        .select(F.col("canonical_id").alias("doc_id"))
    kept2 = kept1.join(canon, "doc_id", "left_semi").persist()
    if cache_registry is not None:
        cache_registry += [kept1, kept2]
    losers = dedup.jaccard_pairs(kept2, 0.8) \
        .select(F.col("d2").alias("doc_id")).distinct()
    return kept2.join(losers, "doc_id", "left_anti")


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning — the composition a real
    data pipeline runs, as ONE oracle-checked query:

    1. quality gate (quality_score >= 0.45);
    2. exact dedup (lowest doc_id per normalized text survives);
    3. near-dup removal (drop the d2 side of every exact-Jaccard >= 0.8
       pair among survivors — lowest id in a pair wins).

    Each stage reuses the registered operators unchanged; the oracle
    composes their SQL twins, so the full pipeline, not just the
    stages, is hash-verified."""
    caches: list = []
    out = (_cleaned_docs(spark, sf_dir, caches)
           .select("doc_id", "lang", "source", "n_chars")
           .orderBy("doc_id")).persist()
    out.count()
    for c in caches:
        c.unpersist()
    return out


#: shared WITH-clause prefix — the quality → exact-dedup → near-dup
#: chain, ending with the `near` CTE; ONE source of truth for both
#: corpus twins (thresholds edited here change both oracles together,
#: mirroring the shared `_cleaned_docs` on the Spark side)
_SQL_CLEAN_CHAIN = f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS low,
         string_split(lower(trim(text)), ' ') AS t
  FROM documents
), m AS (
  SELECT doc_id,
         0.4 * (least(len(t), 64)::DOUBLE / 64.0)
           + 0.3 * (1.0 - coalesce(len(regexp_extract_all(low,
                 '{text_analysis.PUNCT_RE}'))::DOUBLE
                 / nullif(length(low), 0), 0.0))
           + 0.3 * least(len(list_filter(t, x -> x IN ({_STOP_SQL})))::DOUBLE
                         / len(t) * 5.0, 1.0) AS quality
  FROM base
), kept1 AS (
  SELECT d.* FROM documents d
  JOIN m ON d.doc_id = m.doc_id AND m.quality >= 0.45
), canon AS (
  SELECT MIN(doc_id) AS doc_id FROM kept1
  GROUP BY md5(lower(trim(text)))
), kept2 AS (
  SELECT k.* FROM kept1 k JOIN canon c ON k.doc_id = c.doc_id
), {duckdb_shingle_cte(3, rel="kept2")},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), near AS (
  SELECT DISTINCT d2 AS doc_id
  FROM pairs
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = d1
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = d2
  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
)"""

_SQL_CORPUS_CLEAN = _SQL_CLEAN_CHAIN + """
SELECT doc_id, lang, source, n_chars
FROM kept2
WHERE doc_id NOT IN (SELECT doc_id FROM near)
ORDER BY doc_id
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL training-data retention pipeline as one oracle-checked
    query — what a 100 TB pretraining run ships end-to-end:

    1-3. quality gate -> exact dedup -> near-dup removal
         (the `corpus_clean` chain, shared via `_cleaned_docs`);
    4.   per-domain quota (<= 100 docs per source, deterministic
         md5 rank — `selection.domain_cap`);
    5.   final mixture census: per-source retained docs + token budget.

    Every stage is the registered operator unchanged; the oracle
    composes their SQL twins, so the whole retention decision — not
    just the stages — is hash-verified."""
    from .selection import domain_cap
    from .textprep import tokens
    caches: list = []
    cleaned = _cleaned_docs(spark, sf_dir, caches)
    # full_rows keeps one lineage: the expensive cleaning chain
    # (shingle self-join) is referenced once, not re-joined against
    # its own capped-id projection
    final = domain_cap(cleaned, "source", "doc_id", cap=100,
                       full_rows=True)
    out = (final.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size(tokens("text"))).cast("long")
                .alias("n_tokens"))
           .orderBy("source")).persist()
    out.count()
    for c in caches:
        c.unpersist()
    return out


_SQL_CORPUS_PIPELINE = _SQL_CLEAN_CHAIN + """, clean AS (
  SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM near)
), capped AS (
  SELECT * FROM (
    SELECT clean.*, row_number() OVER (
      PARTITION BY source
      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM clean) WHERE rk <= 100
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT)
         AS n_tokens
FROM capped GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Text-analysis family
# ---------------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.token_stats(docs).orderBy("doc_id")


_SQL_TOKEN_STATS = f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS low,
         string_split(lower(trim(text)), ' ') AS t
  FROM documents
)
SELECT doc_id,
       length(low) AS n_chars,
       len(t) AS n_tokens,
       len(regexp_extract_all(low, '{text_analysis.TOKEN_RE}'))
           AS n_re_tokens,
       len(regexp_extract_all(low, '{text_analysis.PUNCT_RE}'))
           AS n_punct,
       coalesce(len(regexp_extract_all(low,
           '{text_analysis.PUNCT_RE}'))::DOUBLE
           / nullif(length(low), 0), 0.0) AS punct_ratio,
       length(low)::DOUBLE / len(t) AS mean_token_len
FROM base
ORDER BY doc_id
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.quality_score(docs).orderBy("doc_id")


_SQL_TEXT_QUALITY = f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS low,
         string_split(lower(trim(text)), ' ') AS t
  FROM documents
), m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         coalesce(len(regexp_extract_all(low,
             '{text_analysis.PUNCT_RE}'))::DOUBLE
             / nullif(length(low), 0), 0.0) AS punct_ratio,
         len(list_filter(t, x -> x IN ({_STOP_SQL})))::DOUBLE / len(t)
             AS stop_ratio
  FROM base
)
SELECT doc_id, n_tokens, punct_ratio, stop_ratio,
       0.4 * (least(n_tokens, 64)::DOUBLE / 64.0)
         + 0.3 * (1.0 - punct_ratio)
         + 0.3 * least(stop_ratio * 5.0, 1.0) AS quality
FROM m
ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: docs spread (guide §2.5 single-task scan fix)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text_analysis.lang_id(docs)


_MARKER_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in LANG_MARKERS.items() for w in ws)

_SQL_LANG_ID = f"""
WITH m(lang, w) AS (VALUES {_MARKER_VALUES}),
toks AS (
  SELECT doc_id, lang AS labeled_lang,
         string_split(lower(trim(text)), ' ') AS t
  FROM documents
), ex AS (SELECT doc_id, unnest(t) AS w FROM toks),
hits AS (
  SELECT ex.doc_id, m.lang, COUNT(*) AS c
  FROM ex JOIN m ON ex.w = m.w
  GROUP BY 1, 2
), best AS (
  SELECT doc_id, lang AS pred_lang, c AS marker_hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, lang) AS rn
  FROM hits
)
SELECT t.doc_id, t.labeled_lang,
       COALESCE(b.pred_lang, 'und') AS pred_lang,
       COALESCE(b.marker_hits, 0) AS marker_hits
FROM toks t LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  ON t.doc_id = b.doc_id
ORDER BY t.doc_id
"""




def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.top_ngrams(docs, k=2, top=100)


_SQL_TOP_NGRAMS = """
WITH toks AS (
  SELECT string_split(lower(trim(text)), ' ') AS t FROM documents
), g AS (
  SELECT unnest([array_to_string(t[i:i+1], ' ')
                 FOR i IN generate_series(1, len(t) - 1)]) AS gram
  FROM toks WHERE len(t) >= 2
)
SELECT gram, COUNT(*) AS n
FROM g GROUP BY gram
ORDER BY n DESC, gram
LIMIT 100
"""


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.lang_stats(docs)


_SQL_LANG_STATS = """
WITH m AS (
  SELECT lang, length(lower(trim(text))) AS nc,
         len(string_split(lower(trim(text)), ' ')) AS nt
  FROM documents
)
SELECT lang, COUNT(*) AS docs,
       SUM(nc)::BIGINT AS total_chars, SUM(nt)::BIGINT AS total_tokens,
       SUM(nc)::DOUBLE / COUNT(*) AS mean_chars,
       SUM(nt)::DOUBLE / COUNT(*) AS mean_tokens
FROM m GROUP BY lang ORDER BY lang
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.fingerprint(docs)


_SQL_DOC_FINGERPRINT = f"""
WITH {duckdb_shingle_cte(3)},
t2 AS (SELECT doc_id, lower(trim(text)) AS low FROM documents)
SELECT t2.doc_id,
       md5(low) AS exact_fp,
       (list_sort([md5(x) FOR x IN sh.s]))[1] AS shingle_fp
FROM t2 JOIN sh ON t2.doc_id = sh.doc_id
ORDER BY t2.doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.with_binary_payload(docs)
    return multimodal.extract_metadata(payloads).orderBy("doc_id")


_SQL_MULTIMODAL_META = """
WITH p AS (
  SELECT doc_id,
         from_hex('4d4d3031'
                  || '00' || lpad(to_hex(doc_id % 256), 2, '0')
                  || '00' || lpad(to_hex((doc_id * 7) % 256), 2, '0'))
           || encode(text) AS payload
  FROM documents
)
SELECT doc_id,
       octet_length(payload)::INTEGER AS n_bytes,
       md5(hex(payload)) AS payload_md5,
       substr(hex(payload), 1, 8) = '4D4D3031' AS magic_ok,
       (doc_id % 256)::INTEGER AS width,
       ((doc_id * 7) % 256)::INTEGER AS height
FROM p
ORDER BY doc_id
"""


def q_multimodal_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal composition a production pipeline runs, as ONE
    fully oracle-checked query: documents → binary payload →
    deterministic pseudo-encoder embedding → hyperplane-LSH ANN top-k.

    Every stage is deterministic and SQL-expressible: the payload is a
    column expression, the encoder is an md5-hex chain (DuckDB ``md5``
    takes VARCHAR — the chain runs over hex strings by design, see
    ``multimodal.embed_payload``), and the ANN twin inlines the ±1
    planes exactly as ``ann_topk``'s oracle does. The ANN leg's recall
    is additionally bounded in tests/test_pipeline.py.

    r12: the embedded frame is persisted for the duration of the call
    — the md5-chain Arrow kernel is the most expensive stage and both
    the data side and the query side of the ANN index consume it (the
    query filter cannot push through the opaque kernel, so the
    un-persisted plan ran the encoder over the full corpus once per
    leg). The r11 leak discipline applies: the O(|Q|·k) result is
    materialized, then the corpus-sized cache is dropped before
    returning (at cluster scale this persist is the guide-§8 'write
    the fingerprints out once' step)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.with_binary_payload(docs)
    emb = (multimodal.embed_payload(payloads)
           .withColumnRenamed("doc_id", "vec_id")).persist()
    q = similarity.queries_by_mod(emb, 50)
    out = similarity.ann_topk(emb, q, k=10).persist()
    out.count()
    emb.unpersist()
    return out


#: (vec_id, v DOUBLE[]) source CTE for the generated ANN twin: the
#: payload → md5-hex-chain embedding stage of multimodal.embed_payload,
#: with each element rounded through FLOAT exactly like the Arrow
#: kernel's array<float> output.
_ANN_SOURCE_MULTIMODAL_EMBED = """p AS (
  SELECT doc_id,
         from_hex('4d4d3031'
                  || '00' || lpad(to_hex(doc_id % 256), 2, '0')
                  || '00' || lpad(to_hex((doc_id * 7) % 256), 2, '0'))
           || encode(text) AS payload
  FROM documents
), hc AS (
  SELECT doc_id, md5(hex(payload)) AS h0 FROM p
), hc2 AS (SELECT doc_id, h0, md5(h0) AS h1 FROM hc),
hc3 AS (SELECT doc_id, h0, h1, md5(h1) AS h2 FROM hc2),
hh AS (SELECT doc_id, h0 || h1 || h2 || md5(h2) AS hx FROM hc3),
d AS (
  SELECT doc_id AS vec_id,
         [CAST(CAST(
            ((strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)
            / 127.5 - 1.0 AS FLOAT) AS DOUBLE) FOR i IN range(1, 65)] AS v
  FROM hh
)"""

_SQL_MULTIMODAL_EMBED_ANN = _sql_ann_topk(
    source=_ANN_SOURCE_MULTIMODAL_EMBED)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode→resize→embed chain on REAL planted image bytes
    (r9 ask #5): every document gets a genuine binary PPM (P6) built
    declaratively from its doc_id (``multimodal.with_ppm_payload``),
    ``multimodal.decode_payload(codec="ppm")`` — a live pure-Python
    header+plane parser in the Arrow-batch kernel — decodes it, and
    everything downstream of the decode stays JVM-side: the plane
    checksum (F.aggregate), the 2×2 nearest-neighbor resize
    (F.transform over stride-sampled indices, the byte-plane analog of
    ``multimodal.resize_payload``), and the md5-hex pseudo-embedding
    seed (the ``multimodal.embed_payload`` chain's first link). The
    oracle recomputes the decoded integer plane in closed form from
    doc_id — it never parses binary — so a decoder bug (offset, dim
    swap, truncation) hash-mismatches instead of round-tripping."""
    docs = load_table(spark, sf_dir, "documents")
    dec = multimodal.decode_payload(
        multimodal.with_ppm_payload(docs), codec="ppm")
    n = F.size("plane")
    step = F.floor(n / 12).cast("int")      # n = w*h*3 >= 12 by fixture
    resized = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda j: F.element_at(F.col("plane"), j * step + 1))
    resized_hex = F.upper(F.array_join(
        F.transform(resized,
                    lambda v: F.lpad(F.conv(v.cast("string"), 10, 16),
                                     2, "0")), ""))
    out = (dec
           .withColumn("n_vals", n.cast("long"))
           .withColumn("sum_plane",
                       F.aggregate("plane", F.lit(0).cast("long"),
                                   lambda acc, x: acc + x))
           .withColumn("resized_hex", resized_hex))
    return (out
            .withColumn("emb_hash",
                        F.md5(F.encode(F.col("resized_hex"), "UTF-8")))
            .withColumn("emb0",
                        F.conv(F.substring("emb_hash", 1, 2), 16, 10)
                        .cast("long"))
            .select("doc_id", "width", "height", "maxval", "n_vals",
                    "sum_plane", "resized_hex", "emb_hash", "emb0")
            .orderBy("doc_id"))


_SQL_MULTIMODAL_DECODE = """
WITH d AS (
  SELECT doc_id,
         doc_id % 4 + 2 AS w,
         doc_id % 3 + 2 AS h
  FROM documents
),
plane AS (      -- the decoded integer plane, recomputed in closed form
  SELECT d.doc_id, d.w, d.h, t.i,
         (d.doc_id % 256 + t.i * 7) % 256 AS v
  FROM d CROSS JOIN generate_series(0, 179) t(i)
  WHERE t.i < d.w * d.h * 3
),
agg AS (
  SELECT doc_id, w, h,
         CAST(w * h * 3 AS BIGINT) AS n_vals,
         CAST(SUM(v) AS BIGINT) AS sum_plane
  FROM plane GROUP BY doc_id, w, h
),
rs AS (         -- 2x2 RGB nearest-neighbor resize: stride sampling
  SELECT a.doc_id,
         upper(string_agg(
           lpad(to_hex((a.doc_id % 256
                        + (j.j * (a.n_vals // 12)) * 7) % 256),
                2, '0'),
           '' ORDER BY j.j)) AS resized_hex
  FROM agg a CROSS JOIN generate_series(0, 11) j(j)
  GROUP BY a.doc_id
)
SELECT a.doc_id,
       CAST(a.w AS INTEGER) AS width,
       CAST(a.h AS INTEGER) AS height,
       CAST(255 AS INTEGER) AS maxval,
       a.n_vals, a.sum_plane, r.resized_hex,
       md5(r.resized_hex) AS emb_hash,
       CAST(concat('0x', substr(md5(r.resized_hex), 1, 2)) AS BIGINT)
         AS emb0
FROM agg a JOIN rs r USING (doc_id)
ORDER BY a.doc_id
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: downsample the
    dominant language, keep the tail — membership is a pure function of
    (salt, doc_id), so the same rows come back on every run, partition
    layout, and engine (see operators/sampling.py). The md5-hex
    comparison replays verbatim in the oracle."""
    from ..operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs, "lang",
        {"en": 0.3, "zh": 0.9}, key_col="doc_id",
        salt="corpus-v1", default=0.6)
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def _sql_stratified_sample() -> str:
    from ..operators.sampling import _threshold_hex
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE md5('corpus-v1:' || CAST(doc_id AS VARCHAR)) <
      CASE WHEN lang = 'zh' THEN '{_threshold_hex(0.9)}'
           WHEN lang = 'en' THEN '{_threshold_hex(0.3)}'
           ELSE '{_threshold_hex(0.6)}' END
ORDER BY doc_id
"""


_SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per document. Uses the rational-idf
    scoring so the DOUBLE scores are bit-identical cross-engine
    (multiply/divide are correctly rounded everywhere; ln is not —
    see tfidf_top_terms).

    r13: docs spread (guide §2.5) — tokenize + explode otherwise run
    single-task on the one-row-group testdata (no-op at scale)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text_analysis.tfidf_top_terms(docs, k=5)


_SQL_TFIDF_TOP_TERMS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), dft AS (
  SELECT term, COUNT(*) AS dft FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT doc_id, term, tf, dft,
         CAST(tf * (n_docs + 1) AS DOUBLE) / (dft + 1) AS score
  FROM tf JOIN dft USING (term) CROSS JOIN n
), r AS (
  SELECT doc_id, term, tf, dft, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM s
)
SELECT doc_id, term, tf, dft, score, rank FROM r WHERE rank <= 5
ORDER BY doc_id, rank
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (dup/top n-gram occurrence
    fractions + distinct-token ratio). int/int → double divisions only,
    so every value replays bit-for-bit in the oracle.

    r13: docs spread (guide §2.5) — the per-doc Arrow kernel otherwise
    runs as ONE Python worker."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text_analysis.repetition_stats(docs, ns=(2, 3))


_SQL_REPETITION_STATS = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
), ex AS (
  SELECT doc_id, 2 AS n, t,
         unnest(range(GREATEST(len(t) - 1, 0))) AS i FROM tok
  UNION ALL
  SELECT doc_id, 3 AS n, t,
         unnest(range(GREATEST(len(t) - 2, 0))) AS i FROM tok
), gr AS (
  SELECT doc_id, n, array_to_string(t[i+1:i+n], ' ') AS gram FROM ex
), cnt AS (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM gr GROUP BY 1, 2, 3
), per_n AS (
  SELECT doc_id, n, SUM(c) AS total, MAX(c) AS top,
         COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS dup
  FROM cnt GROUP BY 1, 2
), wide AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN dup::DOUBLE / total END)
           AS dup_2gram_frac,
         MAX(CASE WHEN n = 2 THEN top::DOUBLE / total END)
           AS top_2gram_frac,
         MAX(CASE WHEN n = 3 THEN dup::DOUBLE / total END)
           AS dup_3gram_frac,
         MAX(CASE WHEN n = 3 THEN top::DOUBLE / total END)
           AS top_3gram_frac
  FROM per_n GROUP BY 1
)
SELECT doc_id, len(tk.t) AS n_tokens,
       len(list_distinct(tk.t))::DOUBLE / len(tk.t)
         AS distinct_token_ratio,
       dup_2gram_frac, top_2gram_frac, dup_3gram_frac, top_3gram_frac
FROM tok tk LEFT JOIN wide USING (doc_id)
ORDER BY doc_id
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-passage removal: 5-token chunks occurring in
    ≥2 distinct documents are deleted everywhere and each doc is
    re-assembled from its surviving chunks (see pipeline/clean.py).

    r13: spread examined and REJECTED (A/B 1.09 vs 1.16 s — the
    chunk exchange already spreads the heavy phase)."""
    docs = load_table(spark, sf_dir, "documents")
    return clean.chunk_dedup(docs, chunk_tokens=5, min_docs=2)


_SQL_CHUNK_DEDUP = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
), ex AS (
  SELECT doc_id, t,
         unnest(range(CAST(ceil(len(t) / 5.0) AS BIGINT))) AS i
  FROM tok
), ch AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[i*5+1:i*5+5], ' ') AS chunk
  FROM ex
), dup AS (
  SELECT chunk FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
), fl AS (
  SELECT c.doc_id, c.pos, c.chunk, d.chunk IS NOT NULL AS is_dup
  FROM ch c LEFT JOIN dup d USING (chunk)
)
SELECT doc_id, COUNT(*) AS n_chunks,
       COUNT(*) FILTER (WHERE is_dup) AS n_removed,
       COALESCE(array_to_string(
         list(chunk ORDER BY pos) FILTER (WHERE NOT is_dup), ' '),
         '') AS clean_text
FROM fl GROUP BY 1
ORDER BY doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction. The synthetic corpus contains no PII
    by construction, so (to keep the check non-vacuous) the query first
    PLANTS deterministic doc_id-derived PII — an email, a hyphenated
    phone and a dotted-quad IP per document — then proves the scrubber
    finds and redacts all of it. The oracle plants the identical
    strings, so detection counts and redacted text are exact-matched.

    r13: docs spread (guide §2.5) — the plant + regex scrub chain is
    per-row compute in the scan stage."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    planted = docs.select(
        "doc_id",
        F.concat(F.lower(F.trim(F.col("text"))),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com call +1-555-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                 F.lit(" from 10."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(".0.1")).alias("text"))
    return (clean.pii_scrub(planted)
            .select("doc_id", "n_email", "n_phone", "n_ip", "clean_text")
            .orderBy("doc_id"))


def _sql_pii_scrub() -> str:
    from .clean import EMAIL_RE, IP_RE, PHONE_RE
    return f"""
WITH planted AS (
  SELECT doc_id,
         lower(trim(text)) || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com call +1-555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
         AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_email,
       len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phone,
       len(regexp_extract_all(text, '{IP_RE}')) AS n_ip,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{EMAIL_RE}', '<EMAIL>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g'),
         '{IP_RE}', '<IP>', 'g') AS clean_text
FROM planted
ORDER BY doc_id
"""


_SQL_PII_SCRUB = _sql_pii_scrub()


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test contamination: docs with doc_id % 23 == 0 stand in
    for the held-out benchmark; every other document is scored by its
    distinct-5-gram overlap with that set. Planted near-dups in the
    corpus make the contaminated tail non-trivial."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    corpus = docs.filter(F.col("doc_id") % 23 != 0)
    return clean.benchmark_contamination(corpus, bench, n=5)


_SQL_BENCHMARK_CONTAMINATION = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
), ex AS (
  SELECT doc_id, t, unnest(range(GREATEST(len(t) - 4, 0))) AS i
  FROM tok
), g AS (
  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+5], ' ') AS gram
  FROM ex
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 23 = 0
)
SELECT g.doc_id, COUNT(*) AS n_grams,
       COUNT(b.gram) AS n_contaminated,
       COUNT(b.gram)::DOUBLE / COUNT(*) AS contamination_frac
FROM g LEFT JOIN bench b USING (gram)
WHERE g.doc_id % 23 <> 0
GROUP BY 1
ORDER BY doc_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → one canonical doc per
    cluster (the retention decision a dedup pipeline actually ships).
    The oracle recomputes the same components with a recursive CTE —
    an independent fixpoint formulation of the same closure."""
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8, k=3)
    return dedup.dedup_clusters(docs, pairs)


_SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {duckdb_shingle_cte(3)},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT d1, d2
  FROM cand
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = d1
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = d2
  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
),
edges AS (
  SELECT d1 AS a, d2 AS b FROM jac
  UNION
  SELECT d2 AS a, d1 AS b FROM jac
),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
),
comp AS (SELECT n, MIN(m) AS c FROM reach GROUP BY 1),
base AS (
  SELECT doc_id, COALESCE(comp.c, doc_id) AS cluster_id
  FROM documents LEFT JOIN comp ON documents.doc_id = comp.n
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM base GROUP BY 1
)
SELECT doc_id, cluster_id, cluster_size,
       doc_id = cluster_id AS keep
FROM base JOIN sizes USING (cluster_id)
ORDER BY doc_id
"""


def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-TRUE dedup composite — what a 100 TB training run
    ships: banded MinHash-LSH pair generation (bucket = shuffle key,
    cost ∝ Σ bucket², never |docs|²) → connected components
    (distill-distributed / close-locally split) → canonical keep.

    `dedup_clusters` is the oracle-first twin of this query: it feeds
    the closure from the EXACT prefix-filtered pair generator. Here the
    pairs come from the LSH index; both paths re-verify candidates with
    exact Jaccard, and on this corpus LSH recall is 1.0 (asserted in
    tests/test_pipeline.py), so the pair sets — and therefore the
    closures — coincide and the same recursive-CTE oracle applies. At
    scale they diverge only by the LSH miss probability
    ((1-J^r)^b ≈ 4% at J = 0.8, ≈ 10⁻¹³ at true-near-dup J ≈ 0.98)."""
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8, k=3)
    return dedup.dedup_clusters(docs, pairs)


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity match: a deterministic probe list (every 100th
    customer's name with 'Customer#' misspelled as 'Custmer#' — one
    deletion) resolved against all customer names within 2 edits. Each
    probe hits its source (distance 1) plus the customers one digit
    apart (distance 2), so the output exercises true multi-match
    resolution, not a disguised equi-join."""
    cust = load_table(spark, sf_dir, "customer")
    probes = (cust.filter(F.col("c_custkey") % 100 == 0)
              .select(F.col("c_custkey").alias("probe_id"),
                      F.regexp_replace("c_name", "Customer#", "Custmer#")
                      .alias("probe_name")))
    cand = cust.select("c_custkey", "c_name")
    return (clean.fuzzy_match(cand, probes, "c_name", "probe_name",
                              max_dist=2)
            .select("probe_id", "c_custkey", "c_name", "dist")
            .orderBy("probe_id", "c_custkey"))


_SQL_FUZZY_MATCH = """
WITH probes AS (
  SELECT c_custkey AS probe_id,
         replace(c_name, 'Customer#', 'Custmer#') AS probe_name
  FROM customer WHERE c_custkey % 100 = 0
)
SELECT probe_id, c_custkey, c_name,
       levenshtein(c_name, probe_name) AS dist
FROM customer CROSS JOIN probes
WHERE abs(length(c_name) - length(probe_name)) <= 2
  AND levenshtein(c_name, probe_name) <= 2
ORDER BY probe_id, c_custkey
"""


def q_pretraining_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end keep/drop decision a pretraining pipeline ships:
    Gopher repetition gates + contamination gate + length gate, with
    machine-readable failure reasons (comma-joined, '' = keep). All
    component frames join on doc_id (co-partitioned); thresholds are
    chosen so the repetition/diversity/contamination rules each have
    real failures in the corpus (asserted in tests/test_pipeline.py;
    the length gate is shape-only here — every synthetic doc is 20-90
    tokens)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 23 != 0)
    rep = text_analysis.repetition_stats(docs, ns=(2,))
    bench = (load_table(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % 23 == 0))
    cont = clean.benchmark_contamination(docs, bench, n=5) \
        .select("doc_id", "contamination_frac")
    j = rep.join(cont, "doc_id")
    failed = F.concat_ws(
        ",",
        F.when(F.col("dup_2gram_frac") > 0.2, "repetition"),
        F.when(F.col("distinct_token_ratio") < 0.45, "low_diversity"),
        F.when(F.col("contamination_frac") >= 0.5, "contaminated"),
        F.when((F.col("n_tokens") < 10) | (F.col("n_tokens") > 1000),
               "length"))
    return (j.select("doc_id", "n_tokens", "distinct_token_ratio",
                     "dup_2gram_frac", "contamination_frac",
                     failed.alias("failed_rules"),
                     (failed == "").alias("keep"))
            .orderBy("doc_id"))


_SQL_PRETRAINING_FILTER = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
), ex2 AS (
  SELECT doc_id, t, unnest(range(GREATEST(len(t) - 1, 0))) AS i
  FROM tok WHERE doc_id % 23 <> 0
), g2 AS (
  SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS gram FROM ex2
), c2 AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2
), rep AS (
  SELECT doc_id,
         COALESCE(SUM(c) FILTER (WHERE c > 1), 0)::DOUBLE / SUM(c)
           AS dup_2gram_frac
  FROM c2 GROUP BY 1
), ex5 AS (
  SELECT doc_id, t, unnest(range(GREATEST(len(t) - 4, 0))) AS i
  FROM tok
), g5 AS (
  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+5], ' ') AS gram
  FROM ex5
), bench AS (
  SELECT DISTINCT gram FROM g5 WHERE doc_id % 23 = 0
), cont AS (
  SELECT g5.doc_id,
         COUNT(b.gram)::DOUBLE / COUNT(*) AS contamination_frac
  FROM g5 LEFT JOIN bench b USING (gram)
  WHERE g5.doc_id % 23 <> 0
  GROUP BY 1
), base AS (
  SELECT tk.doc_id, len(tk.t) AS n_tokens,
         len(list_distinct(tk.t))::DOUBLE / len(tk.t)
           AS distinct_token_ratio,
         rep.dup_2gram_frac, cont.contamination_frac
  FROM tok tk
  JOIN rep ON tk.doc_id = rep.doc_id
  JOIN cont ON tk.doc_id = cont.doc_id
)
SELECT doc_id, n_tokens, distinct_token_ratio, dup_2gram_frac,
       contamination_frac,
       concat_ws(',',
         CASE WHEN dup_2gram_frac > 0.2 THEN 'repetition' END,
         CASE WHEN distinct_token_ratio < 0.45 THEN 'low_diversity' END,
         CASE WHEN contamination_frac >= 0.5 THEN 'contaminated' END,
         CASE WHEN n_tokens < 10 OR n_tokens > 1000 THEN 'length' END)
         AS failed_rules,
       (concat_ws(',',
         CASE WHEN dup_2gram_frac > 0.2 THEN 'repetition' END,
         CASE WHEN distinct_token_ratio < 0.45 THEN 'low_diversity' END,
         CASE WHEN contamination_frac >= 0.5 THEN 'contaminated' END,
         CASE WHEN n_tokens < 10 OR n_tokens > 1000 THEN 'length' END)
        = '') AS keep
FROM base
ORDER BY doc_id
"""


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN classification by retrieval: each query vector takes the
    majority label of its 10 exact nearest neighbors (votes desc,
    label asc tiebreak), reported against its own true label — the
    labeling-via-retrieval pattern over the same top-k plan the
    similarity family already proves. Adds one broadcast label join
    and one (q_id, label) vote aggregate on top."""
    vecs = load_table(spark, sf_dir, "embeddings")
    q = similarity.queries_by_mod(vecs, 50)
    topk = similarity.brute_force_topk(vecs, q, k=10)
    labels = vecs.select("vec_id", "label")
    votes = (topk.join(F.broadcast(labels), "vec_id")
             .groupBy("q_id", "label")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("q_id").orderBy(
        F.col("votes").desc(), F.col("label"))
    pred = (votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("q_id", F.col("label").alias("pred_label"), "votes"))
    truth = vecs.select(F.col("vec_id").alias("q_id"),
                        F.col("label").alias("true_label"))
    return (pred.join(truth, "q_id")
            .withColumn("correct",
                        F.col("pred_label") == F.col("true_label"))
            .orderBy("q_id"))


_SQL_KNN_CLASSIFY = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
           FROM embeddings WHERE vec_id % 50 = 0),
d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q_id, vec_id,
         list_dot_product(q_vec, v) /
           (sqrt(list_dot_product(q_vec, q_vec))
            * sqrt(list_dot_product(v, v))) AS cos
  FROM q, d WHERE vec_id <> q_id
), r AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM s
), nb AS (
  SELECT r.q_id, e.label FROM r
  JOIN embeddings e USING (vec_id) WHERE r.rank <= 10
), v AS (
  SELECT q_id, label, COUNT(*) AS votes FROM nb GROUP BY 1, 2
), p AS (
  SELECT q_id, label, votes,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY votes DESC, label) AS rn
  FROM v
)
SELECT p.q_id, p.label AS pred_label, p.votes,
       t.label AS true_label, p.label = t.label AS correct
FROM p JOIN embeddings t ON t.vec_id = p.q_id
WHERE p.rn = 1
ORDER BY q_id
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sampling: keep probability ramps
    linearly with document length (n_tokens/64, capped at 1) — longer
    docs are kept preferentially, short ones thinned, and membership is
    a pure function of (salt, doc_id) so it replays in the oracle. The
    per-row threshold is fixed-width lowercase hex from the exact same
    integer floor both engines compute."""
    from ..operators.sampling import weighted_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
    w = F.least(n_tokens.cast("double") / F.lit(64.0), F.lit(1.0))
    return (weighted_hash_sample(docs, "doc_id", w, salt="len-v1")
            .select("doc_id", "lang", n_tokens.alias("n_tokens"))
            .orderBy("doc_id"))


_SQL_WEIGHTED_SAMPLE = """
WITH d AS (
  SELECT doc_id, lang,
         len(string_split(lower(trim(text)), ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens
FROM d
WHERE substr(md5('len-v1:' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN LEAST(n_tokens / 64.0, 1.0) >= 1.0 THEN 'g'
           ELSE printf('%08x', CAST(floor(LEAST(n_tokens / 64.0, 1.0)
                                          * 4294967296.0) AS BIGINT))
      END
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Round-4 additions: packing, sketches, retrieval, mixture, cleanup
# ---------------------------------------------------------------------------


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (GPT-style stream chunking):
    documents are assigned to 2048-token bins by an exclusive prefix
    sum within (lang, doc_id % 8) streams — see pipeline/packing.py for
    the 100 TB layout argument. Per-bin stats returned."""
    from . import packing

    docs = load_table(spark, sf_dir, "documents")
    return packing.pack_stats(docs, budget=2048, n_shards=8)


_SQL_SEQUENCE_PACK = """
WITH d AS (
  SELECT doc_id, lang, CAST(doc_id % 8 AS INT) AS shard,
         len(string_split(lower(trim(text)), ' ')) AS n_tokens
  FROM documents
), b AS (
  SELECT lang, shard, n_tokens,
         CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 2048) AS BIGINT) AS bin
  FROM d
)
SELECT lang, shard, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / 2048.0 AS fill
FROM b GROUP BY lang, shard, bin
ORDER BY lang, shard, bin
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate via a deterministic
    K-minimum-values sketch (k=64) with exact counts alongside — see
    pipeline/sketches.py for the bounded partial-aggregate kernel. The
    oracle replays the sketch from the full data (k-min is
    merge-exact, so partials and the direct computation agree)."""
    from .sketches import kmv_distinct

    events = load_table(spark, sf_dir, "events")
    return kmv_distinct(events, "user_id", "event_type", k=64,
                        salt="kmv")


_SQL_KMV_DISTINCT = """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                  1, 12)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM h
), s AS (
  SELECT event_type, COUNT(*) AS n_h,
         MAX(CASE WHEN rk = 64 THEN h END) AS kth
  FROM r WHERE rk <= 64 GROUP BY event_type
), t AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_true
  FROM events WHERE user_id IS NOT NULL GROUP BY event_type
)
SELECT s.event_type, t.n_true,
       CASE WHEN s.n_h < 64 THEN CAST(s.n_h AS DOUBLE)
            ELSE 17732923532771328.0 / s.kth END AS est_distinct,
       (CASE WHEN s.n_h < 64 THEN CAST(s.n_h AS DOUBLE)
             ELSE 17732923532771328.0 / s.kth END
        - CAST(t.n_true AS DOUBLE)) / CAST(t.n_true AS DOUBLE)
       AS rel_err
FROM s JOIN t ON s.event_type = t.event_type
ORDER BY s.event_type
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 retrieval for a fixed bag-of-terms query over the
    corpus, rational-idf variant with int64-quantized per-term scores
    so the cross-term sum is order-independent — see
    text_analysis.bm25_topk."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bm25_topk(
        docs, ["join", "merge", "spark", "window"], k=25)


_SQL_BM25_TOPK = """
WITH d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t,
         len(string_split(lower(trim(text)), ' ')) AS dl
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS s_tokens FROM d
), q AS (
  SELECT unnest(['join', 'merge', 'spark', 'window']) AS term
), hits AS (
  SELECT doc_id, dl, term,
         len(list_filter(t, x -> x = term)) AS tf
  FROM d, q WHERE list_contains(t, term)
), dft AS (
  SELECT term, COUNT(*) AS dft FROM hits GROUP BY term
), scored AS (
  SELECT h.doc_id,
         CAST(floor(
           CAST(22 * s.s_tokens * h.tf * (s.n_docs + 1) AS DOUBLE)
           / CAST((10 * s.s_tokens * h.tf + 3 * s.s_tokens
                   + 9 * h.dl * s.n_docs) * (f.dft + 1) AS DOUBLE)
           * 1000000.0) AS BIGINT) AS score_q
  FROM hits h JOIN dft f USING (term) CROSS JOIN stats s
)
SELECT doc_id, COUNT(*) AS n_terms_hit,
       CAST(SUM(score_q) AS BIGINT) AS score_q
FROM scored GROUP BY doc_id
ORDER BY score_q DESC, doc_id
LIMIT 25
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture construction: pin expected per-source
    sample counts (15 docs for src0-src4, 5 for the rest) regardless of
    raw source sizes; rates are computed in-plan and membership is a
    pure hash function of doc_id — operators/sampling.py
    mixture_hash_sample."""
    from ..operators.sampling import mixture_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    targets = {f"src{i}": 15 for i in range(5)}
    return (mixture_hash_sample(docs, "source", "doc_id", targets,
                                default=5, salt="mix-v1")
            .select("doc_id", "source", "lang")
            .orderBy("doc_id"))


_SQL_MIXTURE_SAMPLE = """
WITH c AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), d AS (
  SELECT doc_id, source, lang,
         LEAST(CAST(CASE WHEN source IN
                         ('src0', 'src1', 'src2', 'src3', 'src4')
                    THEN 15 ELSE 5 END AS DOUBLE) / n, 1.0) AS rate
  FROM documents JOIN c USING (source)
)
SELECT doc_id, source, lang FROM d
WHERE substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN rate >= 1.0 THEN 'g'
           ELSE printf('%08x',
                       CAST(floor(rate * 4294967296.0) AS BIGINT))
      END
ORDER BY doc_id
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/control-char normalization pass with per-doc
    before/after lengths and the md5 of the normalized text —
    pipeline/clean.py normalize_text."""
    docs = load_table(spark, sf_dir, "documents")
    return clean.normalize_text(docs)


_SQL_TEXT_NORMALIZE = """
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1f]', ' ',
                                            'g'),
                             '  +', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, len(text) AS n_chars_raw, len(norm) AS n_chars_norm,
       len(text) <> len(norm) AS changed, md5(norm) AS norm_md5
FROM n ORDER BY doc_id
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized PageRank (3 unrolled supersteps) over the
    bidirectional customer↔supplier graph — pipeline/graph.py. Integer
    fixed-point ranks make every superstep bit-stable under
    re-partitioning, which is what lets the oracle unroll the loop as
    CTEs."""
    from . import graph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return graph.pagerank_topk(graph.bipartite_edges(orders, lineitem),
                               iters=3, k=25)


def _pagerank_sql(iters: int = 3, k: int = 25) -> str:
    """Unrolled-CTE oracle for the quantized PageRank recurrence."""
    base = "(1073741824 // n.n)"
    parts = [f"""
WITH e0 AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), bi AS (
  SELECT src, dst FROM e0
  UNION ALL
  SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src, COUNT(*) AS outdeg FROM bi GROUP BY src
), n AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (
  SELECT d.src AS node, {base} AS rank_q FROM deg d CROSS JOIN n
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", m{i} AS (
  SELECT b.dst AS node, r.rank_q // d.outdeg AS contrib
  FROM r{i - 1} r JOIN bi b ON r.node = b.src
  JOIN deg d ON b.src = d.src
), r{i} AS (
  SELECT d.src AS node,
         ({base} * 15) // 100
         + (85 * COALESCE(s.in_sum, 0)) // 100 AS rank_q
  FROM deg d CROSS JOIN n
  LEFT JOIN (SELECT node, CAST(SUM(contrib) AS BIGINT) AS in_sum
             FROM m{i} GROUP BY node) s
    ON d.src = s.node
)""")
    parts.append(f"""
SELECT r.node, deg.outdeg, CAST(r.rank_q AS BIGINT) AS rank_q
FROM r{iters} r JOIN deg ON r.node = deg.src
ORDER BY rank_q DESC, node LIMIT {k}
""")
    return "".join(parts)


_SQL_PAGERANK = _pagerank_sql()


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection: top-25 documents whose hashed
    unigram distribution is most target-like, scored with the
    quantized mean rational rate ratio per token —
    pipeline/selection.py. The target subset is CONTENT-defined
    (documents mentioning 'vector'), the realistic DSIR setup where
    the target is a curated in-domain corpus; the synthetic corpus's
    lang column is content-independent, so a metadata target would
    have nothing to learn.

    r13: docs spread (guide §2.5 single-task scan fix)."""
    from .selection import dsir_topk
    from .textprep import tokens

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dsir_topk(docs, F.array_contains(tokens("text"), "vector"),
                     k=25)


_SQL_DSIR_SELECT = """
WITH toks AS (
  SELECT doc_id,
         list_contains(string_split(lower(trim(text)), ' '), 'vector')
           AS is_target,
         unnest(string_split(lower(trim(text)), ' ')) AS term
  FROM documents
), b AS (
  SELECT doc_id, is_target,
         CAST(concat('0x', substr(md5(term), 1, 12)) AS BIGINT) % 1024
           AS bkt
  FROM toks
), cr AS (
  SELECT bkt, COUNT(*) AS cr FROM b GROUP BY bkt
), ct AS (
  SELECT bkt, COUNT(*) AS ct FROM b WHERE is_target GROUP BY bkt
), tot AS (
  SELECT COUNT(*) AS c_raw,
         COUNT(CASE WHEN is_target THEN 1 END) AS c_tgt
  FROM b
), w AS (
  SELECT cr.bkt,
         (1048576 * COALESCE(ct.ct, 0) * tot.c_raw)
           // (cr.cr * tot.c_tgt) AS w
  FROM cr LEFT JOIN ct ON cr.bkt = ct.bkt CROSS JOIN tot
), s AS (
  SELECT b.doc_id,
         CAST(SUM(w.w) AS BIGINT) // COUNT(*) AS score_q,
         COUNT(*) AS n_tokens
  FROM b JOIN w ON b.bkt = w.bkt GROUP BY b.doc_id
)
SELECT doc_id, n_tokens, score_q FROM s
ORDER BY score_q DESC, doc_id LIMIT 25
"""


def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold split of the corpus (hash-mod fold ids)
    with per-fold document and token counts —
    operators/sampling.py kfold_assign."""
    from ..operators.sampling import kfold_assign
    from .textprep import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (kfold_assign(docs, "doc_id", k=5, salt="fold-v1")
            .select("fold", F.size(tokens("text")).alias("nt"))
            .groupBy("fold")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nt").alias("n_tokens"))
            .orderBy("fold"))


_SQL_KFOLD_SPLIT = """
WITH d AS (
  SELECT CAST(CAST(concat('0x',
             substr(md5('fold-v1:' || CAST(doc_id AS VARCHAR)), 1, 12))
           AS BIGINT) % 5 AS INT) AS fold,
         len(string_split(lower(trim(text)), ' ')) AS nt
  FROM documents
)
SELECT fold, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM d GROUP BY fold ORDER BY fold
"""


def q_epoch_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order assignment: every document placed
    into (epoch, shard, position) for a 2-epoch, 8-shard run —
    operators/sampling.py epoch_shard_assign. The epoch-salted md5
    makes each epoch an independent permutation that is still
    reproducible from the key alone, and the md5-hex arithmetic
    replays verbatim in the SQL twin."""
    from ..operators.sampling import epoch_shard_assign

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shard_assign(docs, "doc_id", epochs=2, shards=8,
                              salt="shard-v1")


_SQL_EPOCH_SHARD = """
WITH a AS (
  SELECT doc_id, e.epoch,
         CAST(concat('0x', substr(md5('shard-v1:e'
                || CAST(e.epoch AS VARCHAR) || ':'
                || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
  FROM documents CROSS JOIN (VALUES (0), (1)) AS e(epoch)
)
SELECT doc_id, epoch, CAST(hv % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY epoch, hv % 8
                               ORDER BY hv, doc_id) AS INT) AS pos
FROM a ORDER BY epoch, shard, pos
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup) per-cell summary — fully
    oracle-checked because the seed quantizer, the nearest-cell
    assignment tie-break, and the within-cell cosine are all
    deterministic and replayed verbatim by the SQL twin.

    r12: the within-cell pair scan runs as the fused per-cell Arrow
    kernel (one cell-key shuffle, counts-only output) — decision
    boundary bit-identical to the JVM filter, see
    similarity._cell_pair_stats."""
    vecs = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_stats(vecs, threshold=0.4,
                                           pairs_vectorized=True)


def _sql_semdedup_tail(cents: str, threshold: float = 0.4) -> str:
    """SemDeDup body (nearest-cell assignment, within-cell pair scan,
    per-cell summary) as CTE text, parameterized by the centroid CTE
    name — shared by the seed-quantizer and Lloyd-trained oracles."""
    return f"""asg AS (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, c.c_id AS cell,
           row_number() OVER (PARTITION BY d.vec_id
               ORDER BY {_COS_CENT.format(a='d', b='c')} DESC, c.c_id) AS rn
    FROM d CROSS JOIN {cents} c) WHERE rn = 1
), m AS (
  SELECT a.cell, d.vec_id, d.v FROM asg a JOIN d USING (vec_id)
), pairs AS (
  SELECT a.cell, a.vec_id AS d1, b.vec_id AS d2
  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) >= {threshold}
), ps AS (
  SELECT cell, COUNT(*) AS n_dup_pairs,
         COUNT(DISTINCT d2) AS n_dropped
  FROM pairs GROUP BY cell
), mem AS (SELECT cell, COUNT(*) AS n_members FROM asg GROUP BY cell)
SELECT mem.cell AS cell, n_members,
       coalesce(n_dup_pairs, 0) AS n_dup_pairs,
       coalesce(n_dropped, 0) AS n_dropped
FROM mem LEFT JOIN ps ON mem.cell = ps.cell
ORDER BY mem.cell
"""


_SQL_SEMDEDUP = f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS c_id, v AS c_vec FROM d ORDER BY vec_id LIMIT 16
), {_sql_semdedup_tail('cents')}"""


def q_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over a Lloyd-TRAINED coarse quantizer — the production
    retention decision end-to-end: train centroids on the corpus
    (2 Lloyd passes, int64-quantized order-independent partials),
    assign every vector to its nearest trained cell, near-dup scan
    within cells only (Σ|cell|², cell = shuffle key). Fully
    oracle-checked: the trainer's bit-replayable iterations unroll as
    the same Lloyd CTE chain the ``ivf_kmeans_topk`` oracle uses, and
    the SemDeDup tail is shared with the seed-quantizer ``semdedup``
    oracle."""
    vecs = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(vecs, k=16, iters=2)
    return similarity.semantic_dedup_stats(vecs, threshold=0.4,
                                           centroids=cents,
                                           pairs_vectorized=True)


_SQL_SEMDEDUP_TRAINED = ("WITH " + ",\n".join(_sql_lloyd_parts(16, 2, 64))
                         + ",\n" + _sql_semdedup_tail("c2"))


# ---------------------------------------------------------------------------
# Corpus-proportional sizing, driver-certified (r10 VERDICT ask #4).
#
# The fixed-knob registrations above (ann_topk nbits=6, semdedup_trained
# k=16, embedding_dup_pairs exact all-pairs) certify the EXACT/audit
# baselines; the r10 scaling audit measured them quadratic at 10x data by
# design (tools/scaling_r10.json). The three ``*_scaled`` queries below
# certify the PRODUCTION path end-to-end: the Spark side computes the
# knob live from the corpus count (bits_for_corpus / cells_for_corpus,
# pipeline/similarity.py), and the oracle recomputes the IDENTICAL value
# from COUNT(*) in SQL — integer arithmetic on both sides, so one oracle
# string is exact at every scale factor. The knob changes only DATA
# (which planes are active / how many seed centroids), never the SQL
# structure: planes are inlined for every bit up to the cap and gated by
# the computed nbits; the Lloyd chain takes k as a row_number bound.
# Tighter targets than the production defaults (target_bucket=4,
# target_cell=16) make the sizing genuinely move at test scales
# (sf0.01: nbits 7 / k 32; sf0.1: nbits 9 / k 125) instead of
# degenerating to the fixed knobs.
# ---------------------------------------------------------------------------

_SCALED_LSH_TARGET = 4    # bits_for_corpus target_bucket
_SCALED_LSH_CAP = 16      # covers corpora to 4 * 2^16 = 262k vectors
_SCALED_LSH_FLOOR = 6
_SCALED_CELL_TARGET = 16  # cells_for_corpus target_cell


def _plane_sql_literal(t: int, j: int, dim: int = 64) -> str:
    """The (t, j) hyperplane as a DuckDB DOUBLE[] literal — ±1.0
    components, so ``list_dot_product(v, p)`` is the exact left-fold
    signed sum the numpy bucket kernel computes (multiplying by ±1.0
    is IEEE-exact; the accumulation order is identical)."""
    return ("[" + ", ".join(
        "1.0" if s > 0 else "-1.0"
        for s in similarity._plane_signs(t, j, dim)) + "]::DOUBLE[]")


def _sql_dyn_lsh_parts(tables: int = 8,
                       source: str = _ANN_SOURCE_EMBEDDINGS) -> str:
    """Shared CTE chain for the corpus-proportional LSH oracles:
    ``d`` (vectors), ``n`` (count), ``nb`` (the bits_for_corpus value,
    recomputed in integer SQL: min b in [1, cap] with cnt <= target·2^b,
    capped/floored exactly like the Python), ``pl`` (every plane up to
    the cap as literals), ``pb`` (planes gated to j < nbits), and
    ``bk`` (one (vec_id, tbl, bucket) row per table)."""
    target, cap, floor = (_SCALED_LSH_TARGET, _SCALED_LSH_CAP,
                          _SCALED_LSH_FLOOR)
    rows = ",\n       ".join(
        f"({t}, {j}, {_plane_sql_literal(t, j)})"
        for t in range(tables) for j in range(cap))
    return f"""{source},
n AS (SELECT COUNT(*) AS cnt FROM d),
nb AS (
  SELECT CASE WHEN (SELECT cnt FROM n) <= {target} THEN {floor}
         ELSE greatest({floor}, coalesce(
           (SELECT MIN(b) FROM range(1, {cap + 1}) t(b)
            WHERE (SELECT cnt FROM n) <= {target} * (1::BIGINT << b)),
           {cap})) END AS nbits),
pl(tbl, j, p) AS (
  VALUES {rows}),
pb AS (SELECT tbl, j, p FROM pl WHERE j < (SELECT nbits FROM nb)),
bk AS (
  SELECT d.vec_id, pb.tbl,
         CAST(SUM(CASE WHEN list_dot_product(d.v, pb.p) > 0
                       THEN (1::BIGINT << pb.j) ELSE 0 END) AS BIGINT)
           AS bucket
  FROM d CROSS JOIN pb GROUP BY 1, 2)"""


def _sql_ann_topk_scaled(k: int = 10, mod: int = 50) -> str:
    """DuckDB twin of ann_topk at ``nbits=bits_for_corpus(N)`` — the
    1-bit multiprobe replays over the dynamically-gated plane set."""
    return f"""
WITH {_sql_dyn_lsh_parts()},
qp AS (
  SELECT vec_id AS q_id, tbl, bucket FROM bk WHERE vec_id % {mod} = 0
  UNION ALL
  SELECT bk.vec_id AS q_id, bk.tbl,
         xor(bk.bucket, 1::BIGINT << r.j) AS bucket
  FROM bk CROSS JOIN (SELECT DISTINCT j FROM pb) r
  WHERE bk.vec_id % {mod} = 0
), cand AS (
  SELECT DISTINCT qp.q_id, bk.vec_id
  FROM qp JOIN bk USING (tbl, bucket)
  WHERE bk.vec_id <> qp.q_id
), scored AS (
  SELECT c.q_id, c.vec_id,
         list_dot_product(qv.v, dv.v) /
           (sqrt(list_dot_product(qv.v, qv.v))
            * sqrt(list_dot_product(dv.v, dv.v))) AS cos
  FROM cand c
  JOIN d qv ON qv.vec_id = c.q_id
  JOIN d dv ON dv.vec_id = c.vec_id
), r AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= {k}
ORDER BY q_id, rank
"""


def q_ann_topk_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_topk at the PRODUCTION hash width: nbits =
    bits_for_corpus(COUNT), computed live — the knob the r10 scaling
    audit showed turns the fixed-nbits ~N² rerank into ~N·target
    (slope 7.8 → 5.6 at 10x, tools/scaling_r10.json). The oracle
    recomputes the same integer sizing from COUNT(*), so this row
    certifies the bucketed scale path itself, not a frozen knob."""
    vecs = load_table(spark, sf_dir, "embeddings")
    nb = similarity.bits_for_corpus(
        vecs.count(), target_bucket=_SCALED_LSH_TARGET,
        floor=_SCALED_LSH_FLOOR, cap=_SCALED_LSH_CAP)
    q = similarity.queries_by_mod(vecs, 50)
    return similarity.ann_topk(vecs, q, k=10, nbits=nb)


_SQL_ANN_TOPK_SCALED = _sql_ann_topk_scaled()


def q_embedding_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs on the LSH-bucketed SCALE path
    (cosine_dup_pairs_lsh) at nbits = bits_for_corpus(COUNT) — the
    production twin of the exact all-pairs ``embedding_dup_pairs``
    validation scorer (slope 67.8 vs 12.8 at 10x,
    tools/scaling_r10.json). Candidates are (tbl, bucket) collisions;
    the exact-cosine verify keeps only true pairs, so the output is a
    deterministic SUBSET of the exact scorer's — the oracle replays
    the same buckets, making the approximation itself the certified
    artifact."""
    vecs = load_table(spark, sf_dir, "embeddings")
    nb = similarity.bits_for_corpus(
        vecs.count(), target_bucket=_SCALED_LSH_TARGET,
        floor=_SCALED_LSH_FLOOR, cap=_SCALED_LSH_CAP)
    return similarity.cosine_dup_pairs_lsh(vecs, threshold=0.45, nbits=nb)


_SQL_EMBEDDING_DUP_PAIRS_LSH = f"""
WITH {_sql_dyn_lsh_parts()},
cand AS (
  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
  FROM bk a JOIN bk b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.d1, c.d2,
       list_dot_product(x.v, y.v) /
         (sqrt(list_dot_product(x.v, x.v))
          * sqrt(list_dot_product(y.v, y.v))) AS cos
FROM cand c
JOIN d x ON x.vec_id = c.d1
JOIN d y ON y.vec_id = c.d2
WHERE list_dot_product(x.v, y.v) /
        (sqrt(list_dot_product(x.v, x.v))
         * sqrt(list_dot_product(y.v, y.v))) >= 0.45
ORDER BY c.d1, c.d2
"""


def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the PRODUCTION cell count: k =
    cells_for_corpus(COUNT) trained centroids (2 Lloyd passes), so
    |cell| stays ~target and the within-cell pair scan is ~N·target
    instead of N²/16 (slope 54.7 → 5.4 at 10x, tools/scaling_r10.json
    — the Abbas et al. 2023 k ∝ N sizing). The oracle computes the
    identical k from COUNT(*) and unrolls the same Lloyd chain — k
    only changes the seed-centroid rows, never the SQL structure."""
    vecs = load_table(spark, sf_dir, "embeddings")
    k = similarity.cells_for_corpus(vecs.count(),
                                    target_cell=_SCALED_CELL_TARGET)
    cents = similarity.kmeans_centroids(vecs, k=k, iters=2)
    # k ∝ N makes the JVM K-way-expression assignment the dominant
    # term; the Arrow kernel (same two-pass exact argmax the trainer
    # uses) scores a whole batch per instruction stream. Crossover at
    # k=512 (N·k ≈ 4M cosines): below it the kernel's Python-worker
    # startup exceeds the JVM expression cost (measured 10.4 s vs
    # 5.8 s at sf0.1's k=125), above it the kernel wins ~5x (42.7 s →
    # 8.4 s at the 10x corpus's k=1251). Fixed-k callers (semdedup /
    # semdedup_trained / ivf_topk) keep the JVM path — and their
    # driver-certified physical plans.
    return similarity.semantic_dedup_stats(
        vecs, threshold=0.4, centroids=cents,
        assign_vectorized=k >= 512)


_SQL_SEMDEDUP_SCALED = (
    "WITH " + ",\n".join(_sql_lloyd_parts(
        f"greatest(16, (cnt + {_SCALED_CELL_TARGET - 1})"
        f" // {_SCALED_CELL_TARGET})", 2, 64))
    + ",\n" + _sql_semdedup_tail("c2"))


def q_semdedup_scaled_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`semdedup_scaled` with the Arrow vectorized IVF-assign kernel
    FORCED on (VERDICT r11 ask #2): at driver scale (sf0.01) the
    corpus-proportional k sits below the k=512 crossover, so
    `semdedup_scaled`'s green r11 row certified only the JVM
    expression assignment — while production k ∝ N sizing runs the
    kernel. The kernel's cell choices are bit-identical to the JVM
    fold by construction (shared two-pass exact argmax,
    similarity._fold_argmax_cells; bit-identity asserted in
    tests/test_r11_scaled.py), so this twin reuses
    `_SQL_SEMDEDUP_SCALED` verbatim — same k, same Lloyd chain, same
    tail. tests/test_r12_vec_twin.py asserts the executed plan
    actually contains the mapInPandas assign stage (the plan witness
    the JVM twin must NOT have)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    k = similarity.cells_for_corpus(vecs.count(),
                                    target_cell=_SCALED_CELL_TARGET)
    cents = similarity.kmeans_centroids(vecs, k=k, iters=2)
    return similarity.semantic_dedup_stats(
        vecs, threshold=0.4, centroids=cents,
        assign_vectorized=True, pairs_vectorized=True)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens via the Misra-Gries candidate pass +
    exact recount (pipeline/freq.py). The output is EXACT (the sketch
    only proposes candidates), so the oracle is a plain
    GROUP BY + integer-threshold filter."""
    from . import freq
    docs = load_table(spark, sf_dir, "documents")
    return freq.heavy_hitters(docs, phi=50, k=64)


_SQL_HEAVY_HITTERS = """
WITH tok AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), c AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1),
n AS (SELECT COUNT(*) AS n_total FROM tok)
SELECT w AS word, cnt, cnt::DOUBLE / n_total AS share
FROM c CROSS JOIN n
WHERE cnt * 50 >= n_total
ORDER BY cnt DESC, word
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window RAG chunking
    (text_analysis.doc_chunks) — scan-speed narrow map."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.doc_chunks(docs, size=32, stride=24)


_SQL_DOC_CHUNKS = """
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
  FROM documents
), s AS (
  SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start FROM t
)
SELECT doc_id,
       CAST(start // 24 AS INT) AS chunk_idx,
       CAST(start AS INT) AS start_tok,
       CAST(len(w[start + 1 : least(start + 32, len(w))]) AS INT)
         AS n_tok,
       md5(array_to_string(w[start + 1 : least(start + 32, len(w))],
                           ' ')) AS chunk_hash
FROM s ORDER BY doc_id, chunk_idx
"""


def q_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-25 documents by mean corpus bigram frequency
    (text_analysis.bigram_novelty) — the LM-free perplexity-filter
    analog; integer sums keep it hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bigram_novelty(docs, k=25)


_SQL_BIGRAM_NOVELTY = """
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
  FROM documents
), bg AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)
), c AS (SELECT bg, COUNT(*) AS freq FROM bg GROUP BY 1),
pd AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(freq) AS BIGINT) AS sum_freq
  FROM bg JOIN c USING (bg) GROUP BY 1
)
SELECT doc_id, n_bigrams,
       sum_freq::DOUBLE / n_bigrams AS avg_bigram_freq
FROM pd ORDER BY avg_bigram_freq, doc_id LIMIT 25
"""


def q_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tiered token-budget allocation
    (pipeline/selection.py mix_allocation): per-tier sampling rates
    realizing a half-corpus budget with 1:2:3:4 tier weights."""
    from .selection import mix_allocation
    docs = load_table(spark, sf_dir, "documents")
    return mix_allocation(docs)


_SQL_MIX_ALLOCATION = f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS low,
         string_split(lower(trim(text)), ' ') AS t
  FROM documents
), m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         coalesce(len(regexp_extract_all(low, '{{punct}}'))::DOUBLE
             / nullif(length(low), 0), 0.0) AS punct_ratio,
         len(list_filter(t, x -> x IN ({{stops}})))::DOUBLE / len(t)
             AS stop_ratio
  FROM base
), q AS (
  SELECT n_tokens,
         0.4 * (least(n_tokens, 64)::DOUBLE / 64.0)
           + 0.3 * (1.0 - punct_ratio)
           + 0.3 * least(stop_ratio * 5.0, 1.0) AS quality
  FROM m
), tiers AS (
  SELECT CASE WHEN quality < 0.25 THEN 0
              WHEN quality < 0.5 THEN 1
              WHEN quality < 0.75 THEN 2 ELSE 3 END AS tier,
         n_tokens
  FROM q
), pt AS (
  SELECT tier, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tier_tokens
  FROM tiers GROUP BY tier
), tot AS (
  SELECT CAST(SUM(tier_tokens) AS BIGINT) AS corpus_tokens FROM pt
), calc AS (
  SELECT tier, n_docs, tier_tokens,
         corpus_tokens * 1 * [1, 2, 3, 4][tier + 1] AS target_num,
         CAST(20 AS BIGINT) AS target_den
  FROM pt CROSS JOIN tot
)
SELECT tier, n_docs, tier_tokens,
       least(target_num // target_den, tier_tokens) AS target_tokens,
       CASE WHEN target_num >= tier_tokens * target_den THEN 1.0
            ELSE target_num::DOUBLE
                 / (tier_tokens * target_den)::DOUBLE END AS sample_rate,
       target_num >= tier_tokens * target_den AS budget_capped
FROM calc ORDER BY tier
""".format(punct=text_analysis.PUNCT_RE, stops=_STOP_SQL)


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates (pipeline/sketches.py
    cms_estimate) for the ~N/200-frequency tokens, with exact counts
    alongside for error accounting — est >= exact always; the
    deterministic md5 rows make the whole counter array SQL-replayable."""
    from .sketches import cms_estimate
    from .textprep import tokens
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select(F.explode(tokens("text")).alias("w"))
    exact = ex.groupBy("w").agg(F.count(F.lit(1)).alias("cnt_exact"))
    # total from the per-word counts — not a third corpus explode
    # (same fix heavy_hitters got: the sum over the grouped frame is
    # exactly the token total)
    tot = exact.agg(F.sum("cnt_exact").alias("n_total"))
    probes = (exact.crossJoin(F.broadcast(tot))
              .filter(F.col("cnt_exact") * 200 >= F.col("n_total"))
              .select("w", "cnt_exact"))
    est = cms_estimate(ex, probes.select("w"), "w")
    return (probes.join(est, "w")
            .select(F.col("w").alias("word"), "cnt_exact", "cnt_cms",
                    (F.col("cnt_cms") - F.col("cnt_exact"))
                    .alias("overcount"))
            .orderBy("word"))


def _sql_cms_counts() -> str:
    from .sketches import CMS_DEPTH, CMS_WIDTH
    ds = ", ".join(str(d) for d in range(CMS_DEPTH))
    b = ("CAST('0x' || substr(md5('cms' || CAST({d} AS VARCHAR) "
         "|| ':' || {w}), 1, 12) AS BIGINT) % " + str(CMS_WIDTH))
    return f"""
WITH tok AS (
  -- mirror cms_estimate's null-key filter (no-op here: string_split
  -- never yields NULL elements, only '')
  SELECT w FROM (
    SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
    FROM documents) WHERE w IS NOT NULL
), c AS (SELECT w, COUNT(*) AS cnt_exact FROM tok GROUP BY 1),
n AS (SELECT COUNT(*) AS n_total FROM tok),
probes AS (
  SELECT w, cnt_exact FROM c CROSS JOIN n
  WHERE cnt_exact * 200 >= n_total
), cells AS (
  SELECT u.d AS d, {b.format(d='u.d', w='tok.w')} AS b
  FROM tok, unnest([{ds}]) AS u(d)
), counters AS (
  SELECT d, b, COUNT(*) AS cnt FROM cells GROUP BY 1, 2
), pc AS (
  SELECT p.w, u.d AS d, {b.format(d='u.d', w='p.w')} AS b
  FROM probes p, unnest([{ds}]) AS u(d)
), est AS (
  SELECT pc.w, MIN(coalesce(ct.cnt, 0)) AS cnt_cms
  FROM pc LEFT JOIN counters ct USING (d, b) GROUP BY pc.w
)
SELECT p.w AS word, p.cnt_exact, e.cnt_cms,
       e.cnt_cms - p.cnt_exact AS overcount
FROM probes p JOIN est e USING (w) ORDER BY word
"""


_SQL_CMS_COUNTS = _sql_cms_counts()


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (pipeline/similarity.py
    hard_negative_topk): per query vector, the top-5 most-similar
    DIFFERENT-label vectors via the deterministic LSH index — the
    contrastive-training data-prep step. Oracle replays planes,
    multiprobe, label filter, and rerank."""
    vecs = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negative_topk(vecs, k=5, mod=20)


def _sql_hard_negatives(nbits: int = 6, tables: int = 8, k: int = 5,
                        mod: int = 20) -> str:
    """Generated DuckDB twin of :func:`similarity.hard_negative_topk`
    — :func:`_sql_ann_topk` plus the different-label candidate
    constraint (which also removes self-matches)."""
    def bucket(t: int) -> str:
        return " + ".join(
            f"(((({_ann_dot_expr(t, j)}) > 0)::BIGINT) << {j})"
            for j in range(nbits))

    bexprs = ",\n       ".join(f"{bucket(t)} AS b{t}" for t in range(tables))
    union = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM bk"
        for t in range(tables))
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(nbits)])
    return f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
           FROM embeddings),
bk AS (SELECT vec_id, {bexprs} FROM d),
db AS ({union}),
qp AS (
  SELECT vec_id AS q_id, tbl, unnest([{probe_list}]) AS bucket
  FROM db WHERE vec_id % {mod} = 0
), cand AS (
  SELECT DISTINCT qp.q_id, db.vec_id
  FROM qp JOIN db USING (tbl, bucket)
  JOIN d ql ON ql.vec_id = qp.q_id
  JOIN d dl ON dl.vec_id = db.vec_id
  WHERE dl.label <> ql.label
), scored AS (
  SELECT c.q_id, c.vec_id,
         list_dot_product(qv.v, dv.v) /
           (sqrt(list_dot_product(qv.v, qv.v))
            * sqrt(list_dot_product(dv.v, dv.v))) AS cos
  FROM cand c
  JOIN d qv ON qv.vec_id = c.q_id
  JOIN d dv ON dv.vec_id = c.vec_id
), r AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= {k}
ORDER BY q_id, rank
"""


_SQL_HARD_NEGATIVES = _sql_hard_negatives()


def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-accuracy audit (pipeline/dedup.py
    minhash_jaccard_estimates): estimated vs exact Jaccard for every
    exact near-pair at J >= 0.5. The 128-component signature is
    multiply-shift mod 2^64 off sha256 seeds; the twin replays it with
    HUGEINT split-multiplication, so the match counts are exact."""
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_jaccard_estimates(docs, threshold=0.5)


def _sql_minhash_est(num_hashes: int = 128,
                     threshold: float = 0.5) -> str:
    from .dedup import minhash_seed
    rows = []
    for i in range(num_hashes):
        m = minhash_seed("a", i) | 1
        a = minhash_seed("b", i)
        rows.append(f"({i}, {m & 0xFFFFFFFF}, {m >> 32}, {a})")
    vals = ",\n  ".join(rows)
    m64 = 1 << 64
    m32 = 1 << 32
    return f"""
WITH {duckdb_shingle_cte(3)},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
pairs0 AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d1, d2, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
  FROM pairs0
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = d1
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = d2
  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {threshold}
), mh(i, lo_m, hi_m, addc) AS (VALUES
  {vals}
), hv AS (
  SELECT sg,
         CAST(CAST('0x' || substr(md5(sg), 1, 16) AS UBIGINT)
              AS HUGEINT) AS h
  FROM (SELECT DISTINCT sg FROM ex)
), sv AS (
  SELECT e.doc_id, m.i,
         MIN(((h * m.lo_m) % {m64}
              + ((h * m.hi_m) % {m32}) * {m32}
              + m.addc) % {m64}) AS comp
  FROM ex e JOIN hv USING (sg) CROSS JOIN mh m
  GROUP BY 1, 2
), mm AS (
  SELECT x.doc_id AS d1, y.doc_id AS d2,
         CAST(SUM(CASE WHEN x.comp = y.comp THEN 1 ELSE 0 END)
              AS BIGINT) AS matches
  FROM (SELECT DISTINCT d1, d2 FROM pairs) p
  JOIN sv x ON x.doc_id = p.d1
  JOIN sv y ON y.doc_id = p.d2 AND y.i = x.i
  GROUP BY 1, 2
)
SELECT p.d1, p.d2, p.jac, mm.matches,
       CAST(mm.matches AS DOUBLE) / CAST({num_hashes} AS DOUBLE)
         AS est_jac
FROM pairs p JOIN mm USING (d1, d2)
ORDER BY d1, d2
"""


_SQL_MINHASH_EST = _sql_minhash_est()


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-part graph (pipeline/graph.py
    triangle_count): degree-ordered compact-forward orientation keeps
    wedge volume O(E^1.5)-bounded; exact, engine-replayable counts."""
    from .graph import copart_supplier_edges, triangle_count
    lineitem = load_table(spark, sf_dir, "lineitem")
    # copart_supplier_edges ends in .distinct(): declare it so the
    # operator's defensive dedup doesn't add a redundant shuffle
    return triangle_count(copart_supplier_edges(lineitem),
                          assume_distinct=True)


# The SMALL relations (ps..o, each referenced up to 3x) are
# MATERIALIZED so DuckDB's CTE inlining doesn't re-evaluate the
# self-join quadratically; the O(E^1.5)-row wedge CTE w deliberately
# is NOT — materializing 166M wedges at sf0.1 cost 8x more than
# streaming it through its two consumers.
_SQL_TRIANGLE_COUNT = """
WITH ps AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey
                         FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM ps a JOIN ps b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
), und AS MATERIALIZED (SELECT u, v FROM e
                        UNION ALL SELECT v AS u, u AS v FROM e),
deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM und GROUP BY 1),
o AS MATERIALIZED (
  SELECT und.u AS a, und.v AS b
  FROM und JOIN deg d1 ON d1.u = und.u JOIN deg d2 ON d2.u = und.v
  WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND und.u < und.v)
), w AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM o e1 JOIN o e2 ON e1.b = e2.a
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM o) AS n_edges,
       (SELECT COUNT(*) FROM w) AS n_wedges,
       (SELECT COUNT(*) FROM w JOIN o ON o.a = w.x AND o.b = w.z)
         AS n_triangles
"""


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling of the supplier co-part graph
    (pipeline/graph.py kcore_peel): 3 rounds of degree-< 3 removal —
    per-round removed/remaining census, oracle-unrolled as CTEs."""
    from .graph import copart_supplier_edges, kcore_peel
    lineitem = load_table(spark, sf_dir, "lineitem")
    return kcore_peel(copart_supplier_edges(lineitem), k=3, rounds=3)


# MATERIALIZED hints are load-bearing: each g{i} is referenced three
# times (k{i+1}, g{i+1}, the census), so DuckDB's default CTE inlining
# re-evaluates the ps self-join 3^depth times — at sf0.1 (the co-part
# graph is complete on 1000 suppliers) that spilled >80 GB of temp.
# Materialized, the whole chain is ~2 s.
_SQL_KCORE_PEEL = """
WITH ps AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey
                         FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM ps a JOIN ps b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
), g0 AS MATERIALIZED (SELECT u, v FROM e
                       UNION ALL SELECT v AS u, u AS v FROM e),
k1 AS MATERIALIZED (SELECT u FROM g0 GROUP BY u HAVING COUNT(*) >= 3),
g1 AS MATERIALIZED (SELECT g0.u, g0.v FROM g0
       JOIN k1 a ON a.u = g0.u JOIN k1 b ON b.u = g0.v),
k2 AS MATERIALIZED (SELECT u FROM g1 GROUP BY u HAVING COUNT(*) >= 3),
g2 AS MATERIALIZED (SELECT g1.u, g1.v FROM g1
       JOIN k2 a ON a.u = g1.u JOIN k2 b ON b.u = g1.v),
k3 AS MATERIALIZED (SELECT u FROM g2 GROUP BY u HAVING COUNT(*) >= 3),
g3 AS MATERIALIZED (SELECT g2.u, g2.v FROM g2
       JOIN k3 a ON a.u = g2.u JOIN k3 b ON b.u = g2.v),
n AS (
  SELECT 0 AS round, (SELECT COUNT(DISTINCT u) FROM g0) AS rem
  UNION ALL SELECT 1, (SELECT COUNT(DISTINCT u) FROM g1)
  UNION ALL SELECT 2, (SELECT COUNT(DISTINCT u) FROM g2)
  UNION ALL SELECT 3, (SELECT COUNT(DISTINCT u) FROM g3)
)
SELECT CAST(a.round AS INT) AS round,
       b.rem - a.rem AS n_removed,
       a.rem AS n_remaining
FROM n a JOIN n b ON b.round = a.round - 1
ORDER BY round
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 round-0 BPE merge candidates (pipeline/text_analysis.py
    bpe_merge_candidates) — the corpus's most frequent in-token
    character pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bpe_merge_candidates(docs, top=25)


_SQL_BPE_MERGES = """
WITH tok AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
  FROM documents
), t2 AS (SELECT w FROM tok WHERE length(w) >= 2),
p AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair
  FROM t2, unnest(range(1, length(w))) AS u(i)
)
SELECT pair, COUNT(*) AS cnt
FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 25
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round greedy BPE merge training (text_analysis.bpe_trained) —
    the real iterative trainer over the distinct-word table: each
    round's argmax pair is counted AFTER the previous merges were
    applied leftmost-greedily, which is exactly what distinguishes it
    from the round-0 ``bpe_merges`` statistic."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bpe_train_merges(docs, rounds=3)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 corpus tokens AFTER applying the 3 trained BPE merges —
    the tokenizer's apply half (merged units outrank their constituent
    characters), weighted by word frequency."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bpe_vocab_census(docs, rounds=3, top=15)


def _sql_bpe_cte(rounds: int) -> str:
    """CTE chain replaying the BPE trainer: per round, pair census of
    the current packed representation, deterministic argmax, and the
    identical leftmost-greedy ``list_reduce`` fold (string accumulator
    + substr arithmetic — regex-free on both engines, because Spark's
    regexp_replace replaces all matches and DuckDB's only the first).
    The argmax is DERIVED inside the SQL each round, so the oracle
    shares no literals with the Spark plan."""
    parts = ["""words AS (
  SELECT w, COUNT(*)::BIGINT AS wc
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents)
  WHERE length(w) >= 2 GROUP BY w
), rep0 AS (
  SELECT wc,
         array_to_string([substr(w, CAST(i AS INT), 1)
                          FOR i IN generate_series(1, length(w))],
                         chr(31)) AS rep
  FROM words
)"""]
    for r in range(1, rounds + 1):
        prev = f"rep{r - 1}"
        parts.append(f"""p{r} AS (
  SELECT pr.l AS lft, pr.r AS rgt, SUM(wc)::BIGINT AS cnt
  FROM (SELECT wc, unnest([struct_pack(l := t[CAST(i AS INT)],
                                       r := t[CAST(i AS INT) + 1])
                           FOR i IN generate_series(1, len(t) - 1)]) AS pr
        FROM (SELECT wc, string_split(rep, chr(31)) AS t FROM {prev}))
  GROUP BY 1, 2
), m{r} AS (
  SELECT lft, rgt, cnt FROM p{r} ORDER BY cnt DESC, lft, rgt LIMIT 1
), rep{r} AS (
  SELECT wc, list_reduce(string_split(rep, chr(31)), (a, b) ->
    CASE WHEN string_split(a, chr(31))[-1] = m{r}.lft AND b = m{r}.rgt
         THEN substr(a, 1, length(a) - length(m{r}.lft))
              || m{r}.lft || m{r}.rgt
         ELSE a || chr(31) || b END) AS rep
  FROM {prev} CROSS JOIN m{r}
)""")
    return ",\n".join(parts)


_SQL_BPE_TRAIN = f"""
WITH {_sql_bpe_cte(3)}
SELECT * FROM (
  SELECT 1 AS merge_rank, lft, rgt, cnt FROM m1
  UNION ALL SELECT 2, lft, rgt, cnt FROM m2
  UNION ALL SELECT 3, lft, rgt, cnt FROM m3
) ORDER BY merge_rank
"""

_SQL_BPE_VOCAB = f"""
WITH {_sql_bpe_cte(3)},
tok AS (SELECT wc, unnest(string_split(rep, chr(31))) AS token
        FROM rep3)
SELECT token, SUM(wc)::BIGINT AS cnt
FROM tok GROUP BY token
ORDER BY cnt DESC, token LIMIT 15
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission check (dedup.incremental_neardup):
    the 20%-of-ids delta batch probed against the other 80%'s LSH
    bucket index — O(delta) per-batch dedup instead of re-running the
    corpus-wide pair search. Oracle: the exact cross-split Jaccard
    pair set (LSH recall is 1.0 on this corpus, the same guarantee the
    minhash twin rests on)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_neardup(
        docs, F.col("doc_id") % 10 < 2, threshold=0.8, k=3)


_SQL_INCREMENTAL_NEARDUP = f"""
WITH {duckdb_shingle_cte(3)},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
pairs AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.sg = b.sg
  WHERE a.doc_id % 10 < 2 AND b.doc_id % 10 >= 2
  GROUP BY 1, 2
)
SELECT pairs.doc_id AS doc_id, pairs.dup_of AS dup_of,
       inter::DOUBLE / (sa.n + sb.n - inter) AS jac
FROM pairs
JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = pairs.doc_id
JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = pairs.dup_of
WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
ORDER BY pairs.doc_id, pairs.dup_of
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate via the deterministic
    HyperLogLog sketch (pipeline/sketches.py hll_distinct) — fixed
    256-register state, rho from binary-string length (no libm), an
    exactly-replayable harmonic mean. KMV's fixed-memory sibling."""
    from .sketches import hll_distinct
    events = load_table(spark, sf_dir, "events")
    return hll_distinct(events, "user_id", "event_type")


_SQL_HLL_DISTINCT = _sql_hll_distinct()


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (pipeline/selection.py domain_cap):
    keep <= 100 docs per source by deterministic md5 rank — the
    no-single-domain-dominates mixture step."""
    from .selection import domain_cap
    docs = load_table(spark, sf_dir, "documents")
    return domain_cap(docs, "source", "doc_id", cap=100)


_SQL_DOMAIN_CAP = """
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT source, doc_id, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 100
ORDER BY source, doc_id
"""


def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding audit (pipeline/similarity.py
    embedding_dim_stats): count, int64-quantized exact mean, raw
    min/max per dimension — the pre-normalization drift check."""
    vecs = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_dim_stats(vecs)


_SQL_EMBED_DIM_STATS = """
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
  FROM embeddings
), d AS (
  SELECT CAST(dim AS INT) AS dim, CAST(v AS DOUBLE) AS vd,
         CAST(floor(CAST(v AS DOUBLE) * CAST(1000000 AS DOUBLE))
              AS BIGINT) AS v_q
  FROM ex
)
SELECT dim, COUNT(*) AS n, CAST(SUM(v_q) AS BIGINT) AS sum_q,
       (CAST(SUM(v_q) AS BIGINT)::DOUBLE / COUNT(*))
         / CAST(1000000 AS DOUBLE) AS mean_q,
       MIN(vd) AS v_min, MAX(vd) AS v_max
FROM d GROUP BY dim ORDER BY dim
"""


def q_posting_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction sample: for the 20 highest-df terms,
    the top-3 postings each by (tf desc, doc_id) — the ETL that feeds
    a search index, emitted as flat rows (term, df, rank, doc_id, tf).
    Shuffle keys: (term, doc) for tf, term for df and the per-term
    top-k window; the 20-term frame is broadcast back against the
    posting table."""
    docs = load_table(spark, sf_dir, "documents")
    from .textprep import tokens
    ex = docs.select(F.col("doc_id"),
                     F.explode(tokens("text")).alias("term"))
    tf = (ex.groupBy("term", "doc_id")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_ = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
           .orderBy(F.col("df").desc(), "term").limit(20))
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    return (tf.join(F.broadcast(df_), "term")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("term", "df", "rank", "doc_id", "tf")
            .orderBy("term", "rank"))


_SQL_POSTING_TOPK = """
WITH ex AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
  FROM documents
), tf AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM ex GROUP BY 1, 2
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
  ORDER BY df DESC, term LIMIT 20
), ranked AS (
  SELECT tf.term, df.df, tf.doc_id, tf.tf,
         row_number() OVER (PARTITION BY tf.term
                            ORDER BY tf.tf DESC, tf.doc_id) AS rank
  FROM tf JOIN df ON tf.term = df.term
)
SELECT term, df, rank, doc_id, tf
FROM ranked WHERE rank <= 3 ORDER BY term, rank
"""


def q_lang_confusion_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID audit: confusion census of the marker-heuristic
    prediction against the stored label — per (labeled, predicted)
    cell the doc count and the cell's share of its labeled row (one
    IEEE-754 double quotient of two exact integers, bit-stable across
    engines). The acceptance report a lang-ID swap (heuristic →
    fasttext) would be judged against. One extra hash-agg + a
    per-label window over the tiny census table on top of the audited
    lang_id plan. Row-count twin of ``lang_confusion``, which reports
    raw counts only."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text_analysis.lang_id(docs)
    w = Window.partitionBy("labeled_lang")
    cells = (pred.groupBy("labeled_lang", "pred_lang")
             .agg(F.count(F.lit(1)).alias("n_docs")))
    return (cells
            .withColumn("row_share",
                        F.col("n_docs").cast("double")
                        / F.sum("n_docs").over(w))
            .orderBy("labeled_lang", "pred_lang"))


_SQL_LANG_CONFUSION_SHARES = f"""
WITH m(lang, w) AS (VALUES {_MARKER_VALUES}),
toks AS (
  SELECT doc_id, lang AS labeled_lang,
         string_split(lower(trim(text)), ' ') AS t
  FROM documents
), ex AS (SELECT doc_id, unnest(t) AS w FROM toks),
hits AS (
  SELECT ex.doc_id, m.lang, COUNT(*) AS c
  FROM ex JOIN m ON ex.w = m.w
  GROUP BY 1, 2
), best AS (
  SELECT doc_id, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, lang) AS rn
  FROM hits
), pred AS (
  SELECT t.doc_id, t.labeled_lang,
         COALESCE(b.pred_lang, 'und') AS pred_lang
  FROM toks t LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
    ON t.doc_id = b.doc_id
), cells AS (
  SELECT labeled_lang, pred_lang, COUNT(*) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT labeled_lang, pred_lang, n_docs,
       CAST(n_docs AS DOUBLE)
       / SUM(n_docs) OVER (PARTITION BY labeled_lang) AS row_share
FROM cells
ORDER BY labeled_lang, pred_lang
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (pipeline/text_analysis.py
    rrf_retrieval_fusion): BM25 retrieval for the fixed query fused
    with the corpus quality prior via rrf = Σ 1/(60+rank) — the
    calibration-free scorer combiner of a retrieval pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.rrf_retrieval_fusion(
        docs, ["join", "merge", "spark", "window"], k=25, pool=100)


_SQL_RRF_FUSION = f"""
WITH d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t,
         len(string_split(lower(trim(text)), ' ')) AS dl,
         lower(trim(text)) AS low
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS s_tokens FROM d
), q AS (
  SELECT unnest(['join', 'merge', 'spark', 'window']) AS term
), hits AS (
  SELECT doc_id, dl, term,
         len(list_filter(t, x -> x = term)) AS tf
  FROM d, q WHERE list_contains(t, term)
), dft AS (
  SELECT term, COUNT(*) AS dft FROM hits GROUP BY term
), scored AS (
  SELECT h.doc_id,
         CAST(floor(
           CAST(22 * s.s_tokens * h.tf * (s.n_docs + 1) AS DOUBLE)
           / CAST((10 * s.s_tokens * h.tf + 3 * s.s_tokens
                   + 9 * h.dl * s.n_docs) * (f.dft + 1) AS DOUBLE)
           * 1000000.0) AS BIGINT) AS score_q
  FROM hits h JOIN dft f USING (term) CROSS JOIN stats s
), perdoc AS (
  SELECT doc_id, CAST(SUM(score_q) AS BIGINT) AS score_q
  FROM scored GROUP BY doc_id
), ra AS (
  SELECT doc_id, r_bm25 FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score_q DESC, doc_id)
           AS r_bm25
    FROM perdoc
  ) WHERE r_bm25 <= 100
), qual AS (
  SELECT doc_id,
         0.4 * (least(len(t), 64)::DOUBLE / 64.0)
           + 0.3 * (1.0 - coalesce(len(regexp_extract_all(low,
                 '{text_analysis.PUNCT_RE}'))::DOUBLE
                 / nullif(length(low), 0), 0.0))
           + 0.3 * least(len(list_filter(t, x -> x IN ({_STOP_SQL})))
                         ::DOUBLE / len(t) * 5.0, 1.0) AS quality
  FROM d
), rb AS (
  SELECT doc_id, r_qual FROM (
    SELECT doc_id, row_number() OVER (ORDER BY quality DESC, doc_id)
           AS r_qual
    FROM qual
  ) WHERE r_qual <= 100
)
SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, r_bm25, r_qual,
       COALESCE(CAST(1 AS DOUBLE) / (60 + r_bm25), 0.0)
       + COALESCE(CAST(1 AS DOUBLE) / (60 + r_qual), 0.0) AS rrf
FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
ORDER BY rrf DESC, doc_id LIMIT 25
"""


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-direction audit (pipeline/similarity.py
    pca_power_topk): top-25 vectors by |projection| onto the first
    principal component, power-iterated on the exact integer centered
    scatter — the second iterative trainer (after Lloyd) with a fully
    replayable oracle."""
    vecs = load_table(spark, sf_dir, "embeddings")
    return similarity.pca_power_topk(vecs, k=25, dims=16, iters=8)


_SQL_PCA_POWER = similarity._sql_pca_power_topk(k=25, dims=16, iters=8)


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based audience overlap (pipeline/sketches.py
    kmv_set_ops): pairwise union/intersection cardinality estimates
    between event-type user sets from deterministic KMV sketches, with
    exact counts alongside — the distinct-join-free overlap audit."""
    from .sketches import kmv_set_ops

    # r13: spread (guide §2.5) — sketch hash partials are scan-stage
    events = load_table(spark, sf_dir, "events", spread=True)
    return kmv_set_ops(events, "user_id", "event_type", k=64,
                       salt="kmv")


_SQL_KMV_SET_OPS = """
WITH e AS (
  SELECT DISTINCT event_type AS g, user_id AS u
  FROM events WHERE user_id IS NOT NULL
), h AS (
  SELECT DISTINCT g,
         CAST(concat('0x', substr(md5('kmv:' || CAST(u AS VARCHAR)),
                                  1, 12)) AS BIGINT) AS h
  FROM e
), sk AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
    FROM h
  ) WHERE rk <= 64
), pairs AS (
  SELECT a.g AS ta, b.g AS tb
  FROM (SELECT DISTINCT g FROM sk) a
  JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g
), u AS (
  SELECT DISTINCT ta, tb, h FROM (
    SELECT p.ta, p.tb, s.h FROM pairs p JOIN sk s ON s.g = p.ta
    UNION ALL
    SELECT p.ta, p.tb, s.h FROM pairs p JOIN sk s ON s.g = p.tb
  )
), uk AS (
  SELECT ta, tb, h, rk FROM (
    SELECT ta, tb, h,
           row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
    FROM u
  ) WHERE rk <= 64
), stats AS (
  SELECT ta, tb, COUNT(*) AS n_h,
         MAX(CASE WHEN rk = 64 THEN h END) AS kth
  FROM uk GROUP BY 1, 2
), nboth AS (
  SELECT uk.ta, uk.tb, COUNT(*) AS n_both
  FROM uk
  JOIN sk sa ON sa.g = uk.ta AND sa.h = uk.h
  JOIN sk sb ON sb.g = uk.tb AND sb.h = uk.h
  GROUP BY 1, 2
), pt AS (
  SELECT g, COUNT(*) AS n_t FROM e GROUP BY 1
), inter AS (
  SELECT a.g AS ta, b.g AS tb, COUNT(*) AS n_true_inter
  FROM e a JOIN e b ON a.u = b.u AND a.g < b.g
  GROUP BY 1, 2
)
SELECT s.ta AS type_a, s.tb AS type_b,
       pa.n_t + pb.n_t - COALESCE(i.n_true_inter, 0) AS n_true_union,
       COALESCE(i.n_true_inter, 0) AS n_true_inter,
       CASE WHEN s.n_h < 64 THEN CAST(s.n_h AS DOUBLE)
            ELSE CAST(17732923532771328 AS DOUBLE) / s.kth END AS est_union,
       CASE WHEN s.n_h < 64 THEN CAST(COALESCE(b.n_both, 0) AS DOUBLE)
            ELSE (CAST(COALESCE(b.n_both, 0) AS DOUBLE) / 64.0)
                 * (CAST(17732923532771328 AS DOUBLE) / s.kth) END AS est_inter
FROM stats s
LEFT JOIN nboth b ON b.ta = s.ta AND b.tb = s.tb
JOIN pt pa ON pa.g = s.ta
JOIN pt pb ON pb.g = s.tb
LEFT JOIN inter i ON i.ta = s.ta AND i.tb = s.tb
ORDER BY type_a, type_b
"""


def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-confusion audit of the embedding space (pipeline/
    similarity.py label_centroid_similarity): exact pairwise cosine
    between per-label centroids via int64-quantized sum vectors."""
    vecs = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroid_similarity(vecs)


_SQL_LABEL_CENTROID_SIM = """
WITH ex AS (
  SELECT label AS lbl, unnest(range(len(embedding))) AS pos,
         embedding AS e
  FROM embeddings
), q AS (
  SELECT lbl, pos,
         CAST(round(CAST(e[pos + 1] AS DOUBLE) * 1048576.0) AS BIGINT)
           AS qv
  FROM ex
), s AS (
  SELECT lbl, pos, CAST(SUM(qv) AS BIGINT) AS sv FROM q GROUP BY 1, 2
), d AS (
  SELECT a.lbl AS la, b.lbl AS lb,
         SUM(CAST(a.sv AS DECIMAL(19,0))
             * CAST(b.sv AS DECIMAL(19,0))) AS dot
  FROM s a JOIN s b ON a.pos = b.pos AND a.lbl <= b.lbl
  GROUP BY 1, 2
)
SELECT d.la AS label_a, d.lb AS label_b,
       CAST(d.dot AS DOUBLE)
       / (sqrt(CAST(na.dot AS DOUBLE)) * sqrt(CAST(nb.dot AS DOUBLE)))
         AS cosine
FROM d
JOIN d na ON na.la = d.la AND na.lb = d.la
JOIN d nb ON nb.la = d.lb AND nb.lb = d.lb
WHERE d.la < d.lb
ORDER BY label_a, label_b
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining (pipeline/text_analysis.py
    pmi_collocations): top-25 word bigrams by lift (rank-equivalent to
    PMI, evaluated transcendental-free for cross-engine exactness) —
    the multiword-expression detector of a phrase-vocab/tokenizer-prep
    pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.pmi_collocations(docs, k=25, min_count=5)


_SQL_PMI_COLLOCATIONS = """
WITH t AS (SELECT string_split(lower(trim(text)), ' ') AS w
           FROM documents),
uni AS (SELECT unnest(w) AS tok FROM t),
uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
n1t AS (SELECT CAST(SUM(c) AS BIGINT) AS n1 FROM uc),
bg AS (SELECT w[i] AS w1, w[i + 1] AS w2
       FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t)),
bgc AS (SELECT w1, w2, COUNT(*) AS cxy FROM bg GROUP BY 1, 2),
n2t AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n2 FROM bgc)
SELECT w1, w2, cxy AS pair_count,
       (CAST(CAST(cxy AS DECIMAL(19,0))
             * CAST(n1 AS DECIMAL(19,0)) AS DOUBLE)
        / CAST(CAST(c1.c AS DECIMAL(19,0))
               * CAST(c2.c AS DECIMAL(19,0)) AS DOUBLE))
       * (CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS lift
FROM bgc
JOIN uc c1 ON bgc.w1 = c1.tok
JOIN uc c2 ON bgc.w2 = c2.tok
CROSS JOIN n1t CROSS JOIN n2t
WHERE cxy >= 5
ORDER BY lift DESC, w1, w2 LIMIT 25
"""


def q_array_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function battery over the embedding corpus —
    the whole per-vector pass runs JVM-side through ``transform`` /
    ``filter`` / ``aggregate`` / ``zip_with`` + ``reverse`` lambdas
    (zero Python, zero explode row-multiplication): per vector the
    1e6-quantized squared norm, positive-component count, L1 norm and
    a reversed-self dot, then an exact per-label rollup. The oracle
    replays the same integers via UNNEST + a subscript self-join
    (DuckDB has list lambdas too, but the unnest form keeps the twin
    dialect-minimal).

    Scale: narrow scan-speed projection (no shuffle until the
    ``label`` hash-agg); element quantization floor(double(v)·1e6) is
    one correctly-rounded IEEE op per element, summed as int64 —
    bounded by dims·1e12 per vector, decimal(38) across vectors."""
    vecs = load_table(spark, sf_dir, "embeddings")
    vq = F.transform(F.col("embedding"),
                     lambda x: F.floor(x.cast("double") * F.lit(1e6))
                     .cast("long"))
    zero = F.lit(0).cast("long")
    per_vec = vecs.select(
        "label",
        F.aggregate(vq, zero, lambda acc, x: acc + x * x)
        .alias("norm2_q"),
        F.size(F.filter(F.col("embedding"),
                        lambda x: x.cast("double") > 0))
        .alias("n_pos"),
        F.aggregate(vq, zero,
                    lambda acc, x: acc + F.abs(x)).alias("l1_q"),
        F.aggregate(F.zip_with(vq, F.reverse(vq),
                               lambda a, b: a * b),
                    zero, lambda acc, x: acc + x).alias("rdot_q"))
    g = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("norm2_q").cast("decimal(38,0)")).alias("_n2"),
        F.sum("n_pos").alias("pos_components"),
        F.sum(F.col("l1_q").cast("decimal(38,0)")).alias("_l1"),
        F.sum(F.col("rdot_q").cast("decimal(38,0)")).alias("_rd"))
    return (g.select(
        "label", "n_vecs",
        (F.col("_n2").cast("double") / 1e12 / F.col("n_vecs"))
        .alias("avg_norm2"),
        "pos_components",
        (F.col("_l1").cast("double") / 1e6 / F.col("n_vecs"))
        .alias("avg_l1"),
        (F.col("_rd").cast("double") / 1e12 / F.col("n_vecs"))
        .alias("avg_rdot"))
        .orderBy("label"))


_SQL_ARRAY_HOF = """
WITH ex AS (
  SELECT vec_id, label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
         CAST(len(embedding) AS BIGINT) AS nd,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS vq,
         CAST(unnest(embedding) AS DOUBLE) AS vd
  FROM embeddings
), pv AS (
  SELECT a.vec_id, MIN(a.label) AS label,
         SUM(a.vq * a.vq) AS norm2_q,
         SUM(CASE WHEN a.vd > 0 THEN 1 ELSE 0 END) AS n_pos,
         SUM(abs(a.vq)) AS l1_q,
         SUM(a.vq * b.vq) AS rdot_q
  FROM ex a JOIN ex b
    ON a.vec_id = b.vec_id AND b.i = a.nd + 1 - a.i
  GROUP BY a.vec_id
), g AS (
  SELECT label, COUNT(*) AS n_vecs,
         SUM(CAST(norm2_q AS HUGEINT)) AS n2,
         CAST(SUM(n_pos) AS BIGINT) AS pos_components,
         SUM(CAST(l1_q AS HUGEINT)) AS l1,
         SUM(CAST(rdot_q AS HUGEINT)) AS rd
  FROM pv GROUP BY 1
)
SELECT label, n_vecs,
       CAST(n2 AS DOUBLE) / 1e12 / n_vecs AS avg_norm2,
       pos_components,
       CAST(l1 AS DOUBLE) / 1e6 / n_vecs AS avg_l1,
       CAST(rd AS DOUBLE) / 1e12 / n_vecs AS avg_rdot
FROM g ORDER BY label
"""


def q_repeated_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring dedup (Lee et al. 2022 suffix-array
    dedup restricted to 8-token granularity): every 8-token gram
    occurring >=2 times corpus-wide marks its positions everywhere;
    marked intervals merge into maximal spans per document, which are
    reported and excised (see pipeline/clean.py).

    r13: docs spread (guide §2.5 single-task scan fix)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return clean.repeated_span_mask(docs, k=8, min_count=2)


_SQL_REPEATED_SPAN_MASK = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), ex AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS i
  FROM tok WHERE len(t) >= 8
), kg AS (
  SELECT doc_id, i AS pos, i + 7 AS e,
         array_to_string(t[i:i+7], ' ') AS g
  FROM ex
), dup AS (
  SELECT g FROM kg GROUP BY 1 HAVING COUNT(*) >= 2
), mk AS (
  SELECT doc_id, pos, e FROM kg WHERE g IN (SELECT g FROM dup)
), fl AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > COALESCE(MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1) + 1
              THEN 1 ELSE 0 END AS nf
  FROM mk
), isl AS (
  SELECT doc_id, pos, e,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS iid
  FROM fl
), spans AS (
  SELECT doc_id, iid, MIN(pos) AS s, MAX(e) AS e
  FROM isl GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS masked_tokens
  FROM spans GROUP BY 1
), tp AS (
  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM tok
), kept AS (
  SELECT tp.doc_id,
         array_to_string(list(tp.t[tp.p] ORDER BY tp.p), ' ') AS clean_text
  FROM tp
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = tp.doc_id
                      AND tp.p BETWEEN sp.s AND sp.e)
  GROUP BY 1
)
SELECT tok.doc_id,
       CAST(len(tok.t) AS BIGINT) AS n_tokens,
       COALESCE(pd.n_spans, 0) AS n_spans,
       COALESCE(pd.masked_tokens, 0) AS masked_tokens,
       COALESCE(k.clean_text, '') AS clean_text
FROM tok
LEFT JOIN per_doc pd USING (doc_id)
LEFT JOIN kept k USING (doc_id)
ORDER BY doc_id
"""


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail LM bucketing (Wenzek et al. 2020)
    via the exact integer unigram score — mean corpus frequency of the
    document's tokens in floor-ppm (see pipeline/text_analysis.py).

    r13: spread examined and REJECTED (A/B 1.43 vs 1.55 s — the
    token-count exchange already spreads the heavy phase)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.unigram_lm_score(docs)


_SQL_UNIGRAM_LM = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), ex AS (
  SELECT doc_id, unnest(t) AS w FROM tok
), cnt AS (
  SELECT w, COUNT(*) AS c FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt
), doc AS (
  SELECT ex.doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(cnt.c) AS BIGINT) AS sum_cnt
  FROM ex JOIN cnt USING (w) GROUP BY 1
), sc AS (
  SELECT doc_id, n_tokens, sum_cnt,
         CAST((sum_cnt * 1000000) // (n_tokens * tot.n_total) AS BIGINT)
           AS score_ppm
  FROM doc, tot
)
SELECT doc_id, n_tokens, sum_cnt, score_ppm,
       CASE NTILE(3) OVER (ORDER BY score_ppm DESC, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM sc ORDER BY doc_id
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (alpha=1/2, T5/mBERT
    rebalance): per-source quotas proportional to isqrt(n_source),
    exact int64 arithmetic, membership by md5-rank within source —
    operators/sampling.py temperature_quota_sample."""
    from ..operators.sampling import temperature_quota_sample

    docs = load_table(spark, sf_dir, "documents")
    return (temperature_quota_sample(docs, "source", "doc_id",
                                     budget=100, salt="tmix-v1")
            .select("doc_id", "source", "lang")
            .orderBy("doc_id"))


_SQL_TEMPERATURE_MIX = """
WITH c AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
), w AS (
  SELECT CAST(SUM(CAST(FLOOR(SQRT(n)) AS BIGINT)) AS BIGINT) AS s FROM c
), q AS (
  SELECT source,
         (100 * CAST(FLOOR(SQRT(n)) AS BIGINT)) // w.s AS quota
  FROM c, w
), r AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('tmix-v1:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT r.doc_id, r.source, r.lang
FROM r JOIN q USING (source)
WHERE r.rk <= q.quota
ORDER BY doc_id
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernandez & Stolfo
    merge/purge): sort by a 40-char normalized-text key, verify exact
    shingle-Jaccard >= 0.8 inside a 4-row sliding window — the classic
    ER blocking alternative to LSH (see pipeline/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(docs, window=4,
                                           threshold=0.8, k=3)


_SQL_SORTED_NEIGHBORHOOD = f"""
WITH {duckdb_shingle_cte(3)},
keyed AS (
  SELECT doc_id, substr(lower(trim(text)), 1, 40) AS ky FROM documents
), r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ky, doc_id) AS rn FROM keyed
), cand AS (
  SELECT least(a.doc_id, b.doc_id) AS d1,
         greatest(a.doc_id, b.doc_id) AS d2
  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
), ex AS (
  SELECT doc_id, unnest(s) AS sg FROM sh
), pairs AS (
  SELECT c.d1, c.d2, COUNT(*) AS inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.d1
  JOIN ex b ON b.doc_id = c.d2 AND b.sg = a.sg
  GROUP BY 1, 2
)
SELECT d1, d2, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
FROM pairs
JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = d1
JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = d2
WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
ORDER BY d1, d2
"""


def q_zipf_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency vocabulary audit: top-50 tokens with exact
    floor-ppm corpus share and rank-1-relative frequency (see
    pipeline/text_analysis.py zipf_census)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.zipf_census(docs, top=50)


_SQL_ZIPF_CENSUS = """
WITH tok AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents
), cnt AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total,
         CAST(MAX(c) AS BIGINT) AS c_max FROM cnt
), head AS (
  SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 50
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS INT) AS rank,
       w AS token, c AS cnt,
       (c * 1000000) // tot.n_total AS share_ppm,
       (c * 1000000) // tot.c_max AS rel_ppm
FROM head, tot
ORDER BY rank
"""


def q_weighted_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted bootstrap (sampling WITH replacement):
    500 draws from the exact integer n_chars CDF via md5-mod positions
    and a bucketed interval join — operators/sampling.py
    weighted_bootstrap_counts."""
    from ..operators.sampling import weighted_bootstrap_counts

    docs = load_table(spark, sf_dir, "documents")
    return weighted_bootstrap_counts(docs, "n_chars", draws=500,
                                     bucket=4096, salt="boot-v1")


_SQL_WEIGHTED_BOOTSTRAP = """
WITH d AS (
  SELECT doc_id AS k, CAST(n_chars AS BIGINT) AS w
  FROM documents WHERE n_chars > 0
), cdf AS (
  SELECT k, w,
         CAST(COALESCE(SUM(w) OVER (ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS lo
  FROM d
), tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d
), drw AS (
  SELECT CAST(concat('0x',
             substr(md5('boot-v1:' || CAST(gs.j AS VARCHAR)), 1, 12))
           AS BIGINT) % tot.tw AS u
  FROM generate_series(0, 499) gs(j), tot
)
SELECT cdf.k AS doc_id, cdf.w, COUNT(*) AS n_draws
FROM drw JOIN cdf ON drw.u >= cdf.lo AND drw.u < cdf.lo + cdf.w
GROUP BY 1, 2
ORDER BY doc_id
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column census over customer/orders/part: null
    count, exact distinct count, min/max per column under
    engine-stable string rendering — operators/profiling.py.

    r13: tables spread (guide §2.5) — the per-column melt + census
    aggregates are scan-stage compute."""
    from ..operators.profiling import PROFILE_COLUMNS, profile_tables

    tables = {t: load_table(spark, sf_dir, t, spread=True)
              for t in PROFILE_COLUMNS}
    return profile_tables(tables)


def _sql_table_profile() -> str:
    from ..operators.profiling import profile_oracle_sql
    return profile_oracle_sql()


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer bigram LM fluency score: mean floor-ppm
    conditional bigram frequency per document (see
    pipeline/text_analysis.py bigram_lm_score).

    r13: docs spread (guide §2.5 single-task scan fix)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text_analysis.bigram_lm_score(docs)


_SQL_BIGRAM_LM = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), uni AS (
  SELECT unnest(t) AS w1 FROM tok
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY 1
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        FROM tok WHERE len(t) >= 2)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2
), term AS (
  SELECT doc_id, (c2.c2 * 1000000) // c1.c1 AS tq
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
), pd AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(tq) // COUNT(*) AS BIGINT) AS score_ppm
  FROM term GROUP BY 1
)
SELECT tok.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       COALESCE(pd.score_ppm, 0) AS score_ppm
FROM tok LEFT JOIN pd USING (doc_id)
ORDER BY doc_id
"""


def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-overlap contamination severity: longest consecutive
    run of benchmark-matching 5-grams per corpus document (doc_id % 23
    == 0 is the stand-in eval set, as in benchmark_contamination) —
    pipeline/clean.py contamination_spans."""
    # r13: spread (guide §2.5 single-task scan fix)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    corpus = docs.filter(F.col("doc_id") % 23 != 0)
    return clean.contamination_spans(corpus, bench, n=5)


_SQL_CONTAMINATION_SPANS = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), kg AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+4], ' ') AS g
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 5 + 2)) AS i
        FROM tok WHERE len(t) >= 5)
), bench AS (
  SELECT DISTINCT g FROM kg WHERE doc_id % 23 = 0
), corp AS (
  SELECT doc_id, pos, g FROM kg WHERE doc_id % 23 <> 0
), marked AS (
  SELECT doc_id, pos FROM corp WHERE g IN (SELECT g FROM bench)
), fl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) + 1
              THEN 1 ELSE 0 END AS nf
  FROM marked
), runs0 AS (
  SELECT doc_id, pos,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS rid
  FROM fl
), runs AS (
  SELECT doc_id, rid, MAX(pos) - MIN(pos) + 5 AS run_tokens
  FROM runs0 GROUP BY 1, 2
), pd AS (
  SELECT doc_id, COUNT(*) AS n_runs,
         CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens
  FROM runs GROUP BY 1
), tot AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY 1
), hit AS (
  SELECT doc_id, COUNT(*) AS n_hits FROM marked GROUP BY 1
)
SELECT d.doc_id, COALESCE(tot.n_grams, 0) AS n_grams,
       COALESCE(hit.n_hits, 0) AS n_hits,
       COALESCE(pd.n_runs, 0) AS n_runs,
       COALESCE(pd.max_run_tokens, 0) AS max_run_tokens
FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d
LEFT JOIN tot USING (doc_id)
LEFT JOIN hit USING (doc_id)
LEFT JOIN pd USING (doc_id)
ORDER BY doc_id
"""


def q_corpus_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition audit — the mixing dashboard a
    pretraining run reads before setting quotas: document and token
    shares (exact floor-ppm), mean chars per token (one IEEE-754
    double quotient of two exact bigints — deterministic, matching the
    oracle's ``n_chars::DOUBLE / n_tokens``), and language spread per
    source. One
    hash-aggregate keyed on source plus a one-row totals broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    per = (docs.select("source", "lang",
                       F.size(F.split(F.lower(F.trim(F.col("text"))),
                                      " ")).alias("nt"),
                       F.col("n_chars"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").alias("n_tokens"),
                F.sum("n_chars").alias("n_chars"),
                F.count_distinct("lang").alias("n_langs")))
    tot = per.agg(F.sum("n_docs").alias("td"),
                  F.sum("n_tokens").alias("tt"))
    return (per.crossJoin(F.broadcast(tot))
            .select("source", "n_docs",
                    F.expr("(n_docs * 1000000) div td")
                    .alias("doc_share_ppm"),
                    "n_tokens",
                    F.expr("(n_tokens * 1000000) div tt")
                    .alias("tok_share_ppm"),
                    (F.col("n_chars").cast("double")
                     / F.col("n_tokens")).alias("chars_per_token"),
                    "n_langs")
            .orderBy("source"))


_SQL_CORPUS_MIX_AUDIT = """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT)
           AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         COUNT(DISTINCT lang) AS n_langs
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
         CAST(SUM(n_tokens) AS BIGINT) AS tt FROM per
)
SELECT source, n_docs,
       (n_docs * 1000000) // tot.td AS doc_share_ppm,
       n_tokens,
       (n_tokens * 1000000) // tot.tt AS tok_share_ppm,
       n_chars::DOUBLE / n_tokens AS chars_per_token,
       n_langs
FROM per, tot
ORDER BY source
"""


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint match report: pairs sharing >= 3
    window-minimum 3-gram hashes under w=4 windows — position-aware
    passage-level dedup, 2/(w+1) index density (see
    pipeline/dedup.py winnowing_fingerprints)."""
    # r13: spread (guide §2.5 single-task scan fix)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dedup.winnowing_pairs(docs, k=3, w=4, min_shared=3)


_SQL_WINNOWING_PAIRS = """
WITH tok AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), kg AS (
  SELECT doc_id, i AS pos,
         CAST(concat('0x',
              substr(md5(array_to_string(t[i:i+2], ' ')), 1, 12))
           AS BIGINT) AS h
  FROM (SELECT doc_id, t,
               unnest(range(1, greatest(len(t) - 3 + 1, 1) + 1)) AS i
        FROM tok)
), sel AS (
  SELECT doc_id, pos, h,
         MAX(pos) OVER (PARTITION BY doc_id) AS np,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
  FROM kg
), fps AS (
  SELECT DISTINCT doc_id, wm AS fp FROM sel
  WHERE pos + 3 <= np OR pos = 1
)
SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 3
ORDER BY d1, d2
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention: near-dup clusters (exact J >=
    0.8 pairs -> connected components) keep the LONGEST member
    (n_chars desc, doc_id tiebreak), not the minimum id — see
    pipeline/dedup.py dedup_keep_policy."""
    # r13: spread examined and REVERTED — isolated A/B (taken in a
    # degraded host window) said win, but the round-over-round idle
    # sweep regressed it; the family's gram/bucket exchange already
    # spreads the heavy phase
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8, k=3)
    return dedup.dedup_keep_policy(docs, pairs, order_col="n_chars")


_SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {duckdb_shingle_cte(3)},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT d1, d2
  FROM cand
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = d1
  JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = d2
  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
),
edges AS (
  SELECT d1 AS a, d2 AS b FROM jac
  UNION
  SELECT d2 AS a, d1 AS b FROM jac
),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
),
comp AS (SELECT n, MIN(m) AS c FROM reach GROUP BY 1),
base AS (
  SELECT doc_id, COALESCE(comp.c, doc_id) AS cluster_id, n_chars
  FROM documents LEFT JOIN comp ON documents.doc_id = comp.n
)
SELECT doc_id, cluster_id, n_chars,
       ROW_NUMBER() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id) = 1 AS keep
FROM base
ORDER BY doc_id
"""


def q_boilerplate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detector (FineWeb-style crawl
    diagnostic): the fraction of a source's 5-gram POSITIONS whose
    gram recurs in >= 5 distinct documents of the SAME source —
    template headers/footers light up a source long before global
    dedup sees pairs. Exact floor-ppm integers throughout. Shape: one
    gram explode, one (source, gram) distinct-doc aggregate, one
    co-partitioned semi join back, one source rollup."""
    # r13: spread (guide §2.5) — the gram explode is scan-stage
    docs = load_table(spark, sf_dir, "documents", spread=True)
    kg = (docs.select("source", F.col("doc_id"),
                      tokens("text").alias("t"))
          .select("source", "doc_id",
                  F.explode(F.expr(
                      "CASE WHEN size(t) >= 5 THEN "
                      "transform(sequence(1, size(t) - 4), "
                      "i -> concat_ws(' ', slice(t, i, 5))) "
                      "ELSE array() END")).alias("g")))
    # r12 (§2.3/§2.4): the old shape ran the gram explode THREE times
    # (distinct → df filter, the leftsemi hits pass, the totals pass)
    # and shuffled the full position stream — gram STRINGS riding —
    # into the semi join. One (source, g) aggregate carrying BOTH the
    # position count and the distinct-doc count replaces all of it:
    # n_boiler = Σ cnt over grams with df ≥ 5 and n_positions = Σ cnt
    # are then a per-source fold over the gram-level rows. Exact
    # integer identity with the semi-join formulation (a position is
    # counted iff its (source, g) clears the df threshold).
    per_gram = (kg.groupBy("source", "g")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.countDistinct("doc_id").alias("df")))
    return (per_gram.groupBy("source")
            .agg(F.sum("cnt").alias("n_positions"),
                 F.coalesce(F.sum(F.when(F.col("df") >= 5,
                                         F.col("cnt"))),
                            F.lit(0)).alias("n_boiler"))
            .select("source", "n_positions", "n_boiler",
                    F.expr("(n_boiler * 1000000) div n_positions")
                    .alias("boiler_ppm"))
            .orderBy("source"))


_SQL_BOILERPLATE_AUDIT = """
WITH tok AS (
  SELECT source, doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
), kg AS (
  SELECT source, doc_id, array_to_string(t[i:i+4], ' ') AS g
  FROM (SELECT source, doc_id, t, unnest(range(1, len(t) - 5 + 2)) AS i
        FROM tok WHERE len(t) >= 5)
), boiler AS (
  SELECT source, g FROM (
    SELECT source, g, COUNT(DISTINCT doc_id) AS df
    FROM kg GROUP BY 1, 2
  ) WHERE df >= 5
), hits AS (
  SELECT kg.source, COUNT(*) AS n_boiler
  FROM kg JOIN boiler USING (source, g) GROUP BY 1
), totals AS (
  SELECT source, COUNT(*) AS n_positions FROM kg GROUP BY 1
)
SELECT totals.source, totals.n_positions,
       COALESCE(hits.n_boiler, 0) AS n_boiler,
       (COALESCE(hits.n_boiler, 0) * 1000000) // totals.n_positions
         AS boiler_ppm
FROM totals LEFT JOIN hits USING (source)
ORDER BY source
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: confusion matrix of the stored ``lang``
    label vs the marker-based lang_id prediction — the agreement check
    a pipeline runs before trusting either signal. One narrow compose
    of the audited lang_id plan plus a (label, predicted) rollup."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text_analysis.lang_id(docs).select("doc_id", "pred_lang")
    lab = docs.select("doc_id", F.col("lang").alias("label_lang"))
    return (lab.join(pred, "doc_id")
            .groupBy("label_lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("label_lang", "pred_lang"))


_SQL_LANG_CONFUSION = f"""
WITH m(lang, w) AS (VALUES {_MARKER_VALUES}),
toks AS (
  SELECT doc_id, lang AS label_lang,
         string_split(lower(trim(text)), ' ') AS t
  FROM documents
), ex AS (SELECT doc_id, unnest(t) AS w FROM toks),
hits AS (
  SELECT ex.doc_id, m.lang, COUNT(*) AS c
  FROM ex JOIN m ON ex.w = m.w
  GROUP BY 1, 2
), best AS (
  SELECT doc_id, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, lang) AS rn
  FROM hits
), pred AS (
  SELECT t.doc_id, t.label_lang,
         COALESCE(b.pred_lang, 'und') AS pred_lang
  FROM toks t LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
    ON t.doc_id = b.doc_id
)
SELECT label_lang, pred_lang, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2
ORDER BY label_lang, pred_lang
"""


def q_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination retention report: drop corpus docs whose
    longest contiguous eval-overlap run is >= 8 tokens (the
    contamination_spans criterion) and report kept/dropped counts per
    source — the go/no-go summary before a training run."""
    # r13: spread (guide §2.5 single-task scan fix)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    corpus = docs.filter(F.col("doc_id") % 23 != 0)
    spans = clean.contamination_spans(corpus, bench, n=5)
    lab = corpus.select("doc_id", "source")
    return (lab.join(spans, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("max_run_tokens") >= 8).cast("long"))
                 .alias("n_dropped"),
                 F.sum((F.col("max_run_tokens") < 8).cast("long"))
                 .alias("n_kept"))
            .orderBy("source"))


_SQL_DECONTAMINATE_REPORT = f"""
WITH rep AS ({_SQL_CONTAMINATION_SPANS}),
lab AS (
  SELECT doc_id, source FROM documents WHERE doc_id % 23 <> 0
)
SELECT lab.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rep.max_run_tokens >= 8 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN rep.max_run_tokens < 8 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_kept
FROM lab JOIN rep USING (doc_id)
GROUP BY 1
ORDER BY source
"""


PIPELINE_QUERIES: dict = {
    "dedup_exact": (q_dedup_exact, _SQL_DEDUP_EXACT),
    "dup_spectrum": (q_dup_spectrum, _SQL_DUP_SPECTRUM),
    "rare_token_score": (q_rare_token_score, _SQL_RARE_TOKEN_SCORE),
    "dup_source_matrix": (q_dup_source_matrix, _SQL_DUP_SOURCE_MATRIX),
    "array_hof_stats": (q_array_hof_stats, _SQL_ARRAY_HOF),
    "dedup_near_pairs": (q_dedup_near_pairs, _SQL_NEAR_PAIRS),
    "dedup_minhash": (q_dedup_minhash, _SQL_NEAR_PAIRS),
    "corpus_clean": (q_corpus_clean, _SQL_CORPUS_CLEAN),
    "dedup_simhash": (q_dedup_simhash, _SQL_DEDUP_SIMHASH),
    "similar_vectors": (q_similar_vectors, _SQL_SIMILAR_VECTORS),
    "embedding_dup_pairs": (q_embedding_dup_pairs,
                            _SQL_EMBEDDING_DUP_PAIRS),
    "ann_topk": (q_ann_topk, _SQL_ANN_TOPK),
    "ivf_topk": (q_ivf_topk, _SQL_IVF_TOPK),
    "ivf_kmeans_topk": (q_ivf_kmeans_topk, _SQL_IVF_KMEANS_TOPK),
    "token_stats": (q_token_stats, _SQL_TOKEN_STATS),
    "text_quality": (q_text_quality, _SQL_TEXT_QUALITY),
    "lang_id": (q_lang_id, _SQL_LANG_ID),
    "top_ngrams": (q_top_ngrams, _SQL_TOP_NGRAMS),
    "lang_stats": (q_lang_stats, _SQL_LANG_STATS),
    "doc_fingerprint": (q_doc_fingerprint, _SQL_DOC_FINGERPRINT),
    "multimodal_meta": (q_multimodal_meta, _SQL_MULTIMODAL_META),
    "multimodal_embed_ann": (q_multimodal_embed_ann,
                             _SQL_MULTIMODAL_EMBED_ANN),
    # r9 sanctioned addition (VERDICT r8 ask #5): live PPM decode
    "multimodal_decode": (q_multimodal_decode, _SQL_MULTIMODAL_DECODE),
    "stratified_sample": (q_stratified_sample, _SQL_STRATIFIED_SAMPLE),
    "tfidf_top_terms": (q_tfidf_top_terms, _SQL_TFIDF_TOP_TERMS),
    "repetition_stats": (q_repetition_stats, _SQL_REPETITION_STATS),
    "chunk_dedup": (q_chunk_dedup, _SQL_CHUNK_DEDUP),
    "pii_scrub": (q_pii_scrub, _SQL_PII_SCRUB),
    "benchmark_contamination": (q_benchmark_contamination,
                                _SQL_BENCHMARK_CONTAMINATION),
    "dedup_clusters": (q_dedup_clusters, _SQL_DEDUP_CLUSTERS),
    "dedup_clusters_lsh": (q_dedup_clusters_lsh, _SQL_DEDUP_CLUSTERS),
    "fuzzy_match": (q_fuzzy_match, _SQL_FUZZY_MATCH),
    "pretraining_filter": (q_pretraining_filter, _SQL_PRETRAINING_FILTER),
    "knn_classify": (q_knn_classify, _SQL_KNN_CLASSIFY),
    "weighted_sample": (q_weighted_sample, _SQL_WEIGHTED_SAMPLE),
    "sequence_pack": (q_sequence_pack, _SQL_SEQUENCE_PACK),
    "kmv_distinct": (q_kmv_distinct, _SQL_KMV_DISTINCT),
    "bm25_topk": (q_bm25_topk, _SQL_BM25_TOPK),
    "mixture_sample": (q_mixture_sample, _SQL_MIXTURE_SAMPLE),
    "text_normalize": (q_text_normalize, _SQL_TEXT_NORMALIZE),
    "pagerank": (q_pagerank, _SQL_PAGERANK),
    "dsir_select": (q_dsir_select, _SQL_DSIR_SELECT),
    "kfold_split": (q_kfold_split, _SQL_KFOLD_SPLIT),
    "epoch_shard": (q_epoch_shard, _SQL_EPOCH_SHARD),
    "semdedup": (q_semdedup, _SQL_SEMDEDUP),
    "semdedup_trained": (q_semdedup_trained, _SQL_SEMDEDUP_TRAINED),
    # r11 sanctioned additions (VERDICT r10 ask #4): the corpus-
    # proportional production sizing, driver-certified end-to-end
    "ann_topk_scaled": (q_ann_topk_scaled, _SQL_ANN_TOPK_SCALED),
    "embedding_dup_pairs_lsh": (q_embedding_dup_pairs_lsh,
                                _SQL_EMBEDDING_DUP_PAIRS_LSH),
    "semdedup_scaled": (q_semdedup_scaled, _SQL_SEMDEDUP_SCALED),
    "semdedup_scaled_vec": (q_semdedup_scaled_vec, _SQL_SEMDEDUP_SCALED),
    "heavy_hitters": (q_heavy_hitters, _SQL_HEAVY_HITTERS),
    "doc_chunks": (q_doc_chunks, _SQL_DOC_CHUNKS),
    "bigram_novelty": (q_bigram_novelty, _SQL_BIGRAM_NOVELTY),
    "mix_allocation": (q_mix_allocation, _SQL_MIX_ALLOCATION),
    "hll_distinct": (q_hll_distinct, _SQL_HLL_DISTINCT),
    "domain_cap": (q_domain_cap, _SQL_DOMAIN_CAP),
    "embed_dim_stats": (q_embed_dim_stats, _SQL_EMBED_DIM_STATS),
    "pmi_collocations": (q_pmi_collocations, _SQL_PMI_COLLOCATIONS),
    "label_centroid_sim": (q_label_centroid_sim,
                           _SQL_LABEL_CENTROID_SIM),
    "kmv_set_ops": (q_kmv_set_ops, _SQL_KMV_SET_OPS),
    "pca_power": (q_pca_power, _SQL_PCA_POWER),
    "rrf_fusion": (q_rrf_fusion, _SQL_RRF_FUSION),
    "lang_confusion_shares": (q_lang_confusion_shares,
                              _SQL_LANG_CONFUSION_SHARES),
    "posting_topk": (q_posting_topk, _SQL_POSTING_TOPK),
    "cms_counts": (q_cms_counts, _SQL_CMS_COUNTS),
    "hard_negatives": (q_hard_negatives, _SQL_HARD_NEGATIVES),
    "minhash_est": (q_minhash_est, _SQL_MINHASH_EST),
    "triangle_count": (q_triangle_count, _SQL_TRIANGLE_COUNT),
    "kcore_peel": (q_kcore_peel, _SQL_KCORE_PEEL),
    "bpe_merges": (q_bpe_merges, _SQL_BPE_MERGES),
    "bpe_train": (q_bpe_train, _SQL_BPE_TRAIN),
    "bpe_vocab": (q_bpe_vocab, _SQL_BPE_VOCAB),
    "incremental_neardup": (q_incremental_neardup,
                            _SQL_INCREMENTAL_NEARDUP),
    "corpus_pipeline": (q_corpus_pipeline, _SQL_CORPUS_PIPELINE),
    "repeated_span_mask": (q_repeated_span_mask, _SQL_REPEATED_SPAN_MASK),
    "unigram_lm": (q_unigram_lm, _SQL_UNIGRAM_LM),
    "temperature_mix": (q_temperature_mix, _SQL_TEMPERATURE_MIX),
    "sorted_neighborhood": (q_sorted_neighborhood,
                            _SQL_SORTED_NEIGHBORHOOD),
    "zipf_census": (q_zipf_census, _SQL_ZIPF_CENSUS),
    "weighted_bootstrap": (q_weighted_bootstrap,
                           _SQL_WEIGHTED_BOOTSTRAP),
    "table_profile": (q_table_profile, _sql_table_profile()),
    "bigram_lm": (q_bigram_lm, _SQL_BIGRAM_LM),
    "contamination_spans": (q_contamination_spans,
                            _SQL_CONTAMINATION_SPANS),
    "corpus_mix_audit": (q_corpus_mix_audit, _SQL_CORPUS_MIX_AUDIT),
    "winnowing_pairs": (q_winnowing_pairs, _SQL_WINNOWING_PAIRS),
    "dedup_keep_best": (q_dedup_keep_best, _SQL_DEDUP_KEEP_BEST),
    "boilerplate_audit": (q_boilerplate_audit, _SQL_BOILERPLATE_AUDIT),
    "lang_confusion": (q_lang_confusion, _SQL_LANG_CONFUSION),
    "decontaminate_report": (q_decontaminate_report,
                             _SQL_DECONTAMINATE_REPORT),
}
