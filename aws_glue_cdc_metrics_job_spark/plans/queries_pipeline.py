"""Graded queries for the LLM-training-data pipeline extensions: dedup,
text analysis, similarity search, multimodal plumbing (BASELINE.json
north_star). Oracles mirror the exact arithmetic; the genuinely
non-SQL ops (MinHash-LSH banding) declare no oracle and rely on the
driver's rows-only check + unit tests against exact Jaccard."""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import rhu, sql_rhu
from ..operators import dedup, similarity, text
from ..operators.multimodal import as_binary_column
from ..sources import read_table
from .catalog import query

# Shared SQL fragments (normalization must match operators.dedup exactly).
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKS = f"string_split({_NORM}, ' ')"
_TOKS_NE = f"list_filter({_TOKS}, t -> t <> '')"
_STOPLIST = "['" + "','".join(text.EN_STOPWORDS) + "']"


@query(
    "docs_fingerprint",
    tags=("untimed",),
    oracle=f"""
SELECT doc_id, md5({_NORM}) AS FINGERPRINT FROM documents
""",
)
def q_docs_fingerprint(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return dedup.fingerprint(docs).select("doc_id", "FINGERPRINT")


@query(
    "docs_exact_dedup",
    tags=("min2",),
    oracle=f"""
SELECT md5({_NORM}) AS FINGERPRINT,
       MIN(doc_id) AS KEEP_ID,
       COUNT(*) AS N_DOCS
FROM documents GROUP BY 1
""",
)
def q_docs_exact_dedup(spark: SparkSession, sf_dir: str):
    return dedup.exact_dedup_groups(read_table(spark, sf_dir, "documents"))


@query(
    "docs_token_stats",
    tags=("untimed",),
    oracle=f"""
WITH t AS (SELECT doc_id, length(text) AS n_chars_raw, {_TOKS_NE} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS N_TOKENS,
       CAST(n_chars_raw AS BIGINT) AS N_CHARS_RAW,
       CASE WHEN len(toks) > 0
            THEN FLOOR((CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) / len(toks)) * 1000000 + 0.5) / 1000000
       END AS AVG_TOKEN_LEN
FROM t
""",
)
def q_docs_token_stats(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return text.token_stats(docs).select("doc_id", "N_TOKENS", "N_CHARS_RAW", "AVG_TOKEN_LEN")


@query(
    "docs_quality_score",
    tags=("untimed",),
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS N_TOKENS,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({_STOPLIST}, t))) / len(toks)
              ELSE 0.0 END AS stop_ratio,
         least(len(toks) / 200.0, 1.0) AS len_score
  FROM t
)
SELECT doc_id, N_TOKENS,
       FLOOR((stop_ratio) * 1000000 + 0.5) / 1000000 AS STOPWORD_RATIO,
       FLOOR((0.7 * len_score + 0.3 * stop_ratio) * 1000000 + 0.5) / 1000000 AS QUALITY_SCORE,
       FLOOR((0.7 * len_score + 0.3 * stop_ratio) * 1000000 + 0.5) / 1000000 >= 0.1 AS KEEP
FROM s
""",
)
def q_docs_quality(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return text.quality_score(docs).select("doc_id", "N_TOKENS", "STOPWORD_RATIO", "QUALITY_SCORE", "KEEP")


@query(
    "docs_lang_guess",
    tags=("untimed",),
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_NE} AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({_STOPLIST}, t))) / len(toks)
              ELSE 0.0 END AS stop_ratio
  FROM t
)
SELECT doc_id, lang,
       FLOOR((stop_ratio) * 1000000 + 0.5) / 1000000 AS EN_STOP_RATIO,
       CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'unknown' END AS LANG_GUESS
FROM s
""",
)
def q_docs_lang_guess(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return text.language_guess(docs).select("doc_id", "lang", "EN_STOP_RATIO", "LANG_GUESS")


_SHINGLES_SQL = f"""
sh AS (
  SELECT doc_id, lang, source,
         list_distinct(
           CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
                ELSE list_transform(range(0, len(toks) - 2),
                                    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])
           END) AS shingles
  FROM (SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents)
)"""


@query(
    "docs_ngram_jaccard_pairs",
    tags=("min2", "unscaled"),
    oracle=f"""
WITH {_SHINGLES_SQL}
SELECT ID_A, ID_B, JACCARD FROM (
  SELECT a.doc_id AS ID_A, b.doc_id AS ID_B,
         FLOOR((CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0 THEN 0.0
                    ELSE len(list_intersect(a.shingles, b.shingles))
                         / len(list_distinct(list_concat(a.shingles, b.shingles)))
               END) * 1000000 + 0.5) / 1000000 AS JACCARD
  FROM sh a
  JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
) WHERE JACCARD >= 0.05
""",
)
def q_docs_ngram_jaccard(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, blocking_cols=["lang", "source"], n=3, threshold=0.05
    )


@query(
    "docs_dup_clusters",
    tags=("untimed",),
    oracle=f"""
WITH RECURSIVE {_SHINGLES_SQL.lstrip()},
p AS (
  SELECT a.doc_id AS ID_A, b.doc_id AS ID_B
  FROM sh a
  JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE (CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0 THEN 0.0
              ELSE len(list_intersect(a.shingles, b.shingles))
                   / len(list_distinct(list_concat(a.shingles, b.shingles)))
         END) >= 0.05
),
edges AS (SELECT ID_A AS src, ID_B AS dst FROM p UNION SELECT ID_B, ID_A FROM p),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS DOC_ID, MIN(label) AS CLUSTER_ID,
       (node = MIN(label)) AS IS_REPRESENTATIVE
FROM reach GROUP BY node
""",
)
def q_docs_dup_clusters(spark: SparkSession, sf_dir: str):
    """Near-dup cluster assignment: n-gram-Jaccard pair graph (same pairs
    as docs_ngram_jaccard_pairs) -> connected components by min-label
    propagation (operators/dedup.dup_clusters). The oracle walks the same
    graph with a recursive CTE. The one iterative op in the catalog."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, blocking_cols=["lang", "source"], n=3, threshold=0.05
    )
    return dedup.dup_clusters(pairs, docs)


# no oracle: ml-based banding is not SQL-expressible
@query("docs_minhash_lsh_pairs", tags=("min2",))
def q_docs_minhash_lsh(spark: SparkSession, sf_dir: str):
    """MinHash+LSH near-dup candidates (rows-only driver check; exactness is
    unit-tested against brute-force Jaccard in tests/test_dedup.py)."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.9)


@query(
    "docs_simhash",
    tags=("min2",),
    oracle=f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs FROM t)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 32), b ->
         CASE WHEN list_sum(list_transform(hs, x ->
                     CASE WHEN (x // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS SIMHASH
FROM h
""",
)
def q_docs_simhash(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return dedup.simhash(docs).select("doc_id", "SIMHASH")


_SIMHASH_SQL = f"""
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs FROM t),
sig AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32), b ->
           CASE WHEN list_sum(list_transform(hs, x ->
                       CASE WHEN (x // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS SIMHASH
  FROM h
)"""


@query(
    "docs_simhash_pairs",
    tags=("untimed",),
    oracle=f"""
WITH {_SIMHASH_SQL}
SELECT a.doc_id AS ID_A, b.doc_id AS ID_B,
       CAST(bit_count(xor(a.SIMHASH, b.SIMHASH)) AS BIGINT) AS HAMMING
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.SIMHASH, b.SIMHASH)) <= 3
""",
)
def q_docs_simhash_pairs(spark: SparkSession, sf_dir: str):
    """SimHash near-dup pairs: banded chunk equi-join (exact recall by
    pigeonhole for max_hamming < bands) + bit_count(xor) verify. The oracle
    brute-forces all pairs -- same result, quadratic plan; the engine's
    banding is the scale path."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, bits=32, bands=4, max_hamming=3)


@query(
    "docs_fuzzy_key_pairs",
    oracle="""
WITH k AS (SELECT doc_id, lower(substr(text, 1, 24)) AS key FROM documents)
SELECT a.doc_id AS ID_A, b.doc_id AS ID_B,
       CAST(levenshtein(a.key, b.key) AS BIGINT) AS DISTANCE
FROM k a JOIN k b ON a.doc_id < b.doc_id
WHERE levenshtein(a.key, b.key) <= 1
""",
)
def q_docs_fuzzy_key_pairs(spark: SparkSession, sf_dir: str):
    """Edit-distance self-join on a normalized 24-char key: symmetric-delete
    (SymSpell) blocking on distinct keys + levenshtein verify, exact recall.
    The oracle brute-forces all id pairs (quadratic -- diagnostic scale
    only); the engine's deletion-variant equi-join is the scale path. The
    graded key is ASCII by fixture; cross-engine parity on non-ASCII keys
    is impossible here because DuckDB's levenshtein counts bytes while the
    engine (and Spark SQL) counts codepoints -- the unicode-correct
    behavior is pinned engine-side in tests/test_dedup.py."""
    docs = read_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", F.lower(F.substring("text", 1, 24)).alias("key")
    )
    return dedup.fuzzy_key_pairs(keyed, id_col="doc_id", key_col="key", max_dist=1)


@query(
    "docs_repetition",
    tags=("untimed",),
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
              ELSE list_transform(range(0, len(toks) - 1), i -> toks[i + 1] || ' ' || toks[i + 2])
         END AS grams
  FROM t
),
tc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY 1, 2
),
tt AS (SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top FROM tc GROUP BY 1)
SELECT g.doc_id,
       COALESCE(CAST(tt.n_tokens AS BIGINT), 0) AS N_TOKENS,
       CAST(len(g.grams) AS BIGINT) AS N_GRAMS,
       CAST(len(list_distinct(g.grams)) AS BIGINT) AS N_DISTINCT_GRAMS,
       {sql_rhu("COALESCE(tt.top / tt.n_tokens, 0.0)", 6)} AS TOP_TOKEN_SHARE,
       {sql_rhu("CASE WHEN len(g.grams) > 0 THEN 1.0 - len(list_distinct(g.grams)) / len(g.grams) ELSE 0.0 END", 6)} AS DUP_GRAM_RATIO
FROM g LEFT JOIN tt USING (doc_id)
""",
)
def q_docs_repetition(spark: SparkSession, sf_dir: str):
    """Within-doc repetition profile (duplicate-bigram ratio + top-token
    share), the boilerplate-detection quality signals."""
    docs = read_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs).select(
        "doc_id", "N_TOKENS", "N_GRAMS", "N_DISTINCT_GRAMS", "TOP_TOKEN_SHARE", "DUP_GRAM_RATIO"
    )


# shared by the expression-form query and its Arrow/numpy fast twin: both
# rank by the 6-dp-rounded cosine with an id tie-break, so one SQL replay
# grades both.
_COSINE_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS QUERY_ID, v AS qv FROM e WHERE vec_id < 8),
pairs AS (
  SELECT q.QUERY_ID, c.vec_id AS NEIGHBOR_ID,
         FLOOR((list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))))
            * 1000000 + 0.5) / 1000000 AS COSINE
  FROM e c, q WHERE c.vec_id <> q.QUERY_ID
)
SELECT QUERY_ID, NEIGHBOR_ID, COSINE,
       CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID
                               ORDER BY COSINE DESC, NEIGHBOR_ID) AS BIGINT) AS NEIGHBOR_RANK
FROM pairs
QUALIFY NEIGHBOR_RANK <= 5
"""


@query("emb_cosine_topk", tags=("min2",), oracle=_COSINE_TOPK_ORACLE)
def q_emb_cosine_topk(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.withColumn("NEIGHBOR_RANK", F.col("RANK").cast("long")).drop("RANK")


@query(
    "emb_ivf_assign",
    tags=("untimed",),
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS CELL, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, cents.CELL,
         FLOOR((list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS sim
  FROM e, cents
)
SELECT vec_id, CELL FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, CELL) = 1
""",
)
def q_emb_ivf_assign(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.assign_cells(emb, centroids).select("vec_id", "CELL")


@query(
    "emb_ivf_topk",
    tags=("untimed",),
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS CELL, v AS cv FROM e WHERE vec_id % 31 = 1),
asg AS (
  SELECT e.vec_id, cents.CELL,
         FLOOR((list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS sim
  FROM e, cents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY sim DESC, CELL) = 1
),
q AS (SELECT vec_id AS QUERY_ID, v AS qv FROM e WHERE vec_id < 8),
probes AS (
  SELECT q.QUERY_ID, q.qv, cents.CELL,
         FLOOR((list_dot_product(q.qv, cents.cv)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS psim
  FROM q, cents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.QUERY_ID ORDER BY psim DESC, CELL) <= 4
),
pairs AS (
  SELECT p.QUERY_ID, a.vec_id AS NEIGHBOR_ID,
         FLOOR((list_dot_product(p.qv, e2.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e2.v, e2.v))))
            * 1000000 + 0.5) / 1000000 AS COSINE
  FROM probes p JOIN asg a ON a.CELL = p.CELL JOIN e e2 ON e2.vec_id = a.vec_id
  WHERE a.vec_id <> p.QUERY_ID
)
SELECT QUERY_ID, NEIGHBOR_ID, COSINE,
       CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID
                               ORDER BY COSINE DESC, NEIGHBOR_ID) AS BIGINT) AS NEIGHBOR_RANK
FROM pairs
QUALIFY NEIGHBOR_RANK <= 5
""",
)
def q_emb_ivf_topk(spark: SparkSession, sf_dir: str):
    """IVF-cell-restricted ANN top-k with multi-probe, with a full
    oracle: the probed cells are DETERMINISTIC given the
    literal centroid rule (vec_id % 31 == 1), so the SQL replays the whole
    pipeline -- nearest-cell assignment (6-dp sim, cell-id tie-break),
    each query's top-4 probe cells, and the exact within-cell ranking --
    the same way emb_ivf_assign already replays its assignment. Recall vs
    the exact emb_cosine_topk stays bounded in tests/test_catalog_parity."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centroids = emb.filter(F.col("vec_id") % 31 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=4)
    return out.withColumn("NEIGHBOR_RANK", F.col("RANK").cast("long")).drop("RANK")


@query(
    "multimodal_payload_meta",
    tags=("untimed",),
    oracle="""
SELECT doc_id,
       CAST(octet_length(text::BLOB) AS BIGINT) AS N_BYTES,
       md5(text) AS PAYLOAD_MD5
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    payload = as_binary_column(docs)
    return payload.select(
        "doc_id",
        F.length("payload").cast("long").alias("N_BYTES"),
        F.md5("payload").alias("PAYLOAD_MD5"),
    )


@query(
    "docs_k_anonymity",
    oracle="""
WITH g AS (
  SELECT lang, source, n_chars // 100 AS LEN_BUCKET,
         CAST(COUNT(*) AS BIGINT) AS GROUP_SIZE
  FROM documents
  GROUP BY 1, 2, 3
)
SELECT lang, source, LEN_BUCKET, GROUP_SIZE
FROM g WHERE GROUP_SIZE < 8
ORDER BY GROUP_SIZE, lang, source, LEN_BUCKET
""",
)
def q_docs_k_anonymity(spark: SparkSession, sf_dir: str):
    """k-anonymity audit of the corpus metadata: quasi-identifier
    combinations (lang, source, 100-char length bucket) shared by fewer
    than k=8 documents -- rows a metadata linkage attack can single out
    even after text-level PII scrubbing. One hash aggregation + a
    filter; suppression (quality.suppress_below_k) anti-joins the tiny
    violating-group frame back, pinned in test_quality."""
    from ..operators.quality import k_anonymity_report

    docs = read_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 100").alias("LEN_BUCKET")
    )
    return k_anonymity_report(docs, ["lang", "source", "LEN_BUCKET"], k=8)


@query(
    "multimodal_frame_sample",
    oracle="""
WITH d AS (
    SELECT doc_id,
           hex(encode(text)) AS hx,
           octet_length(encode(text)) AS n
    FROM documents
    WHERE doc_id % 17 = 3
),
f AS (
    SELECT d.doc_id,
           CAST(gs.idx AS INTEGER) AS FRAME_IDX,
           substring(d.hx, CAST(gs.idx AS BIGINT) * 128 + 1, 128) AS FRAME_HEX
    FROM d,
         LATERAL (
             SELECT unnest(generate_series(
                 0,
                 CAST(least(CAST(ceil(d.n / 64.0) AS BIGINT) - 1, 28) AS BIGINT),
                 4
             )) AS idx
         ) gs
    WHERE d.n > 0
)
SELECT doc_id,
       FRAME_IDX,
       CAST(length(FRAME_HEX) / 2 AS BIGINT) AS N_FRAME_BYTES,
       FRAME_HEX
FROM f
ORDER BY doc_id, FRAME_IDX
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str):
    """Frame sampling over opaque payloads: every 4th 64-byte frame, at
    most 8 per payload, sliced and hexed entirely JVM-side (sequence
    generate + binary substring -- the video keyframe-sampling shape with
    byte ranges standing in for a demuxer). The oracle replays the exact
    byte slicing on DuckDB's hex plane, so the fan-out, boundaries, and
    short-final-frame handling are value-checked, not just row-counted.
    Filters to ~1/17th of docs so the graded fan-out stays small."""
    from ..operators.multimodal import frame_sample

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 3)
    out = frame_sample(
        as_binary_column(docs), frame_bytes=64, every_k=4, max_frames=8
    )
    return out.orderBy("doc_id", "FRAME_IDX")


@query(
    "multimodal_features",
    tags=("untimed",),
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb,
         least(octet_length(encode(text)), 64) AS n
  FROM documents
),
s AS (
  SELECT b.doc_id, b.nb, b.n,
         COALESCE(SUM(
           (strpos('0123456789ABCDEF', substring(b.hx, g.i * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789ABCDEF', substring(b.hx, g.i * 2 + 2, 1)) - 1)
         ), 0) AS tot
  FROM b LEFT JOIN LATERAL (SELECT unnest(range(0, b.n)) AS i) g ON true
  GROUP BY b.doc_id, b.nb, b.n
)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
       CASE WHEN nb = 0 THEN 0.0 ELSE CAST(tot AS DOUBLE) / n END AS feat_mean,
       CAST(64 AS INT) AS feat_dim
FROM s
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str):
    """Arrow-batched feature extraction over binary payloads -- the
    multimodal decode hot path's plumbing (mapInPandas, narrow, no
    shuffle), with decode_stub standing in for the media decoder.
    It has a FULL oracle: the stub is a deterministic
    pure function of the bytes (n_bytes = len, feat_mean = mean of the
    first 64 byte values as an exact int/int -> double division), so the
    SQL replays it on the hex plane exactly as
    multimodal_decode_roundtrip already replays the PNG pixel sum. A
    real decoder (PIL/pyav) slots into the same signature and would
    flip this back to rows-only."""
    from ..operators.multimodal import map_in_pandas_features

    docs = read_table(spark, sf_dir, "documents")
    return map_in_pandas_features(as_binary_column(docs))


@query(
    "multimodal_decode_roundtrip",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         least(octet_length(encode(text)), 64) AS n
  FROM documents
),
s AS (
  SELECT b.doc_id,
         COALESCE(SUM(
           (strpos('0123456789ABCDEF', substring(b.hx, g.i * 2 + 1, 1)) - 1) * 16
           + (strpos('0123456789ABCDEF', substring(b.hx, g.i * 2 + 2, 1)) - 1)
         ), 0) AS tot
  FROM b LEFT JOIN LATERAL (SELECT unnest(range(0, b.n)) AS i) g ON true
  GROUP BY b.doc_id
)
SELECT doc_id, CAST(64 AS BIGINT) AS FEAT_DIM,
       CAST(tot * 15625 AS BIGINT) AS FEAT_MEAN_PPM
FROM s
""",
)
def q_multimodal_decode_roundtrip(spark: SparkSession, sf_dir: str):
    """REAL image decode, value-checked (not rows-only): each document's text bytes become the pixels of a valid
    grayscale PNG (multimodal.encode_png_gray, pure-stdlib container),
    the payload is DECODED back -- PIL when installed, the built-in PNG
    subset decoder otherwise (multimodal.decode_real) -- and the decoded
    mean intensity is emitted on an exact integer lattice: pixel sum S of
    an 8x8 image gives mean*1e6 = S*15625 exactly (64 = 2^6, so the
    double arithmetic is exact). The oracle replays the pixel sum on
    DuckDB's hex plane without any PNG machinery -- so a decoder bug
    (filter reconstruction, padding, truncation) is a VALUE mismatch, not
    a missing-row. Both encode and decode stages are Arrow-batched narrow
    maps; payload bytes never shuffle."""
    from ..operators.multimodal import (
        decode_real,
        map_in_pandas_features,
        synth_png_payloads,
    )

    docs = read_table(spark, sf_dir, "documents")
    feats = map_in_pandas_features(
        synth_png_payloads(docs), decoder=lambda p: decode_real(p, "image/png")
    )
    return feats.select(
        "doc_id",
        F.lit(64).cast("long").alias("FEAT_DIM"),
        F.round(F.col("feat_mean") * 1000000).cast("long").alias("FEAT_MEAN_PPM"),
    )


@query(
    "docs_regex_tokens",
    tags=("min2",),
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS N_BPE_TOKENS,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS N_ALPHA_TOKENS,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS N_DIGIT_TOKENS,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS N_PUNCT_TOKENS
FROM documents
""",
)
def q_docs_regex_tokens(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return text.regex_token_stats(docs).select(
        "doc_id", "N_BPE_TOKENS", "N_ALPHA_TOKENS", "N_DIGIT_TOKENS", "N_PUNCT_TOKENS"
    )


@query(
    "emb_cosine_dup_pairs",
    tags=("min2",),
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS CELL, v AS cv FROM e WHERE vec_id % 31 = 1),
scored AS (
  SELECT e.vec_id, cents.CELL,
         FLOOR((list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS sim
  FROM e, cents
),
cells AS (
  SELECT vec_id, CELL FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, CELL) = 1
)
SELECT a.vec_id AS ID_A, b.vec_id AS ID_B,
       FLOOR((list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))))
          * 1000000 + 0.5) / 1000000 AS COSINE
FROM cells a
JOIN cells b ON a.CELL = b.CELL AND a.vec_id < b.vec_id
JOIN e ea ON ea.vec_id = a.vec_id
JOIN e eb ON eb.vec_id = b.vec_id
WHERE FLOOR((list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))))
         * 1000000 + 0.5) / 1000000 >= 0.35
""",
)
def q_emb_cosine_dup_pairs(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 31 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.cosine_dup_pairs(emb, centroids, threshold=0.35)


@query(
    "emb_semantic_dedup",
    oracle="""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS CELL, v AS cv FROM e WHERE vec_id % 31 = 1),
scored AS (
  SELECT e.vec_id, cents.CELL,
         FLOOR((list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS sim
  FROM e, cents
),
cells AS (
  SELECT vec_id, CELL FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, CELL) = 1
),
losers AS (
  SELECT DISTINCT b.vec_id AS ID_B
  FROM cells a
  JOIN cells b ON a.CELL = b.CELL AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE FLOOR((list_dot_product(ea.v, eb.v)
              / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))))
           * 1000000 + 0.5) / 1000000 >= 0.35
)
SELECT e.vec_id, e.label
FROM e LEFT JOIN losers ON e.vec_id = losers.ID_B
WHERE losers.ID_B IS NULL
""",
)
def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str):
    """SemDeDup survivors (arXiv:2303.09540): IVF-cell-blocked cosine
    pairs + greedy min-id survivorship. Shares the emb_cosine_dup_pairs
    blocking; the oracle replays the pair stream and anti-joins the
    distinct higher-id ends."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 31 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.semantic_dedup(emb, centroids, threshold=0.35).select("vec_id", "label")


@query("emb_cosine_topk_fast", tags=("min2",), oracle=_COSINE_TOPK_ORACLE)
def q_emb_cosine_topk_fast(spark: SparkSession, sf_dir: str):
    """Arrow/numpy mapInPandas fast path for exact top-k, graded against
    the SAME oracle as the expression form (not rows-only): the fast path rounds cosines to 6 dp before any selection
    and resolves partition-boundary ties by id, so its decisions -- not
    just its values -- replay the declarative ranking exactly."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk_fast(emb, queries, k=5)
    return out.withColumn("NEIGHBOR_RANK", F.col("RANK").cast("long")).drop("RANK")


# --- benchmark decontamination / data-mix sampling / vocabulary profiling
# (operators/decontam.py, sampling.stratified_hash_sample, text.vocab_stats)


@query(
    "docs_decontaminate",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_NE} AS t FROM documents),
ng AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+2], ' ')) AS h
  FROM tok, UNNEST(range(1, len(t)-1)) AS u(i)
  WHERE len(t) >= 3
),
bench AS (SELECT DISTINCT h FROM ng WHERE doc_id % 97 = 0),
hits AS (
  SELECT ng.doc_id, count(*) AS n
  FROM ng JOIN bench USING (h)
  WHERE ng.doc_id % 97 <> 0
  GROUP BY 1
)
SELECT d.doc_id AS DOC_ID,
       CAST(COALESCE(hits.n, 0) AS BIGINT) AS N_HIT_NGRAMS,
       COALESCE(hits.n, 0) > 0 AS CONTAMINATED
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
WHERE d.doc_id % 97 <> 0
""",
)
def q_docs_decontaminate(spark: SparkSession, sf_dir: str):
    """Test-set-overlap check before training: corpus docs sharing any word
    3-gram with the benchmark subset (doc_id % 97 == 0) are flagged, with
    the count of distinct overlapping grams. n=3 because the synthetic docs
    are short random-word strings; real pipelines use 8-13 (GPT-3 app. C).
    Benchmark gram set broadcasts; corpus side never shuffles pre-count."""
    from ..operators.decontam import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, n=3).select(
        F.col("doc_id").alias("DOC_ID"), "N_HIT_NGRAMS", "CONTAMINATED"
    )


@query(
    "docs_stratified_sample",
    tags=("untimed",),
    oracle="""
SELECT doc_id AS DOC_ID, lang AS LANG
FROM documents
WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|mix1'), 1, 8) <
      CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000' ELSE '19999999' END
""",
)
def q_docs_stratified_sample(spark: SparkSession, sf_dir: str):
    """Data-mix rebalancing: keep 50% of en, 25% of de, 10% of every other
    language, membership decided by md5 of the doc key -- reproducible at
    any cluster size and re-derivable by any engine. One CASE-compiled
    comparison per row in the scan stage; no shuffle, no join."""
    from ..operators.sampling import stratified_hash_sample

    docs = read_table(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs, "lang", {"en": 0.5, "de": 0.25}, ["doc_id"], default_fraction=0.1, seed="mix1"
    )
    return out.select(F.col("doc_id").alias("DOC_ID"), F.col("lang").alias("LANG"))


@query(
    "docs_heavy_hitters",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOKS_NE}) AS TOKEN FROM documents),
tc AS (SELECT TOKEN, COUNT(*) AS N FROM tok GROUP BY 1),
tot AS (SELECT SUM(N) AS n FROM tc)
SELECT TOKEN, CAST(tc.N AS BIGINT) AS N, {sql_rhu("tc.N / tot.n", 6)} AS SHARE
FROM tc, tot WHERE tc.N * 400 >= tot.n
""",
)
def q_docs_heavy_hitters(spark: SparkSession, sf_dir: str):
    """Exact corpus heavy hitters: tokens with >= 1/400 of all occurrences.
    Integer threshold compare (n*denom >= total) -- no float boundary; the
    single-row total broadcasts. The mergeable streaming/sharded form is
    text.mg_token_summary/mg_merge (Misra-Gries, PODS'12 bounds pinned in
    tests/test_text.py)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.heavy_hitters(docs, denom=400)


@query(
    "docs_vocab_topk",
    tags=("untimed",),
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_NE}) AS TOKEN FROM documents),
per AS (SELECT doc_id, TOKEN, count(*) AS tf FROM tok GROUP BY 1, 2)
SELECT TOKEN,
       CAST(SUM(tf) AS BIGINT) AS TERM_FREQ,
       CAST(COUNT(*) AS BIGINT) AS DOC_FREQ
FROM per
GROUP BY TOKEN
ORDER BY DOC_FREQ DESC, TOKEN
LIMIT 50
""",
)
def q_docs_vocab_topk(spark: SparkSession, sf_dir: str):
    """Corpus vocabulary profile: top-50 tokens by document frequency with
    term frequencies -- the first step of vocab/BPE construction. Two-level
    aggregation so the exploded token stream collapses map-side before the
    single shuffle on token."""
    return text.vocab_stats(read_table(spark, sf_dir, "documents"), top_k=50)


@query(
    "docs_quality_filter",
    tags=("untimed",),
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_NE} AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({_STOPLIST}, t))) / len(toks)
              ELSE 0.0 END AS stop_ratio,
         least(len(toks) / 200.0, 1.0) AS len_score
  FROM t
),
scored AS (
  SELECT doc_id, lang,
         FLOOR((0.7 * len_score + 0.3 * stop_ratio) * 1000000 + 0.5) / 1000000 AS QUALITY_SCORE
  FROM s
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY QUALITY_SCORE DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM scored
)
SELECT doc_id AS DOC_ID, lang AS LANG, QUALITY_SCORE
FROM r WHERE rn <= CEIL(cnt * 0.5)
""",
)
def q_docs_quality_filter(spark: SparkSession, sf_dir: str):
    """Corpus quality filter: keep the top half of each language by quality
    score. Rank-based cut (not a percentile threshold) so the boundary is
    interpolation-free and deterministic in any engine."""
    docs = read_table(spark, sf_dir, "documents")
    out = text.quality_top_fraction(docs, fraction=0.5)
    return out.select(
        F.col("doc_id").alias("DOC_ID"), F.col("lang").alias("LANG"), "QUALITY_SCORE"
    )


@query("docs_pack_sequences")  # no oracle: greedy next-fit is sequential per shard
def q_docs_pack_sequences(spark: SparkSession, sf_dir: str):
    """Sequence packing into 512-token packs (rows-only check; budget and
    determinism invariants are unit-tested in test_packing)."""
    from ..operators.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    sized = text.token_stats(docs).select("doc_id", "N_TOKENS")
    return pack_sequences(sized, budget=512, num_shards=8)


# winnowing fingerprint CTE chain (k=5, w=4), shared by the fingerprint
# dump and the overlap-pair query
_WINNOW_FP_SQL = f"""norm AS (SELECT doc_id, {_NORM} AS s FROM documents),
pos AS (
  SELECT doc_id, i,
         ((((CAST(ascii(s[i+0:i+0]) AS BIGINT) * 923521) % 2147483648 + (CAST(ascii(s[i+1:i+1]) AS BIGINT) * 29791) % 2147483648 + (CAST(ascii(s[i+2:i+2]) AS BIGINT) * 961) % 2147483648 + (CAST(ascii(s[i+3:i+3]) AS BIGINT) * 31) % 2147483648 + (CAST(ascii(s[i+4:i+4]) AS BIGINT) * 1) % 2147483648) % 2147483648) * 2654435761) % 4294967296 AS h
  FROM norm, UNNEST(range(1, len(s)-5+2)) AS u(i)
  WHERE len(s) >= 5
),
win AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
  FROM pos
),
wfp AS (SELECT DISTINCT doc_id AS DOC_ID, mh AS FP_HASH FROM win WHERE c = 4)"""


@query(
    "docs_winnow_fingerprints",
    oracle=f"""
WITH {_WINNOW_FP_SQL}
SELECT DOC_ID, FP_HASH FROM wfp
""",
)
def q_docs_winnow_fingerprints(spark: SparkSession, sf_dir: str):
    """Winnowing (rolling k-gram hash, window-min selection) fingerprint
    sets: any shared substring of length >= k+w-1 = 8 chars yields a shared
    fingerprint, enabling partial-overlap detection by equi-join."""
    from ..operators.dedup import winnow_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    out = winnow_fingerprints(docs, k=5, w=4)
    return out.select(F.col("doc_id").alias("DOC_ID"), "FP_HASH")


# k=10 token-segment hash CTE chain, shared by segment_dedup and
# repeated_segment_share
_SEG_HASH_SQL = f"""tok AS (
  SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok
  FROM (SELECT doc_id, {_TOKS_NE} AS t FROM documents), UNNEST(range(1, len(t)+1)) AS u(i)
),
seg AS (
  SELECT doc_id, CAST(pos // 10 AS BIGINT) AS SEG_IDX,
         string_agg(tok, ' ' ORDER BY pos) AS seg_text
  FROM tok GROUP BY 1, 2
),
h AS (SELECT doc_id, SEG_IDX, md5(seg_text) AS SEG_HASH FROM seg)"""


@query(
    "docs_segment_dedup",
    oracle=f"""
WITH {_SEG_HASH_SQL}
SELECT doc_id, SEG_IDX, SEG_HASH,
       CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY SEG_HASH ORDER BY doc_id, SEG_IDX) = 1
                 THEN 1 ELSE 0 END AS INT) AS KEEP
FROM h
""",
)
def q_docs_segment_dedup(spark: SparkSession, sf_dir: str):
    """Sub-document (segment/paragraph) exact dedup: fixed 10-token chunks
    fingerprinted corpus-wide, first occurrence kept -- the C4-style
    boilerplate-paragraph removal mechanism (operators/dedup.py
    segment_dedup)."""
    from ..operators.dedup import segment_dedup

    docs = read_table(spark, sf_dir, "documents")
    return segment_dedup(docs, k=10)


def _pii_oracle_sql() -> str:
    """Oracle dual of text.scrub_pii over deterministically-injected PII:
    the same placeholder chain built from the SAME pattern table (single
    source of truth), with RE2-vs-Java-regex-portable syntax only and
    DuckDB's 'g' flag matching Spark's replace-all default."""
    expr = "injected"
    for name, pat in text.PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '<{name}>', 'g')"
    return f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
              || ' tel +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end' AS injected
  FROM documents
)
SELECT doc_id, {expr} AS SCRUBBED FROM t
"""


@query("docs_pii_scrub", oracle=_pii_oracle_sql())
def q_docs_pii_scrub(spark: SparkSession, sf_dir: str):
    """PII redaction parity: emails/IPs/phones injected deterministically
    per doc (the fixture corpus carries none), scrubbed to typed
    placeholders by the codegen regexp_replace chain (text.scrub_pii).
    Both engines build the identical input string, so the hash check
    pins cross-engine regex semantics, not just no-op passthrough."""
    docs = read_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com tel +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 end"),
        ).alias("text"),
    )
    return text.scrub_pii(injected).select("doc_id", "SCRUBBED")


@query(
    "docs_curation_pipeline",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_NORM} AS norm, {_TOKS_NE} AS toks FROM documents),
scored AS (
  SELECT doc_id, lang, norm, toks,
         FLOOR((0.7 * least(len(toks) / 200.0, 1.0)
                + 0.3 * CASE WHEN len(toks) > 0
                             THEN len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) / len(toks)
                             ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS QUALITY_SCORE
  FROM t WHERE doc_id % 97 <> 0
),
quality AS (
  SELECT * FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY QUALITY_SCORE DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS cnt
    FROM scored
  ) WHERE rn <= CEIL(cnt * 0.5)
),
deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS dk
    FROM quality
  ) WHERE dk = 1
),
bench_ng AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i+2], ' ')) AS h
  FROM t, UNNEST(range(1, len(toks)-1)) AS u(i)
  WHERE doc_id % 97 = 0 AND len(toks) >= 3
),
contaminated AS (
  SELECT DISTINCT d.doc_id
  FROM deduped d, UNNEST(range(1, len(d.toks)-1)) AS u(i)
  JOIN bench_ng ON md5(array_to_string(d.toks[i:i+2], ' ')) = bench_ng.h
  WHERE len(d.toks) >= 3
)
SELECT doc_id AS DOC_ID, lang AS LANG, QUALITY_SCORE
FROM deduped
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
  AND SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|mix1'), 1, 8) <
      CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000' ELSE '19999999' END
""",
)
def q_docs_curation_pipeline(spark: SparkSession, sf_dir: str):
    """Flagship composite: the four curation stages a training-data build
    chains -- per-language quality filtering (top half), exact dedup (min-id
    survivor), benchmark decontamination (3-gram overlap vs the eval
    subset), stratified mix sampling -- composed as one declarative plan.
    Catalyst pipelines the stages: the quality window and dedup window
    reuse the same scan, the benchmark gram set broadcasts, and the mix
    filter is a scan-stage CASE."""
    from ..curation import CurationConfig, curate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    mixed = curate(corpus, bench, CurationConfig())
    return mixed.select(
        F.col("doc_id").alias("DOC_ID"), F.col("lang").alias("LANG"), "QUALITY_SCORE"
    )


@query(
    "emb_kmeans_update",
    tags=("min2",),
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS CELL, v AS cv FROM e WHERE vec_id % 31 = 1),
scored AS (
  SELECT e.vec_id, cents.CELL,
         FLOOR((list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS sim
  FROM e, cents
),
assign AS (
  SELECT vec_id, CELL FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, CELL) = 1
),
ex AS (
  SELECT a.CELL, u.i - 1 AS DIM, e.v[u.i] AS x
  FROM assign a JOIN e USING (vec_id), UNNEST(range(1, len(e.v)+1)) AS u(i)
)
SELECT CELL, CAST(DIM AS INT) AS DIM, CAST(COUNT(*) AS BIGINT) AS N_MEMBERS,
       FLOOR((CAST(SUM(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS CENTROID_VAL
FROM ex GROUP BY CELL, DIM
""",
)
def q_emb_kmeans_update(spark: SparkSession, sf_dir: str):
    """One Lloyd/k-means centroid update (IVF training step): nearest-
    centroid assignment then per-cell elementwise means with DECIMAL
    sums, so the trained centroids are bit-reproducible at any
    partitioning -- the property that makes a distributed k-means
    restartable."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 31 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.kmeans_update(emb, centroids)


@query(
    "docs_bm25_topk",
    oracle=f"""
WITH b2 AS (SELECT doc_id, CAST(len({_TOKS_NE}) AS DOUBLE) AS dl, {_TOKS_NE} AS toks FROM documents),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM b2),
hits AS (
  SELECT doc_id, dl, TERM, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS TERM FROM b2)
  WHERE TERM IN ('table', 'scan', 'fast')
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT TERM, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfx FROM hits GROUP BY 1),
per AS (
  SELECT h.doc_id,
         h.TERM,
         ln(1.0 + (s.n - d.dfx + 0.5) / (d.dfx + 0.5))
           * (h.tf * 2.2) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / s.avgdl)) AS sc
  FROM hits h JOIN dfreq d USING (TERM), stats s
),
agg AS (
  SELECT doc_id,
         SUM(CASE WHEN TERM = 'table' THEN sc END) AS s0,
         SUM(CASE WHEN TERM = 'scan' THEN sc END) AS s1,
         SUM(CASE WHEN TERM = 'fast' THEN sc END) AS s2
  FROM per GROUP BY doc_id
)
SELECT doc_id,
       FLOOR((COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0)) * 1000000 + 0.5) / 1000000 AS SCORE
FROM agg
ORDER BY SCORE DESC, doc_id
LIMIT 10
""",
)
def q_docs_bm25_topk(spark: SparkSession, sf_dir: str):
    """BM25 keyword retrieval over the corpus for a fixed 3-term query:
    one token explode filtered to the query bag before any shuffle,
    broadcast df/global stats, fixed-order per-term score addition so the
    ranking is engine-portable."""
    docs = read_table(spark, sf_dir, "documents")
    return text.bm25_topk(docs, ["table", "scan", "fast"], k=10)


@query(
    "docs_encode_ids",
    oracle=f"""
WITH per AS (
  SELECT doc_id, TOKEN
  FROM (SELECT doc_id, unnest({_TOKS_NE}) AS TOKEN FROM documents)
  GROUP BY 1, 2
),
vocab AS (
  SELECT TOKEN, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, TOKEN) - 1 AS TOKEN_ID
  FROM per GROUP BY TOKEN
  ORDER BY COUNT(*) DESC, TOKEN LIMIT 50
),
tok AS (
  SELECT doc_id, u.i AS pos, t[u.i] AS TOKEN
  FROM (SELECT doc_id, {_TOKS_NE} AS t FROM documents), UNNEST(range(1, len(t)+1)) AS u(i)
),
enc AS (
  SELECT tok.doc_id, list(COALESCE(v.TOKEN_ID, -1) ORDER BY tok.pos) AS TOKEN_IDS
  FROM tok LEFT JOIN vocab v USING (TOKEN)
  GROUP BY tok.doc_id
)
SELECT d.doc_id,
       COALESCE(array_to_string(enc.TOKEN_IDS, ','), '') AS TOKEN_IDS_STR,
       CAST(len(COALESCE(enc.TOKEN_IDS, []::BIGINT[])) AS BIGINT) AS N_TOKENS
FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id
""",
)
def q_docs_encode_ids(spark: SparkSession, sf_dir: str):
    """Token-ID encoding against the corpus top-50 vocabulary (OOV -> -1):
    the tokenize->encode step feeding sequence packing. Vocabulary ids are
    deterministic (df-desc, token tiebreak); position order is restored
    via array_sort(collect_list(struct(pos, id))).

    The graded output flattens TOKEN_IDS to a comma-joined string
    (TOKEN_IDS_STR) so the driver's pandas canonicalizer can hash it; the
    array-producing ``text.encode_token_ids`` API is unchanged for the
    sequence-packing consumer."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    vocab = text.vocab_stats(docs, top_k=50).withColumn(
        "TOKEN_ID",
        F.row_number().over(
            Window.orderBy(F.col("DOC_FREQ").desc(), F.col("TOKEN"))
        ) - 1,
    )
    enc = text.encode_token_ids(docs, vocab)
    return enc.select(
        "doc_id",
        F.array_join(F.col("TOKEN_IDS").cast("array<string>"), ",").alias(
            "TOKEN_IDS_STR"
        ),
        "N_TOKENS",
    )


@query(
    "docs_weighted_sample",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_NE} AS toks FROM documents),
scored AS (
  SELECT doc_id, lang,
         FLOOR((0.7 * least(len(toks) / 200.0, 1.0)
                + 0.3 * CASE WHEN len(toks) > 0
                             THEN len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) / len(toks)
                             ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS QUALITY_SCORE
  FROM t
)
SELECT doc_id AS DOC_ID, lang AS LANG, QUALITY_SCORE
FROM scored
WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|wq1'), 1, 8) <
      LPAD(LOWER(TO_HEX(LEAST(CAST(FLOOR(QUALITY_SCORE * 4294967296.0) AS BIGINT), 4294967295))), 8, '0')
""",
)
def q_docs_weighted_sample(spark: SparkSession, sf_dir: str):
    """Quality-proportional corpus downsampling: each doc kept with
    probability equal to its quality score, via the md5 key draw --
    reproducible, partitioning-independent, monotone in the weight."""
    from ..operators.sampling import weighted_hash_sample

    docs = read_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs)
    out = weighted_hash_sample(scored, "QUALITY_SCORE", ["doc_id"], seed="wq1")
    return out.select(
        F.col("doc_id").alias("DOC_ID"), F.col("lang").alias("LANG"), "QUALITY_SCORE"
    )


@query(
    "docs_per_source_sample",
    oracle="""
WITH h AS (
  SELECT doc_id, source,
         SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|ps7'), 1, 8) AS hx
  FROM documents
)
SELECT doc_id, source FROM h
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY hx, doc_id) <= 20
""",
)
def q_docs_per_source_sample(spark: SparkSession, sf_dir: str):
    """Balanced per-source subset: exactly min(20, |source|) docs per
    source by md5 hash rank -- the fixed-SIZE sampling counterpart of the
    fixed-fraction stratified draw. Spark's WindowGroupLimit pushdown
    filters map partitions to their local top-20 before the shuffle."""
    from ..operators.sampling import group_top_k_sample

    docs = read_table(spark, sf_dir, "documents")
    return group_top_k_sample(
        docs.select("doc_id", "source"), ["source"], ["doc_id"], k=20, seed="ps7"
    )


@query(
    "docs_temperature_mix",
    oracle=f"""
WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
d AS (SELECT SUM(POW(n, 0.5)) AS den FROM c),
fr AS (
  SELECT source, {sql_rhu("LEAST(1.0, 300.0 * POW(c.n, 0.5) / d.den / c.n)", 6)} AS KEEP_FRAC
  FROM c, d
)
SELECT doc_id, fr.source, fr.KEEP_FRAC
FROM documents JOIN fr USING (source)
WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|tm1'), 1, 8) <
      LPAD(LOWER(TO_HEX(LEAST(CAST(FLOOR(KEEP_FRAC * 4294967296.0) AS BIGINT), 4294967295))), 8, '0')
""",
)
def q_docs_temperature_mix(spark: SparkSession, sf_dir: str):
    """Temperature-smoothed source mixing (sampling.temperature_mix,
    alpha=0.5): sources kept in proportion to n^alpha -- the
    exponent-smoothed multinomial that stops head sources drowning tail
    ones in a pretraining mix. Tiny per-source count agg -> broadcast
    keep-fraction -> the same md5 scan-stage draw as every sampler here."""
    from ..operators.sampling import temperature_mix

    docs = read_table(spark, sf_dir, "documents")
    out = temperature_mix(
        docs.select("doc_id", "source"),
        "source",
        ["doc_id"],
        alpha=0.5,
        target_rows=300,
        seed="tm1",
    )
    return out.select("doc_id", "source", "KEEP_FRAC")


def _rp_oracle_sql(planes: int = 16, dim: int = 64, seed: str = "rp0") -> str:
    """Oracle dual of rp_lsh_signature, generated from the SAME Python
    constants (similarity.rp_constants) the Spark expression embeds."""
    consts = similarity.rp_constants(planes, dim, seed)
    bits = []
    for p, row in enumerate(consts):
        dot_p = " + ".join(f"v[{d + 1}] * {c!r}" for d, c in enumerate(row))
        bits.append(f"CASE WHEN ({dot_p}) > 0 THEN {1 << p} ELSE 0 END")
    sig = " + ".join(bits)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, CAST({sig} AS BIGINT) AS RP_SIG FROM e
"""


@query("emb_rp_lsh_signature", tags=("untimed",), oracle=_rp_oracle_sql())
def q_emb_rp_lsh_signature(spark: SparkSession, sf_dir: str):
    """Random-hyperplane LSH signatures for cosine (the LSH-bucketed
    complement to the IVF index): 16 deterministic hyperplanes, bit-exact
    in both engines because the coefficients are shared Python-generated
    literals."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.rp_lsh_signature(emb)


def _rp_pairs_oracle_sql(planes: int = 16, dim: int = 64, seed: str = "rp0") -> str:
    """Oracle dual of rp_lsh_dup_pairs at max_hamming=1: the signature CTE
    (same shared literals) self-joined with an explicit popcount bound --
    banding is a pure candidate-generation device with exact recall, so the
    oracle can skip it and filter all pairs directly."""
    sig_sql = _rp_oracle_sql(planes, dim, seed).strip().rstrip()
    return f"""
WITH sigs AS ({sig_sql})
SELECT a.vec_id AS ID_A, b.vec_id AS ID_B,
       CAST(bit_count(xor(a.RP_SIG, b.RP_SIG)) AS BIGINT) AS HAMMING
FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
WHERE bit_count(xor(a.RP_SIG, b.RP_SIG)) <= 1
"""


@query("emb_rp_dup_pairs", tags=("untimed",), oracle=_rp_pairs_oracle_sql())
def q_emb_rp_dup_pairs(spark: SparkSession, sf_dir: str):
    """Embedding near-dup pairs at RP-signature Hamming <= 1: banded
    equi-join candidates (exact recall by pigeonhole with 2 bands),
    bit_count(xor) verify. The oracle filters all pairs directly --
    banding only generates candidates, so the result sets must match
    exactly."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.rp_lsh_dup_pairs(emb)


@query(
    "emb_int8_quantize",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) AS amax
  FROM v
)
SELECT vec_id AS VEC_ID,
       amax AS AMAX,
       CASE WHEN amax = 0
            THEN array_to_string(list_transform(e, x -> '0'), ',')
            ELSE array_to_string(
                   list_transform(e, x -> CAST(CAST(floor(x * 127 / amax + 0.5) AS BIGINT) AS VARCHAR)),
                   ',')
       END AS Q_STR
FROM s
""",
)
def q_emb_int8_quantize(spark: SparkSession, sf_dir: str):
    """Int8 vector quantization (similarity.int8_quantize), graded on the
    string-joined codes (the canonicalizer cannot hash array cells -- same
    representation trick as docs_encode_ids). floor(x+0.5) arithmetic makes
    the codes bit-identical across engines."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = similarity.int8_quantize(emb)
    return q.select(
        F.col("vec_id").alias("VEC_ID"),
        "AMAX",
        F.array_join(F.transform("Q", lambda x: x.cast("string")), ",").alias("Q_STR"),
    )


@query(
    "docs_token_budget_mix",
    oracle="""
WITH base AS (
  SELECT doc_id, source, n_chars,
         substring(md5(CAST(doc_id AS VARCHAR) || '|s9'), 1, 8) AS h,
         substring(md5(CAST(doc_id AS VARCHAR) || '|s9'), 1, 3) AS b
  FROM documents
),
hist AS (
  SELECT source, b, SUM(n_chars) AS toks FROM base GROUP BY 1, 2
),
c AS (
  SELECT source, b, toks,
         COALESCE(SUM(toks) OVER (PARTITION BY source ORDER BY b
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
         CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 6000
                     WHEN 'src2' THEN 100000 WHEN 'src3' THEN 2500
                     ELSE 0 END AS budget
  FROM hist
),
cls AS (
  SELECT source, b,
         CASE WHEN bef + toks <= budget THEN 'full'
              WHEN bef < budget THEN 'part'
              ELSE 'none' END AS cl,
         budget - bef AS rem
  FROM c
),
part_rows AS (
  SELECT base.doc_id, base.source, base.n_chars, cls.rem,
         SUM(base.n_chars) OVER (PARTITION BY base.source, base.b
                                 ORDER BY base.h, CAST(base.doc_id AS VARCHAR)
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM base JOIN cls ON base.source = cls.source AND base.b = cls.b AND cls.cl = 'part'
)
SELECT base.doc_id AS DOC_ID, base.source AS SOURCE,
       CAST(base.n_chars AS BIGINT) AS N_TOKENS
FROM base JOIN cls ON base.source = cls.source AND base.b = cls.b AND cls.cl = 'full'
UNION ALL
SELECT doc_id, source, CAST(n_chars AS BIGINT) FROM part_rows WHERE cum <= rem
""",
)
def q_docs_token_budget_mix(spark: SparkSession, sf_dir: str):
    """Token-budget data mixing (sampling.token_budget_mix): per-source
    budgets filled by deterministic hash-order prefix via bucket-histogram
    threshold-finding -- no global sort, no corpus key-shuffle. Budgets
    exercise every class: src0/src1 partial, src2 takes-all (budget above
    the source's total), src3 small, all other sources unlisted -> 0."""
    from ..operators.sampling import token_budget_mix

    docs = read_table(spark, sf_dir, "documents")
    mixed = token_budget_mix(
        docs,
        token_col="n_chars",
        budgets={"src0": 4000, "src1": 6000, "src2": 100000, "src3": 2500},
        source_col="source",
        key_cols=["doc_id"],
        seed="s9",
    )
    return mixed.select(
        F.col("doc_id").alias("DOC_ID"),
        F.col("source").alias("SOURCE"),
        F.col("n_chars").cast("long").alias("N_TOKENS"),
    )


@query(
    "docs_intra_doc_dedup",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_NE} AS t FROM documents),
seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(t[(i*5+1):(i*5+5)], ' ') AS s
  FROM tok, UNNEST(range(0, CAST(ceil(len(t) / 5.0) AS BIGINT))) AS u(i)
  WHERE len(t) > 0
),
firsts AS (SELECT doc_id, s, MIN(seg_idx) AS seg_idx FROM seg GROUP BY 1, 2),
re AS (
  SELECT doc_id, string_agg(s, ' ' ORDER BY seg_idx) AS CLEAN_TEXT,
         COUNT(*) AS kept
  FROM firsts GROUP BY 1
),
tot AS (SELECT doc_id, COUNT(*) AS n FROM seg GROUP BY 1)
SELECT re.doc_id AS DOC_ID, re.CLEAN_TEXT,
       CAST(tot.n AS BIGINT) AS N_SEGMENTS,
       CAST(tot.n - re.kept AS BIGINT) AS N_DUP_SEGMENTS
FROM re JOIN tot ON re.doc_id = tot.doc_id
""",
)
def q_docs_intra_doc_dedup(spark: SparkSession, sf_dir: str):
    """Within-document repeated-segment removal (k=5 token chunks) with
    order-preserving text reassembly (dedup.dedup_segments_within_doc).
    The synthetic corpus's small vocabulary guarantees real intra-doc
    repeats, so N_DUP_SEGMENTS is nonzero and CLEAN_TEXT actually shrinks."""
    docs = read_table(spark, sf_dir, "documents")
    out = dedup.dedup_segments_within_doc(docs, k=5)
    return out.select(
        F.col("doc_id").alias("DOC_ID"), "CLEAN_TEXT", "N_SEGMENTS", "N_DUP_SEGMENTS"
    )


@query(
    "docs_unigram_logprob",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_NE}) AS tk FROM documents),
freq AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM freq),
s AS (
  SELECT tok.doc_id,
         {sql_rhu("ln(tot.total) - ln(freq.cnt)", 9)} AS srp
  FROM tok JOIN freq USING (tk), tot
)
SELECT doc_id AS DOC_ID,
       CAST(COUNT(*) AS BIGINT) AS N_TOKENS,
       {sql_rhu("CAST(SUM(CAST(srp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)", 6)}
         AS AVG_NEG_LOGPROB
FROM s GROUP BY 1
""",
)
def q_docs_unigram_logprob(spark: SparkSession, sf_dir: str):
    """CCNet-style unigram-LM surprisal per document (text.unigram_logprob):
    corpus-trained token frequencies, mean -ln p over occurrences. Ranked
    high = rare-token/noisy docs. Per-token surprisal rounded then summed
    as exact decimal so the mean is accumulation-order-independent."""
    docs = read_table(spark, sf_dir, "documents")
    out = text.unigram_logprob(docs)
    return out.select(
        F.col("doc_id").alias("DOC_ID"),
        F.col("N_TOKENS").cast("long").alias("N_TOKENS"),
        "AVG_NEG_LOGPROB",
    )


@query(
    "docs_bpe_pair_counts",
    tags=("untimed",),
    oracle=f"""
WITH words AS (
  SELECT unnest({_TOKS_NE}) AS w FROM documents
),
wc AS (SELECT w, COUNT(*) AS n FROM words GROUP BY 1),
pairs AS (
  SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r, n
  FROM wc, UNNEST(range(1, length(w))) AS u(i)
  WHERE length(w) >= 2
)
SELECT l AS LEFT_SYM, r AS RIGHT_SYM, CAST(SUM(n) AS BIGINT) AS N_PAIRS
FROM pairs GROUP BY 1, 2
""",
)
def q_docs_bpe_pair_counts(spark: SparkSession, sf_dir: str):
    """BPE training's counting step made observable: adjacent
    character-pair frequencies over the distinct-word table, weighted by multiplicity
    (text.bpe_pair_counts). The iterative trainer (text.bpe_train) builds
    on this count step; its merge sequence is pinned against an
    independent reference implementation in tests/test_text.py."""
    docs = read_table(spark, sf_dir, "documents")
    wc = text.bpe_word_counts(docs)
    return text.bpe_pair_counts(wc)


@query(
    "docs_incremental_dedup",
    oracle=f"""
WITH fp AS (SELECT doc_id, source, md5({_NORM}) AS FINGERPRINT FROM documents),
index_fp AS (SELECT DISTINCT FINGERPRINT FROM fp WHERE doc_id % 3 = 0),
batch AS (SELECT * FROM fp WHERE doc_id % 3 <> 0),
batch_first AS (
  SELECT * FROM batch
  QUALIFY ROW_NUMBER() OVER (PARTITION BY FINGERPRINT ORDER BY doc_id) = 1
)
SELECT b.doc_id AS DOC_ID, b.source AS SOURCE, b.FINGERPRINT
FROM batch_first b ANTI JOIN index_fp i ON b.FINGERPRINT = i.FINGERPRINT
""",
)
def q_docs_incremental_dedup(spark: SparkSession, sf_dir: str):
    """Incremental corpus dedup (dedup.exact_dedup_incremental): docs with
    doc_id%3==0 play the persisted fingerprint index; the rest arrive as
    the incoming batch, deduped within itself (min-id survivor) and
    against the index -- the delivery-sized refresh path, no corpus
    rescan."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    index = dedup.fingerprint(docs.filter(F.col("doc_id") % 3 == 0))
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup.exact_dedup_incremental(batch, index)
    return out.select(
        F.col("doc_id").alias("DOC_ID"), F.col("source").alias("SOURCE"), "FINGERPRINT"
    )


@query("docs_incremental_near_dedup")  # rows-only: MinHash probabilistic, like docs_minhash_lsh_pairs
def q_docs_incremental_near_dedup(spark: SparkSession, sf_dir: str):
    """Incremental NEAR-dup dedup (dedup.minhash_dedup_incremental): docs
    with doc_id%3==0 play the persisted LSH band index; the rest arrive as
    the batch, admitted only if near-duplicate of neither an indexed doc
    nor a smaller-id batch doc. The delivery-sized refresh path for the
    near-dup ladder -- the indexed corpus is never re-shingled. Rows-only:
    minhash banding is probabilistic; admission invariants are pinned in
    tests/test_dedup.py."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ib, ih = dedup.minhash_index(docs.filter(F.col("doc_id") % 3 == 0))
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup.minhash_dedup_incremental(batch, ib, ih, threshold=0.9)
    return out.select("doc_id")


# --- Product quantization (similarity.pq_*): shared-literal oracles --------
_PQ_M, _PQ_K, _PQ_DSUB = 4, 8, 16


def _pq_cb_values() -> str:
    """The pq_constants codebook as a DuckDB VALUES relation -- the same
    Python-generated literals the Spark codebook frame carries, so every
    distance (and so every argmin and ADC sum) matches bit-for-bit."""
    consts = similarity.pq_constants(_PQ_M, _PQ_K, _PQ_DSUB)
    rows = ",\n".join(
        "(" + ",".join([str(s), str(c)] + [repr(v) for v in consts[s][c]]) + ")"
        for s in range(_PQ_M)
        for c in range(_PQ_K)
    )
    cols = ",".join(["SUB", "CODE"] + [f"C{d}" for d in range(_PQ_DSUB)])
    return f"(VALUES\n{rows}) AS cb({cols})"


def _pq_dist_sql(vec: str) -> str:
    """Left-to-right squared-L2 chain between ``vec``'s SUB-th slice and
    the cb row -- the exact add order of similarity._pq_sub_dist."""
    terms = " + ".join(
        f"(({vec}[cb.SUB*{_PQ_DSUB} + {d + 1}] - cb.C{d}) * ({vec}[cb.SUB*{_PQ_DSUB} + {d + 1}] - cb.C{d}))"
        for d in range(_PQ_DSUB)
    )
    return sql_rhu(terms, 6)


def _pq_enc_cte() -> str:
    return f"""
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
scored AS (
  SELECT e.vec_id, cb.SUB, cb.CODE, {_pq_dist_sql("e.v")} AS dist
  FROM e, {_pq_cb_values()}
),
enc AS (
  SELECT vec_id, CAST(SUB AS INT) AS SUB, CAST(CODE AS INT) AS CODE FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, SUB ORDER BY dist, CODE) = 1
)"""


@query("emb_pq_encode", oracle=f"WITH {_pq_enc_cte()}\nSELECT vec_id, SUB, CODE FROM enc")
def q_emb_pq_encode(spark: SparkSession, sf_dir: str):
    """Product-quantization encoding (Jegou et al., TPAMI 2011): each
    64-dim vector compresses to 4 subspace codes against a deterministic
    32-entry codebook -- long form (vec_id, SUB, CODE). The codebook is a
    broadcast DATA frame (never plan literals), the per-row distance is a
    16-term codegen chain, the argmin a map-side-combinable min_by; the
    oracle replays the identical literals and add order."""
    emb = read_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook_df(spark, similarity.pq_constants(_PQ_M, _PQ_K, _PQ_DSUB))
    return similarity.pq_encode(emb, cb)


@query(
    "emb_pq_adc_topk",
    oracle=f"""
WITH {_pq_enc_cte()},
q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
lut AS (
  SELECT q.vec_id AS QUERY_ID, cb.SUB, cb.CODE, {_pq_dist_sql("q.v")} AS part
  FROM q, {_pq_cb_values()}
),
adc AS (
  SELECT lut.QUERY_ID, enc.vec_id,
         {sql_rhu("CAST(SUM(CAST(part AS DECIMAL(27,15))) AS DOUBLE)", 6)} AS ADC_DIST
  FROM enc JOIN lut ON enc.SUB = lut.SUB AND enc.CODE = lut.CODE
  GROUP BY lut.QUERY_ID, enc.vec_id
)
SELECT QUERY_ID, vec_id, ADC_DIST FROM adc
QUALIFY ROW_NUMBER() OVER (PARTITION BY QUERY_ID ORDER BY ADC_DIST, vec_id) <= 5
""",
)
def q_emb_pq_adc_topk(spark: SparkSession, sf_dir: str):
    """Asymmetric-distance top-k over PQ codes: the query's m x ksub
    lookup table is broadcast, corpus codes equi-join it on (SUB, CODE),
    per-pair sums run on DECIMAL images (order-independent ranking at any
    partitioning), one row_number top-k per query. The float corpus is
    never touched at query time -- the compressed-domain search PQ
    exists for."""
    emb = read_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook_df(spark, similarity.pq_constants(_PQ_M, _PQ_K, _PQ_DSUB))
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.pq_adc_topk(emb, queries, cb, k=5)


@query(
    "emb_pq_train_update",
    oracle=f"""
WITH {_pq_enc_cte()},
sv AS (
  SELECT enc.SUB, enc.CODE, CAST(d.DIM AS INT) AS DIM,
         e.v[enc.SUB*{_PQ_DSUB} + d.DIM + 1] AS x
  FROM enc JOIN e USING (vec_id), UNNEST(range(0, {_PQ_DSUB})) AS d(DIM)
)
SELECT SUB, CODE, DIM, CAST(COUNT(*) AS BIGINT) AS N_MEMBERS,
       {sql_rhu("CAST(SUM(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / COUNT(*)", 6)} AS CENTROID_VAL
FROM sv GROUP BY SUB, CODE, DIM
""",
)
def q_emb_pq_train_update(spark: SparkSession, sf_dir: str):
    """One Lloyd update of the PQ codebooks (pq_train's distributed step):
    subvector assignment, then per-(SUB, CODE) elementwise means on
    DECIMAL(27,15) sums -- bit-reproducible at any partitioning, so
    distributed PQ training is restartable (same convention as
    emb_kmeans_update)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook_df(spark, similarity.pq_constants(_PQ_M, _PQ_K, _PQ_DSUB))
    return similarity.pq_train_update(emb, cb)


@query(
    "docs_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
w AS (
  SELECT doc_id, toks, u.i AS start,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY u.i) - 1 AS INT) AS CHUNK_IDX
  FROM nz, UNNEST(range(0, n, 48)) AS u(i)
  WHERE u.i = 0 OR u.i < n - (64 - 48)
)
SELECT doc_id, CHUNK_IDX,
       CAST(len(toks[start+1 : start+64]) AS BIGINT) AS N_TOKENS,
       array_to_string(toks[start+1 : start+64], ' ') AS CHUNK_TEXT
FROM w
""",
)
def q_docs_chunk_windows(spark: SparkSession, sf_dir: str):
    """Overlapping token-window chunking (text.chunk_documents): 64-token
    windows at stride 48 (16 tokens of overlap) -- the RAG/embedding prep
    step. Pure scan-stage codegen, output-proportional; the oracle slices
    the same normalized token arrays."""
    docs = read_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, chunk_tokens=64, stride=48)


@query(
    "emb_cross_contamination",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS CELL, v AS cv FROM e WHERE vec_id % 31 = 1),
scored AS (
  SELECT e.vec_id, cents.CELL,
         FLOOR((list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS sim
  FROM e, cents
),
cells AS (
  SELECT vec_id, CELL FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, CELL) = 1
)
SELECT a.vec_id AS CORPUS_ID, b.vec_id AS BENCH_ID,
       FLOOR((list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))))
          * 1000000 + 0.5) / 1000000 AS COSINE
FROM cells a
JOIN cells b ON a.CELL = b.CELL
JOIN e ea ON ea.vec_id = a.vec_id
JOIN e eb ON eb.vec_id = b.vec_id
WHERE a.vec_id % 97 <> 0 AND b.vec_id % 97 = 0
  AND FLOOR((list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))))
         * 1000000 + 0.5) / 1000000 >= 0.3
""",
)
def q_emb_cross_contamination(spark: SparkSession, sf_dir: str):
    """Semantic benchmark contamination (similarity.semantic_cross_pairs):
    vectors with vec_id%97==0 play the benchmark embeddings, the rest the
    training corpus; every cross-side pair with cosine >= 0.3 under
    shared IVF-cell blocking is a leak candidate. The embedding
    complement to docs_decontaminate -- paraphrases carry no verbatim
    n-grams but keep their neighborhood."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 31 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    bench = emb.filter(F.col("vec_id") % 97 == 0)
    return similarity.semantic_cross_pairs(corpus, bench, centroids, threshold=0.3)


@query(
    "emb_ivf_pq_topk",
    oracle=f"""
WITH {_pq_enc_cte()},
cents AS (SELECT vec_id AS CELL, v AS cv FROM e WHERE vec_id % 31 = 1),
asg AS (
  SELECT e.vec_id, cents.CELL,
         FLOOR((list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS sim
  FROM e, cents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY sim DESC, CELL) = 1
),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
probes AS (
  SELECT q.vec_id AS QUERY_ID, cents.CELL,
         FLOOR((list_dot_product(q.v, cents.cv)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(cents.cv, cents.cv))))
            * 1000000 + 0.5) / 1000000 AS psim
  FROM q, cents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY psim DESC, CELL) <= 2
),
lut AS (
  SELECT q.vec_id AS QUERY_ID, cb.SUB, cb.CODE, {_pq_dist_sql("q.v")} AS part
  FROM q, {_pq_cb_values()}
),
adc AS (
  SELECT p.QUERY_ID, enc.vec_id,
         {sql_rhu("CAST(SUM(CAST(part AS DECIMAL(27,15))) AS DOUBLE)", 6)} AS ADC_DIST
  FROM probes p
  JOIN asg a ON a.CELL = p.CELL
  JOIN enc ON enc.vec_id = a.vec_id
  JOIN lut ON lut.QUERY_ID = p.QUERY_ID AND lut.SUB = enc.SUB AND lut.CODE = enc.CODE
  GROUP BY p.QUERY_ID, enc.vec_id
)
SELECT QUERY_ID, vec_id, ADC_DIST FROM adc
QUALIFY ROW_NUMBER() OVER (PARTITION BY QUERY_ID ORDER BY ADC_DIST, vec_id) <= 5
""",
)
def q_emb_ivf_pq_topk(spark: SparkSession, sf_dir: str):
    """IVF-PQ search (similarity.ivf_pq_topk): coarse cells restrict each
    query to nprobe=2 probed cells, PQ codes + ADC score the members --
    the FAISS index architecture end-to-end. It has a FULL oracle, by
    the emb_ivf_topk pattern: the
    centroid rule (vec_id % 31 == 1) and the pq_constants codebook are
    deterministic, so the SQL replays every stage -- nearest-cell
    assignment (6-dp sim, cell tie-break), each query's top-2 probe
    cells, the shared-literal LUT, and the exact integer-image ADC sum
    already proven in emb_pq_adc_topk's oracle. tests/test_pq.py
    additionally pins that the result EXACTLY equals ADC over the
    probed-cell subset (PQ never drops a candidate within a probed
    cell)."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 31 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cb = similarity.pq_codebook_df(spark, similarity.pq_constants(_PQ_M, _PQ_K, _PQ_DSUB))
    queries_df = emb.filter(F.col("vec_id") < 8)
    return similarity.ivf_pq_topk(emb, queries_df, centroids, cb, k=5, nprobe=2)


@query(
    "docs_balanced_sample",
    oracle=f"""
WITH c AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
m AS (SELECT MIN(n) AS mn FROM c),
fr AS (
  SELECT lang, {sql_rhu("LEAST(1.0, m.mn / c.n)", 6)} AS KEEP_FRAC FROM c, m
)
SELECT doc_id, fr.lang AS LANG, fr.KEEP_FRAC
FROM documents d JOIN fr ON d.lang IS NOT DISTINCT FROM fr.lang
WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|bal1'), 1, 8) <
      LPAD(LOWER(TO_HEX(LEAST(CAST(FLOOR(KEEP_FRAC * 4294967296.0) AS BIGINT), 4294967295))), 8, '0')
""",
)
def q_docs_balanced_sample(spark: SparkSession, sf_dir: str):
    """Class-balanced downsampling (sampling.balanced_hash_sample): every
    language kept at ~the minority class's count (fraction min_n/n_c,
    derived from the data) -- the classifier-training rebalance. Tiny
    count agg + broadcast fractions; the corpus filters in the scan
    stage."""
    from ..operators.sampling import balanced_hash_sample

    docs = read_table(spark, sf_dir, "documents")
    out = balanced_hash_sample(docs.select("doc_id", "lang"), "lang", ["doc_id"], seed="bal1")
    return out.select("doc_id", F.col("lang").alias("LANG"), "KEEP_FRAC")


@query(
    "docs_segment_lang_profile",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
segs AS (
  SELECT doc_id, toks[u.i+1 : u.i+32] AS seg
  FROM nz, UNNEST(range(0, n, 32)) AS u(i)
),
tagged AS (
  SELECT doc_id,
         CASE WHEN len(seg) > 0
              AND len(list_filter(seg, t -> list_contains({_STOPLIST}, t))) / len(seg) >= 0.08
              THEN 1 ELSE 0 END AS is_en
  FROM segs
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS N_SEGMENTS,
         CAST(SUM(is_en) AS BIGINT) AS N_EN_SEGMENTS
  FROM tagged GROUP BY 1
)
SELECT doc_id, N_SEGMENTS, N_EN_SEGMENTS,
       {sql_rhu("N_EN_SEGMENTS / CAST(N_SEGMENTS AS DOUBLE)", 6)} AS EN_SEGMENT_RATIO,
       CASE WHEN N_EN_SEGMENTS / CAST(N_SEGMENTS AS DOUBLE) >= 0.5
            THEN 'en' ELSE 'unknown' END AS DOC_LANG_GUESS
FROM agg
""",
)
def q_docs_segment_lang_profile(spark: SparkSession, sf_dir: str):
    """Per-segment language profile (text.segment_language_profile):
    32-token non-overlapping windows, stopword-heuristic tag per segment,
    per-doc majority + ratio -- the mixed-language curation signal a
    doc-level tag can't give."""
    docs = read_table(spark, sf_dir, "documents")
    return text.segment_language_profile(docs)


@query(
    "docs_negative_samples",
    oracle="""
WITH rk AS (
  SELECT doc_id, doc_id % 64 AS b,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 64
                            ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS r
  FROM documents
),
cnt AS (SELECT b, COUNT(*) AS n FROM rk GROUP BY 1),
off AS (
  SELECT b, COALESCE(SUM(n) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM cnt
),
idx AS (SELECT rk.doc_id, CAST(o + r - 1 AS BIGINT) AS row_idx FROM rk JOIN off USING (b)),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM idx),
anch AS (
  SELECT doc_id AS ANCHOR_ID, row_idx AS a_idx, CAST(j.NEG_RANK AS INT) AS NEG_RANK
  FROM idx, (SELECT UNNEST(range(0, 4)) AS NEG_RANK) j
),
cand AS (
  SELECT ANCHOR_ID, NEG_RANK, a_idx, N,
         ((ANCHOR_ID % 2147483648) * 2654435761 + NEG_RANK * 40503 + 7)
           % 2147483648 % N AS neg0
  FROM anch, nn
),
adj AS (
  SELECT ANCHOR_ID, NEG_RANK,
         CASE WHEN neg0 = a_idx THEN (neg0 + 1) % N ELSE neg0 END AS neg
  FROM cand
)
SELECT ANCHOR_ID, NEG_RANK, idx.doc_id AS NEG_ID
FROM adj JOIN idx ON idx.row_idx = adj.neg
WHERE idx.doc_id <> adj.ANCHOR_ID
""",
)
def q_docs_negative_samples(spark: SparkSession, sf_dir: str):
    """Deterministic corpus-wide negative sampling
    (sampling.negative_samples, k=4): contrastive-training pairs drawn by
    an integer mixer over a dense index built WITHOUT a global sort
    (bucketed ranks + bucket-offset cumsum). The oracle replays the
    identical two-level index and arithmetic."""
    from ..operators.sampling import negative_samples

    docs = read_table(spark, sf_dir, "documents")
    return negative_samples(docs.select("doc_id"), "doc_id", k=4, seed=7)


@query(
    "docs_weighted_topk_sample",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_TOKS_NE} AS toks FROM documents),
s AS (
  SELECT doc_id, source,
         CASE WHEN len(toks) > 0
              THEN 0.7 * least(len(toks) / 200.0, 1.0)
                   + 0.3 * (len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) / len(toks))
              ELSE 0.0 END AS w
  FROM t
),
r AS (
  SELECT doc_id, source,
         FLOOR(w * 1000000 + 0.5) / 1000000 AS QUALITY_SCORE,
         CASE WHEN FLOOR(w * 1000000 + 0.5) / 1000000 > 0
              THEN POW((('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|wtk1'), 1, 8))::UBIGINT + 1.0) / 4294967296.0,
                       1.0 / (FLOOR(w * 1000000 + 0.5) / 1000000))
              ELSE -1.0 END AS ares
  FROM s
)
SELECT doc_id, source, QUALITY_SCORE FROM r
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY ares DESC, doc_id) <= 15
""",
)
def q_docs_weighted_topk_sample(spark: SparkSession, sf_dir: str):
    """Weighted without-replacement sampling, exactly 15 docs per source
    (sampling.weighted_top_k_sample, Efraimidis-Spirakis A-Res):
    quality-score-weighted rank u^(1/w) on the shared md5 draw --
    the guaranteed-count counterpart of the Bernoulli weighted sampler."""
    from ..operators.sampling import weighted_top_k_sample

    docs = read_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs).select("doc_id", "source", "QUALITY_SCORE")
    return weighted_top_k_sample(
        scored, "QUALITY_SCORE", ["source"], ["doc_id"], k=15, seed="wtk1"
    )


@query(
    "docs_cm_sketch",
    oracle=f"""
WITH t AS (SELECT unnest({_TOKS_NE}) AS tok FROM documents),
ex AS (SELECT tok, r.R FROM t, (SELECT UNNEST(range(0, 4)) AS R) r),
cells AS (
  SELECT CAST(R AS INT) AS R,
         CAST((('0x' || SUBSTRING(MD5(tok || '|' || CAST(R AS VARCHAR) || '|cm0'), 1, 8))::UBIGINT % 1024) AS INT) AS C
  FROM ex
)
SELECT R, C, CAST(COUNT(*) AS BIGINT) AS N FROM cells GROUP BY 1, 2
""",
)
def q_docs_cm_sketch(spark: SparkSession, sf_dir: str):
    """Count-min sketch over the corpus token stream (sketches.cm_sketch,
    d=4 x w=1024): the mergeable point-frequency summary -- per-delivery
    sketches roll up by exact cell addition, and any token's count is
    answerable within eps*N without the token surviving a top-k cut. The
    sketch TABLE is bit-exact cross-engine (md5 cells); only point
    estimates are approximate (bounds pinned in tests/test_sketches.py)."""
    from ..operators.sketches import cm_sketch

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("TOKEN"))
    return cm_sketch(toks, "TOKEN")


@query(
    "docs_cm_estimates",
    oracle=f"""
WITH t AS (SELECT unnest({_TOKS_NE}) AS tok FROM documents),
ex AS (SELECT tok, r.R FROM t, (SELECT UNNEST(range(0, 4)) AS R) r),
cells AS (
  SELECT CAST(R AS INT) AS R,
         CAST((('0x' || SUBSTRING(MD5(tok || '|' || CAST(R AS VARCHAR) || '|cm0'), 1, 8))::UBIGINT % 1024) AS INT) AS C
  FROM ex
),
sk AS (SELECT R, C, CAST(COUNT(*) AS BIGINT) AS N FROM cells GROUP BY 1, 2),
q AS (SELECT UNNEST({_STOPLIST}) AS TOKEN),
qc AS (
  SELECT TOKEN, r.R,
         CAST((('0x' || SUBSTRING(MD5(TOKEN || '|' || CAST(r.R AS VARCHAR) || '|cm0'), 1, 8))::UBIGINT % 1024) AS INT) AS C
  FROM q, (SELECT UNNEST(range(0, 4)) AS R) r
)
SELECT qc.TOKEN, CAST(MIN(COALESCE(sk.N, 0)) AS BIGINT) AS EST_COUNT
FROM qc LEFT JOIN sk ON sk.R = qc.R AND sk.C = qc.C
GROUP BY 1
""",
)
def q_docs_cm_estimates(spark: SparkSession, sf_dir: str):
    """Count-min point estimates for the stopword set
    (sketches.cm_estimate): recompute each query item's d cells, join the
    broadcast sketch, take the min -- frequency answers for arbitrary
    items without rescanning the corpus. Estimates are deterministic
    given the sketch, so this path is fully oracle-checkable; the
    approximation bounds are pinned in tests/test_sketches.py."""
    from ..operators.sketches import cm_estimate, cm_sketch
    from ..operators.text import EN_STOPWORDS

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("TOKEN"))
    sk = cm_sketch(toks, "TOKEN")
    items = spark.createDataFrame([(t,) for t in EN_STOPWORDS], "TOKEN string")
    return cm_estimate(sk, items, "TOKEN")


@query("docs_cm_estimates_fast")  # rows-only: xxhash64 cells exist only Spark-side
def q_docs_cm_estimates_fast(spark: SparkSession, sf_dir: str):
    """The count-min 100TB default: same d=4 x w=1024 sketch + stopword
    point estimates as docs_cm_estimates but with xxhash64 cells
    (portable=False) -- one JVM hash per (item, row) instead of an md5 +
    hex parse, the dominant per-token cost in the portable build (its
    measured ~7x-per-char 10x ratio). Estimates still satisfy
    the CM overcount contract vs exact counts (pinned in
    tests/test_sketches.py and test_catalog_parity.py); cell addresses
    are engine-specific, so this row is rows-only by design next to its
    md5 oracle-checked twin."""
    from ..operators.sketches import cm_estimate, cm_sketch
    from ..operators.text import EN_STOPWORDS

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("TOKEN"))
    sk = cm_sketch(toks, "TOKEN", portable=False)
    items = spark.createDataFrame([(t,) for t in EN_STOPWORDS], "TOKEN string")
    return cm_estimate(sk, items, "TOKEN", portable=False)


@query(
    "docs_collocations",
    oracle=f"""
WITH ex AS (
  SELECT doc_id, u.i AS pos, t.toks[u.i] AS tok
  FROM (SELECT doc_id, {_TOKS_NE} AS toks FROM documents) t,
       UNNEST(range(1, len(t.toks)+1)) AS u(i)
),
pairs AS (
  SELECT tok AS TOKEN_A, LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS TOKEN_B
  FROM ex
),
big AS (
  SELECT TOKEN_A, TOKEN_B, CAST(COUNT(*) AS BIGINT) AS N_AB
  FROM pairs WHERE TOKEN_B IS NOT NULL
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS N_TOK FROM ex GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS N FROM ex)
SELECT b.TOKEN_A, b.TOKEN_B, b.N_AB, ua.N_TOK AS N_A, ub.N_TOK AS N_B,
       {sql_rhu("(CAST(b.N_AB AS DOUBLE) * tot.N) / (CAST(ua.N_TOK AS DOUBLE) * CAST(ub.N_TOK AS DOUBLE))", 6)} AS LIFT
FROM big b
JOIN uni ua ON ua.tok = b.TOKEN_A
JOIN uni ub ON ub.tok = b.TOKEN_B
CROSS JOIN tot
""",
)
def q_docs_collocations(spark: SparkSession, sf_dir: str):
    """Adjacent-bigram collocation mining (text.collocation_lift,
    min_count=5): observed/expected lift as pure exact-count arithmetic
    (the log-free monotone form of PMI -- ln is not correctly-rounded
    across libms, integer ratios are). Linear in corpus tokens; the
    min_count filter prunes before any join."""
    docs = read_table(spark, sf_dir, "documents")
    return text.collocation_lift(docs)


@query(
    "docs_source_overlap",
    oracle=f"""
WITH tok AS (SELECT source, {_TOKS_NE} AS t FROM documents),
ng AS (
  SELECT DISTINCT source, md5(array_to_string(t[i:i+2], ' ')) AS h
  FROM tok, UNNEST(range(1, len(t)-1)) AS u(i)
  WHERE len(t) >= 3
),
ex AS (SELECT source, h, p.PERM FROM ng, (SELECT UNNEST(range(0, 32)) AS PERM) p),
sig AS (
  SELECT source, CAST(PERM AS INT) AS PERM,
         MIN(md5(h || '|' || CAST(PERM AS VARCHAR) || '|so0')) AS MINH
  FROM ex GROUP BY 1, 2
)
SELECT a.source AS SOURCE_A, b.source AS SOURCE_B,
       CAST(SUM(CASE WHEN a.MINH = b.MINH THEN 1 ELSE 0 END) AS BIGINT) AS N_MATCH,
       {sql_rhu("SUM(CASE WHEN a.MINH = b.MINH THEN 1 ELSE 0 END) / 32.0", 6)} AS EST_JACCARD
FROM sig a JOIN sig b ON a.PERM = b.PERM AND a.source < b.source
GROUP BY 1, 2
""",
)
def q_docs_source_overlap(spark: SparkSession, sf_dir: str):
    """Pairwise source-content overlap via union-MinHash signatures
    (dedup.source_overlap_estimate): the corpus-level dedup diagnostic --
    estimated Jaccard between every source pair from 32 md5 permutations,
    bit-reproducible in both engines because the estimator is
    deterministic given the data."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.source_overlap_estimate(docs)


@query(
    "docs_source_datasheet",
    oracle=f"""
WITH t AS (
  SELECT source, {_TOKS_NE} AS toks, md5({_NORM}) AS fp FROM documents
),
s AS (
  SELECT source, fp, len(toks) AS n_tok,
         CASE WHEN len(toks) > 0
              THEN 0.7 * least(len(toks) / 200.0, 1.0)
                   + 0.3 * (len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) / len(toks))
              ELSE 0.0 END AS q,
         CASE WHEN len(toks) > 0
              AND len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) / len(toks) >= 0.08
              THEN 1 ELSE 0 END AS is_en
  FROM t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS N_DOCS,
       CAST(SUM(n_tok) AS BIGINT) AS N_TOKENS,
       {sql_rhu("SUM(n_tok) / CAST(COUNT(*) AS DOUBLE)", 6)} AS AVG_TOKENS,
       CAST(MAX(n_tok) AS BIGINT) AS MAX_TOKENS,
       {sql_rhu("CAST(SUM(CAST(FLOOR(q * 1000000 + 0.5) / 1000000 AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)", 6)} AS AVG_QUALITY,
       {sql_rhu("SUM(is_en) / CAST(COUNT(*) AS DOUBLE)", 6)} AS EN_SHARE,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS N_DISTINCT_TEXTS,
       {sql_rhu("1 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE)", 6)} AS DUP_RATIO
FROM s GROUP BY 1
""",
)
def q_docs_source_datasheet(spark: SparkSession, sf_dir: str):
    """Per-source corpus datasheet (text.source_datasheet): volume, length
    anchors, quality/language means, exact duplication rate -- the data
    card summary in ONE aggregation, reusing the exact scan-stage
    expressions the curation filters run."""
    docs = read_table(spark, sf_dir, "documents")
    return text.source_datasheet(docs)


# --- cross-source exact dup matrix, DF table, MOSS overlap pairs,
# Gopher rule audit, boilerplate share, grouped length quantiles, norm
# histogram. All exact integer/ppm lattices.


@query(
    "docs_cross_source_dups",
    oracle=f"""
WITH {_SEG_HASH_SQL},
p AS (
  SELECT DISTINCT d.source, h.SEG_HASH
  FROM h JOIN documents d ON h.doc_id = d.doc_id
)
SELECT a.source AS SOURCE_A, b.source AS SOURCE_B,
       CAST(COUNT(*) AS BIGINT) AS N_SHARED_SEGMENTS
FROM p a JOIN p b ON a.SEG_HASH = b.SEG_HASH AND a.source < b.source
GROUP BY 1, 2
""",
)
def q_docs_cross_source_dups(spark: SparkSession, sf_dir: str):
    """Exact cross-source content-sharing matrix
    (dedup.cross_source_dup_matrix): distinct 10-token segment contents
    shared per source pair -- which feeds mirror or quote each other,
    exactly; the complement to the MinHash-ESTIMATED docs_source_overlap.
    Join operands are deduplicated (source, segment-hash) rows, so
    intra-source repetition never fans out."""
    from ..operators.dedup import cross_source_dup_matrix

    docs = read_table(spark, sf_dir, "documents")
    return cross_source_dup_matrix(docs, k=10)


@query(
    "docs_df_table",
    oracle=f"""
WITH ex AS (
  SELECT doc_id, unnest(list_distinct({_TOKS_NE})) AS TOKEN FROM documents
)
SELECT TOKEN, CAST(COUNT(*) AS BIGINT) AS DOC_FREQ,
       CAST((COUNT(*) * 1000000) // (SELECT COUNT(*) FROM documents) AS BIGINT) AS DF_PPM
FROM ex GROUP BY 1
ORDER BY DOC_FREQ DESC, TOKEN LIMIT 100
""",
)
def q_docs_df_table(spark: SparkSession, sf_dir: str):
    """Document-frequency table (text.df_table): the materialized IDF
    side of TF-IDF as exact integer ppm rates -- reusable term-weighting
    state and the stoplist-mining input. Per-doc array_distinct bounds
    the exploded stream at per-doc vocabulary size; top-100 compiles to
    TakeOrderedAndProject."""
    from ..operators.text import df_table

    docs = read_table(spark, sf_dir, "documents")
    return df_table(docs, top=100)


@query(
    "docs_winnow_overlap_pairs",
    oracle=f"""
WITH {_WINNOW_FP_SQL},
rare AS (
  SELECT FP_HASH FROM wfp GROUP BY 1 HAVING COUNT(*) <= 20
),
r AS (SELECT wfp.DOC_ID, wfp.FP_HASH FROM wfp JOIN rare USING (FP_HASH))
SELECT a.DOC_ID AS ID_A, b.DOC_ID AS ID_B, CAST(COUNT(*) AS BIGINT) AS N_SHARED
FROM r a JOIN r b ON a.FP_HASH = b.FP_HASH AND a.DOC_ID < b.DOC_ID
GROUP BY 1, 2 HAVING COUNT(*) >= 3
""",
)
def q_docs_winnow_overlap_pairs(spark: SparkSession, sf_dir: str):
    """MOSS-style partial-overlap pairs (dedup.winnow_overlap_pairs):
    documents sharing >= 3 winnowing fingerprints after dropping
    fingerprints common to > 20 docs (the boilerplate stoplist that
    bounds the pair-join fanout at 20^2 per fingerprint at ANY corpus
    size). Catches mirrored fragments and quote chains that whole-doc
    and fixed-segment dedup both miss."""
    from ..operators.dedup import winnow_overlap_pairs

    docs = read_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, k=5, w=4, min_shared=3, max_doc_freq=20)


@query(
    "docs_gopher_report",
    oracle=f"""
WITH t AS (SELECT {_TOKS_NE} AS toks FROM documents),
f AS (
  SELECT len(toks) AS n,
         CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS sl,
         len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) AS ns
  FROM t
),
a AS (
  SELECT COUNT(*) AS nd,
         SUM(CASE WHEN n < 50 THEN 1 ELSE 0 END) AS r1,
         SUM(CASE WHEN n > 2500 THEN 1 ELSE 0 END) AS r2,
         SUM(CASE WHEN n > 0 AND sl < 3 * n THEN 1 ELSE 0 END) AS r3,
         SUM(CASE WHEN n > 0 AND sl > 10 * n THEN 1 ELSE 0 END) AS r4,
         SUM(CASE WHEN ns = 0 THEN 1 ELSE 0 END) AS r5
  FROM f
),
long AS (
  SELECT 'too_few_tokens' AS RULE, r1 AS v, nd FROM a
  UNION ALL SELECT 'too_many_tokens', r2, nd FROM a
  UNION ALL SELECT 'mean_token_len_lt3', r3, nd FROM a
  UNION ALL SELECT 'mean_token_len_gt10', r4, nd FROM a
  UNION ALL SELECT 'no_stopword', r5, nd FROM a
)
SELECT RULE, CAST(v AS BIGINT) AS N_VIOLATIONS,
       CAST((v * 1000000) // nd AS BIGINT) AS SHARE_PPM
FROM long ORDER BY RULE
""",
)
def q_docs_gopher_report(spark: SparkSession, sf_dir: str):
    """Gopher-rule pre-filter audit (text.gopher_rules_report): per-rule
    violation counts and exact ppm shares for the hard quality gates
    (token-count bounds, mean-token-length bounds, stopword presence) --
    ONE scan computes every rule's flag as conditional sums over the
    same token array; mean-length bounds compare sum_len to bound*count
    in exact integers (no division anywhere)."""
    from ..operators.text import gopher_rules_report

    docs = read_table(spark, sf_dir, "documents")
    return gopher_rules_report(docs, min_tokens=50, max_tokens=2500)


@query(
    "docs_repeated_segment_share",
    oracle=f"""
WITH {_SEG_HASH_SQL},
d AS (SELECT SEG_HASH, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY 1)
SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS N_SEGMENTS,
       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS N_SHARED_SEGMENTS,
       CAST((SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
         AS SHARED_PPM
FROM h JOIN d USING (SEG_HASH) GROUP BY 1
""",
)
def q_docs_repeated_segment_share(spark: SparkSession, sf_dir: str):
    """Per-document boilerplate share (dedup.repeated_segment_share): the
    exact ppm of each doc's 10-token segments whose content appears in
    at least one other document -- the per-doc victim-side view of
    segment_dedup, flagging templated/mirrored pages. Digest-keyed
    aggregations only; the text never joins."""
    from ..operators.dedup import repeated_segment_share

    docs = read_table(spark, sf_dir, "documents")
    return repeated_segment_share(docs, k=10)


@query(
    "docs_token_quantiles_by_lang",
    oracle=f"""
SELECT lang AS LANG, CAST(COUNT(*) AS BIGINT) AS N_DOCS,
       {sql_rhu("quantile_cont(len(toks), 0.25)", 4)} AS P25_TOKENS,
       {sql_rhu("quantile_cont(len(toks), 0.5)", 4)} AS P50_TOKENS,
       {sql_rhu("quantile_cont(len(toks), 0.75)", 4)} AS P75_TOKENS,
       {sql_rhu("quantile_cont(len(toks), 0.95)", 4)} AS P95_TOKENS
FROM (SELECT lang, {_TOKS_NE} AS toks FROM documents) GROUP BY 1
""",
)
def q_docs_token_quantiles_by_lang(spark: SparkSession, sf_dir: str):
    """Per-language document-length quantile profile: the length
    distribution anchor every context-window and packing decision reads.
    Exact per-group percentiles (sort-based aggregate, fine at any group
    count); quantile_cont interpolation matches Spark's percentile()."""
    docs = read_table(spark, sf_dir, "documents")
    n = F.size(text.tokens("text"))
    return docs.groupBy(F.col("lang").alias("LANG")).agg(
        F.count(F.lit(1)).alias("N_DOCS"),
        rhu(F.percentile(n, F.lit(0.25)), 4).alias("P25_TOKENS"),
        rhu(F.percentile(n, F.lit(0.5)), 4).alias("P50_TOKENS"),
        rhu(F.percentile(n, F.lit(0.75)), 4).alias("P75_TOKENS"),
        rhu(F.percentile(n, F.lit(0.95)), 4).alias("P95_TOKENS"),
    )


@query(
    "emb_norm_buckets",
    oracle="""
WITH q AS (
  SELECT label,
         list_sum(list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                * CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS ss
  FROM embeddings
)
SELECT CAST(label AS INT) AS LABEL, CAST(ss // 1000000 AS BIGINT) AS NORM2_BUCKET,
       CAST(COUNT(*) AS BIGINT) AS N_VECS
FROM q GROUP BY 1, 2
""",
)
def q_emb_norm_buckets(spark: SparkSession, sf_dir: str):
    """Embedding-norm histogram per label: squared-L2 bucketed on an
    exact integer lattice (per-element quantize to 1e-3 THEN sum, so the
    sum is order-free integer arithmetic -- float accumulation order
    can't flip a bucket edge). The drift monitor for an embedding
    pipeline: a model/version change shifts this histogram before
    anything downstream notices. Pure scan-stage map + one
    low-cardinality agg, no shuffle of vectors."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
    )
    ss = F.aggregate(e, F.lit(0).cast("long"), lambda a, x: a + x * x)
    return (
        emb.select(
            F.col("label").cast("int").alias("LABEL"),
            ss.alias("__ss"),
        )
        .select("LABEL", F.expr("__ss div 1000000").cast("long").alias("NORM2_BUCKET"))
        .groupBy("LABEL", "NORM2_BUCKET")
        .agg(F.count(F.lit(1)).alias("N_VECS"))
    )


# --- corpus LM scoring, data selection, hybrid retrieval,
# embedding post-processing, distributed classifier training ----------------

_BIGRAM_OCC_SQL = f"""t4 AS (SELECT doc_id, lang, {_TOKS_NE} AS toks FROM documents),
bocc AS (
  SELECT doc_id, lang,
         unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                     ELSE list_transform(range(0, len(toks) - 1),
                                         i -> toks[i + 1] || '|' || toks[i + 2])
                END) AS bg
  FROM t4
)"""


@query(
    "docs_dsir_weights",
    oracle=f"""
WITH {_BIGRAM_OCC_SQL},
b AS (
  SELECT doc_id, lang = 'en' AS is_t,
         CAST(('0x' || substr(md5(bg || '|dsir0'), 1, 8))::UBIGINT % 1024 AS BIGINT) AS bk
  FROM bocc
),
c AS (
  SELECT bk, CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(COUNT(*) FILTER (is_t) AS BIGINT) AS ct
  FROM b GROUP BY 1
),
tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt FROM c),
r AS (
  SELECT bk,
         CAST({sql_rhu("ln((ct + 1) / (tt + 1024)) - ln((cr + 1) / (tr + 1024))", 9)}
              AS DECIMAL(28,9)) AS lr
  FROM c, tot
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS N_FEATURES,
       {sql_rhu("CAST(SUM(lr) AS DOUBLE)", 6)} AS LOG_WEIGHT
FROM b JOIN r USING (bk) GROUP BY 1
""",
)
def q_docs_dsir_weights(spark: SparkSession, sf_dir: str):
    """DSIR log importance weights (text.dsir_weights): hashed-bigram
    bucket LMs for the target slice (lang='en') vs the raw corpus, one
    explode + conditional agg + broadcast ratio join. The pretraining
    data-selection signal: resample proportional to exp(LOG_WEIGHT)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.dsir_weights(docs, target=F.col("lang") == "en", buckets=1024, seed="dsir0")


@query(
    "docs_bigram_logprob",
    oracle=f"""
WITH t4 AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
occ AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) < 2 THEN []::STRUCT(w1 VARCHAR, w2 VARCHAR)[]
                     ELSE list_transform(range(0, len(toks) - 1),
                                         i -> {{'w1': toks[i + 1], 'w2': toks[i + 2]}})
                END, recursive := true) AS _
  FROM t4
),
pair AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM occ GROUP BY 1, 2),
starts AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1s FROM pair GROUP BY 1),
tok AS (SELECT unnest(toks) AS w2 FROM t4),
uni AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM tok GROUP BY 1),
ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
s AS (
  SELECT occ.doc_id,
         CAST({sql_rhu("-ln(0.75 * (c12 / c1s) + 0.25 * (c2 / n))", 9)}
              AS DECIMAL(28,9)) AS srp
  FROM occ JOIN pair USING (w1, w2) JOIN starts USING (w1) JOIN uni USING (w2), ntot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS N_BIGRAMS,
       {sql_rhu("CAST(SUM(srp) AS DOUBLE) / COUNT(*)", 6)} AS AVG_NEG_LOGPROB
FROM s GROUP BY 1
""",
)
def q_docs_bigram_logprob(spark: SparkSession, sf_dir: str):
    """Interpolated bigram-LM surprisal (text.bigram_logprob): the
    order-2 perplexity quality filter with Jelinek-Mercer backoff to the
    unigram model -- formulaic word SEQUENCES score low even when each
    word is common. Same decimal-lattice determinism as the unigram
    score."""
    docs = read_table(spark, sf_dir, "documents")
    return text.bigram_logprob(docs, lam=0.75)


@query(
    "docs_hybrid_rrf",
    oracle=f"""
WITH b2 AS (SELECT doc_id, CAST(len({_TOKS_NE}) AS DOUBLE) AS dl, {_TOKS_NE} AS toks FROM documents),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM b2),
hits AS (
  SELECT doc_id, dl, TERM, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS TERM FROM b2)
  WHERE TERM IN ('table', 'scan', 'fast')
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT TERM, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfx FROM hits GROUP BY 1),
per AS (
  SELECT h.doc_id, h.TERM,
         ln(1.0 + (s.n - d.dfx + 0.5) / (d.dfx + 0.5))
           * (h.tf * 2.2) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / s.avgdl)) AS sc
  FROM hits h JOIN dfreq d USING (TERM), stats s
),
agg AS (
  SELECT doc_id,
         SUM(CASE WHEN TERM = 'table' THEN sc END) AS s0,
         SUM(CASE WHEN TERM = 'scan' THEN sc END) AS s1,
         SUM(CASE WHEN TERM = 'fast' THEN sc END) AS s2
  FROM per GROUP BY doc_id
),
bmr AS (
  SELECT doc_id AS id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY FLOOR((COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0)) * 1000000 + 0.5) / 1000000 DESC,
                    doc_id) AS BIGINT) AS r
  FROM agg
  QUALIFY r <= 50
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT v FROM e WHERE vec_id = 0),
cr AS (
  SELECT c.vec_id AS id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY FLOOR((list_dot_product(qv.v, c.v)
                          / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(c.v, c.v))))
                        * 1000000 + 0.5) / 1000000 DESC,
                    c.vec_id) AS BIGINT) AS r
  FROM e c, qv WHERE c.vec_id <> 0
  QUALIFY r <= 50
),
u AS (
  SELECT id, 1000000000 // (60 + r) AS s FROM bmr
  UNION ALL
  SELECT id, 1000000000 // (60 + r) FROM cr
)
SELECT id AS DOC_ID, CAST(COUNT(*) AS BIGINT) AS N_LISTS, CAST(SUM(s) AS BIGINT) AS RRF_PPB
FROM u GROUP BY 1
ORDER BY RRF_PPB DESC, DOC_ID
LIMIT 20
""",
)
def q_docs_hybrid_rrf(spark: SparkSession, sf_dir: str):
    """Hybrid retrieval by reciprocal-rank fusion (similarity.rrf_fuse):
    BM25 keyword candidates fused with dense cosine candidates (query =
    embedding 0, joined on vec_id == doc_id) via exact integer 1e9 div
    (60 + rank) scores -- the zero-tuning RAG retrieval combiner, fully
    engine-replayable because no float ever enters the fusion."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    bm = text.bm25_topk(docs, ["table", "scan", "fast"], k=50)
    w = Window.orderBy(F.col("SCORE").desc(), F.col("doc_id"))
    bm_r = bm.select(F.col("doc_id").alias("DOC_ID"), F.row_number().over(w).cast("long").alias("RANK"))
    cos = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=50)
    cos_r = cos.select(F.col("NEIGHBOR_ID").alias("DOC_ID"), F.col("RANK").cast("long").alias("RANK"))
    return similarity.rrf_fuse([bm_r, cos_r], id_col="DOC_ID", rank_col="RANK", k=60, top=20)


@query(
    "emb_matryoshka",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v[1:16], v[1:16])) AS nrm FROM e),
ex AS (
  SELECT vec_id, u.i - 1 AS DIM, v[u.i] AS x, nrm
  FROM n, UNNEST(range(1, 17)) AS u(i)
)
SELECT vec_id, CAST(DIM AS INT) AS DIM,
       {sql_rhu("CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END", 6)} AS VAL
FROM ex
""",
)
def q_emb_matryoshka(spark: SparkSession, sf_dir: str):
    """Matryoshka truncation (similarity.matryoshka_truncate): first-16-
    dim prefix re-normalized to unit length, the MRL coarse representation
    for cheap first-stage ANN. Long-form output on the 6-place lattice;
    strict index-order norm accumulation matches list_dot_product."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.matryoshka_truncate(emb, m=16)


_PC_W = similarity.rp_constants(1, 64, seed="pc0")[0]
_PC_W_SQL = "[" + ", ".join(repr(w) for w in _PC_W) + "]"


@query(
    "emb_perceptron_step",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
m AS (
  SELECT CASE WHEN label = 0 THEN 1.0 ELSE -1.0 END AS y,
         list_dot_product(v, {_PC_W_SQL}) AS margin, v
  FROM e
),
ex AS (
  SELECT u.i - 1 AS DIM, m.y, m.v[u.i] AS x
  FROM m, UNNEST(range(1, len(m.v) + 1)) AS u(i)
  WHERE m.y * m.margin <= 0
)
SELECT CAST(DIM AS INT) AS DIM, CAST(COUNT(*) AS BIGINT) AS N_MISCLASSIFIED,
       {sql_rhu("CAST(SUM(CAST(y * x AS DECIMAL(27,15))) AS DOUBLE)", 6)} AS GRAD_VAL,
       {sql_rhu(f"({_PC_W_SQL})[DIM + 1] + 0.01 * CAST(SUM(CAST(y * x AS DECIMAL(27,15))) AS DOUBLE)", 6)} AS W_NEW
FROM ex GROUP BY DIM
""",
)
def q_emb_perceptron_step(spark: SparkSession, sf_dir: str):
    """One batch perceptron step (similarity.perceptron_step) for a
    one-vs-rest linear classifier on embeddings (positive = label 0):
    literal md5-derived weights, unrolled strict-order margins, decimal
    gradient sums -- a reproducible distributed training step with no
    exp()/sigmoid so every op replays exactly cross-engine."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.perceptron_step(emb, _PC_W, positive_label=0, lr=0.01)


@query("docs_dsir_weights_fast")  # no oracle: xxhash64 buckets exist only Spark-side
def q_docs_dsir_weights_fast(spark: SparkSession, sf_dir: str):
    """The 100TB-default DSIR path: identical model/plan to
    docs_dsir_weights but one JVM xxhash64 per bigram instead of md5 +
    hex parse (the sketches portable=False convention). Rows-only driver
    check; the md5 twin is the oracle-verified anchor and
    tests/test_text.py pins the fast path's selection invariants."""
    docs = read_table(spark, sf_dir, "documents")
    return text.dsir_weights(
        docs, target=F.col("lang") == "en", buckets=1024, seed="dsir0", portable=False
    )


@query("docs_bpe_encode")  # no oracle: iterative merge application is not SQL-replayable
def q_docs_bpe_encode(spark: SparkSession, sf_dir: str):
    """Train-then-apply BPE round trip (text.bpe_train + text.bpe_encode):
    8 merges trained on the corpus (one scalar argmax collect per round),
    then every document encoded via the vocabulary-bounded Arrow kernel +
    token-stream join. Rows-only driver check; encode exactness vs a
    pure-Python reference and the lossless-reconstruction property are
    pinned in tests/test_text.py."""
    docs = read_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, n_merges=8, min_pair_count=2)
    return text.bpe_encode(docs, merges)


@query("emb_perceptron_train")  # no oracle: weights re-enter as literals per round (iterative)
def q_emb_perceptron_train(spark: SparkSession, sf_dir: str):
    """Bounded perceptron training (similarity.perceptron_train): 3
    rounds from the md5-seeded init, final weights as long form
    (DIM, W). Each round's graded-step mechanics are oracle-verified via
    emb_perceptron_step; the loop's convergence/determinism invariants
    are pinned in tests/test_similarity.py. Rows-only driver check."""
    emb = read_table(spark, sf_dir, "embeddings")
    w = similarity.perceptron_train(emb, _PC_W, iters=3, positive_label=0, lr=0.01)
    rows = [(int(d), float(x)) for d, x in enumerate(w)]
    return spark.createDataFrame(rows, "DIM int, W double")


@query(
    "docs_selection_pipeline",
    oracle=f"""
WITH fil AS (
  SELECT doc_id, lang, toks FROM (SELECT doc_id, lang, {_TOKS_NE} AS toks FROM documents)
  WHERE len(toks) BETWEEN 3 AND 500
    AND list_sum(list_transform(toks, x -> len(x))) BETWEEN 2 * len(toks) AND 12 * len(toks)
),
socc AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(toks) - 1),
                               i -> {{'w1': toks[i + 1], 'w2': toks[i + 2]}}),
                recursive := true) AS _
  FROM fil
),
spair AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM socc GROUP BY 1, 2),
sstarts AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1s FROM spair GROUP BY 1),
stok AS (SELECT unnest(toks) AS w2 FROM fil),
suni AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM stok GROUP BY 1),
sntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM stok),
ssrp AS (
  SELECT socc.doc_id,
         CAST({sql_rhu("-ln(0.75 * (c12 / c1s) + 0.25 * (c2 / n))", 9)}
              AS DECIMAL(28,9)) AS srp
  FROM socc JOIN spair USING (w1, w2) JOIN sstarts USING (w1) JOIN suni USING (w2), sntot
),
lm AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
         {sql_rhu("CAST(SUM(srp) AS DOUBLE) / COUNT(*)", 6)} AS anlp
  FROM ssrp GROUP BY 1
),
docc AS (
  SELECT doc_id, lang = 'en' AS is_t,
         unnest(list_transform(range(0, len(toks) - 1),
                               i -> toks[i + 1] || '|' || toks[i + 2])) AS bg
  FROM fil
),
db AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substr(md5(bg || '|dsir0'), 1, 8))::UBIGINT % 1024 AS BIGINT) AS bk
  FROM docc
),
dc AS (
  SELECT bk, CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(COUNT(*) FILTER (is_t) AS BIGINT) AS ct
  FROM db GROUP BY 1
),
dtot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt FROM dc),
dr AS (
  SELECT bk,
         CAST({sql_rhu("ln((ct + 1) / (tt + 1024)) - ln((cr + 1) / (tr + 1024))", 9)}
              AS DECIMAL(28,9)) AS lr
  FROM dc, dtot
),
wt AS (
  SELECT db.doc_id, {sql_rhu("CAST(SUM(lr) AS DOUBLE)", 6)} AS lw
  FROM db JOIN dr USING (bk) GROUP BY 1
),
sel AS (
  SELECT f.doc_id, f.lang, lm.nb, lm.anlp, wt.lw,
         ROW_NUMBER() OVER (PARTITION BY f.lang ORDER BY lm.anlp ASC, f.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY f.lang) AS cnt
  FROM fil f JOIN lm USING (doc_id) JOIN wt USING (doc_id)
)
SELECT doc_id AS DOC_ID, lang AS LANG, nb AS N_BIGRAMS,
       anlp AS AVG_NEG_LOGPROB, lw AS LOG_WEIGHT
FROM sel WHERE rn <= CEIL(cnt * 0.5) AND lw > 0
""",
)
def q_docs_selection_pipeline(spark: SparkSession, sf_dir: str):
    """Flagship data-selection composite (the text-quality operators chained
    the way a pretraining mix build chains them): Gopher-style structural
    pre-filter (token count 3..500, mean word length 2..12 as integer
    bounds) -> bigram-LM surprisal scored on the SURVIVING corpus ->
    DSIR importance weights against the lang='en' target slice ->
    keep the low-perplexity half per language, target-like docs only
    (LOG_WEIGHT > 0). One declarative plan: both model joins are
    doc-keyed, the selection windows run per language, and Catalyst
    shares the filtered scan across the two models."""
    docs = read_table(spark, sf_dir, "documents")
    # Tokenize + structurally filter ONCE, checkpoint the surviving token
    # arrays, and feed both models from the checkpoint (the operators'
    # tokens_col entry point). The old shape re-ran the documents scan +
    # regex normalization + split once per model branch and once for the
    # join spine -- ~5 full tokenization passes, the dominant cost of the
    # composite at the decade point. Bigrams/unigrams of the materialized
    # arrays are expression-identical to bigrams of the text, so the
    # oracle-pinned output cannot change.
    toks = text.tokens("text")
    base = docs.select("doc_id", "lang", toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    sum_len = F.aggregate(
        F.col("__toks"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    fil = base.filter(
        n.between(3, 500) & (sum_len >= 2 * n) & (sum_len <= 12 * n)
    ).localCheckpoint(eager=False)
    lm = text.bigram_logprob(fil, lam=0.75, tokens_col="__toks")
    wt = text.dsir_weights(
        fil, target=F.col("lang") == "en", buckets=1024, seed="dsir0",
        tokens_col="__toks",
    )
    joined = (
        fil.select("doc_id", "lang")
        .join(lm, "doc_id")
        .join(wt.select("doc_id", "LOG_WEIGHT"), "doc_id")
    )
    wlang = Window.partitionBy("lang")
    sel = joined.select(
        F.col("doc_id").alias("DOC_ID"),
        F.col("lang").alias("LANG"),
        "N_BIGRAMS",
        "AVG_NEG_LOGPROB",
        "LOG_WEIGHT",
        F.row_number()
        .over(wlang.orderBy(F.col("AVG_NEG_LOGPROB").asc(), F.col("doc_id")))
        .alias("__rn"),
        F.count(F.lit(1)).over(wlang).alias("__cnt"),
    )
    return sel.filter(
        (F.col("__rn") <= F.ceil(F.col("__cnt") * 0.5)) & (F.col("LOG_WEIGHT") > 0)
    ).drop("__rn", "__cnt")


@query(
    "docs_bigram_ppx_scored",
    oracle=f"""
WITH tr AS (SELECT {_TOKS_NE} AS toks FROM documents WHERE lang = 'en'),
tocc AS (
  SELECT unnest(CASE WHEN len(toks) < 2 THEN []::STRUCT(w1 VARCHAR, w2 VARCHAR)[]
                     ELSE list_transform(range(0, len(toks) - 1),
                                         i -> {{'w1': toks[i + 1], 'w2': toks[i + 2]}})
                END, recursive := true) AS _
  FROM tr
),
tpair0 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM tocc GROUP BY 1, 2),
tstart AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1s FROM tpair0 GROUP BY 1),
tpairs AS (SELECT w1, w2, c12, c1s FROM tpair0 JOIN tstart USING (w1)),
ttok AS (SELECT unnest(toks) AS w FROM tr),
tuni AS (SELECT w AS w2, CAST(COUNT(*) AS BIGINT) AS c FROM ttok GROUP BY 1),
tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ttok),
bocc4 AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) < 2 THEN []::STRUCT(w1 VARCHAR, w2 VARCHAR)[]
                     ELSE list_transform(range(0, len(toks) - 1),
                                         i -> {{'w1': toks[i + 1], 'w2': toks[i + 2]}})
                END, recursive := true) AS _
  FROM (SELECT doc_id, {_TOKS_NE} AS toks FROM documents)
),
bdp AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM bocc4 GROUP BY 1, 2, 3),
s AS (
  SELECT bdp.doc_id, bdp.k,
         CAST({sql_rhu(
             "-ln(0.75 * (CASE WHEN c1s IS NOT NULL THEN COALESCE(c12, 0) / c1s ELSE 0.0 END)"
             " + 0.25 * (COALESCE(c, 0.5) / n))", 9)} AS DECIMAL(28,9)) AS srp
  FROM bdp
  LEFT JOIN tpairs USING (w1, w2)
  LEFT JOIN tuni USING (w2), tn
)
SELECT doc_id, CAST(SUM(k) AS BIGINT) AS N_BIGRAMS,
       {sql_rhu("CAST(SUM(CAST(k AS DECIMAL(9,0)) * srp) AS DOUBLE) / SUM(k)", 6)} AS AVG_NEG_LOGPROB
FROM s GROUP BY 1
""",
)
def q_docs_bigram_ppx_scored(spark: SparkSession, sf_dir: str):
    """CCNet-setup perplexity scoring (text.bigram_lm_model + _score):
    the interpolated bigram LM trains on the TRUSTED slice (lang='en')
    and every document -- including out-of-domain ones -- is scored with
    finite OOV backoff (unseen pair -> unigram term only; unseen word ->
    half-count). The production split of docs_bigram_logprob: model
    tables persist, deliveries score O(batch)."""
    docs = read_table(spark, sf_dir, "documents")
    pairs, unigrams = text.bigram_lm_model(docs.filter(F.col("lang") == "en"))
    return text.bigram_lm_score(docs, pairs, unigrams, lam=0.75)


@query(
    "emb_sq8_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qz AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(x * 127 / list_max(list_transform(v, y -> abs(y))) + 0.5) AS BIGINT))
         END AS q
  FROM e
),
qs AS (SELECT vec_id AS QUERY_ID, q AS qq FROM qz WHERE vec_id < 4),
pairs AS (
  SELECT qs.QUERY_ID, c.vec_id AS NEIGHBOR_ID,
         list_dot_product(c.q, qs.qq) AS dp,
         list_dot_product(c.q, c.q) AS nc,
         list_dot_product(qs.qq, qs.qq) AS nq
  FROM qz c, qs WHERE c.vec_id <> qs.QUERY_ID
),
scored AS (
  SELECT QUERY_ID, NEIGHBOR_ID,
         {sql_rhu("CASE WHEN nc > 0 AND nq > 0 THEN dp / (sqrt(nc) * sqrt(nq)) ELSE 0.0 END", 6)}
           AS SQ8_COSINE
  FROM pairs
)
SELECT QUERY_ID, NEIGHBOR_ID, SQ8_COSINE,
       CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID
                               ORDER BY SQ8_COSINE DESC, NEIGHBOR_ID) AS BIGINT) AS NEIGHBOR_RANK
FROM scored
QUALIFY NEIGHBOR_RANK <= 5
""",
)
def q_emb_sq8_topk(spark: SparkSession, sf_dir: str):
    """Compressed-domain SQ8 cosine top-k (similarity.sq8_topk): the
    per-vector AMAX scales cancel in the cosine, so ranking runs on pure
    int8 codes with EXACT integer dot products -- the only ANN scoring
    path whose ranking is hash-reproducible cross-engine (float ADC
    paths are rows-only). Queries = vectors 0-3, k = 5."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.sq8_topk(emb, emb.filter(F.col("vec_id") < 4), k=5)


@query(
    "docs_minhash_jaccard_est",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_NE} AS t FROM documents),
ng AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+2], ' ')) AS h
  FROM tok, UNNEST(range(1, len(t)-1)) AS u(i)
  WHERE len(t) >= 3
),
ex AS (SELECT doc_id, h, p.PERM FROM ng, (SELECT UNNEST(range(0, 32)) AS PERM) p),
sig AS (
  SELECT doc_id, CAST(PERM AS INT) AS perm,
         MIN(md5(h || '|' || CAST(PERM AS VARCHAR) || '|mj0')) AS minh
  FROM ex GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, perm // 8 AS band,
         md5(string_agg(minh, ',' ORDER BY perm)) AS bh
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
m AS (
  SELECT c.ida, c.idb,
         SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS n_match
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.ida
  JOIN sig sb ON sb.doc_id = c.idb AND sb.perm = sa.perm
  GROUP BY 1, 2
)
SELECT ida AS ID_A, idb AS ID_B, CAST(n_match AS BIGINT) AS N_MATCH,
       {sql_rhu("n_match / 32.0", 6)} AS EST_JACCARD
FROM m
""",
)
def q_docs_minhash_jaccard_est(spark: SparkSession, sf_dir: str):
    """Doc-level banded MinHash candidates with ESTIMATED Jaccard on the
    portable md5 permutation lattice (dedup.minhash_jaccard_portable):
    the oracle-verified instance of the LSH mechanism the xxhash64 fast
    path (docs_minhash_lsh_pairs, rows-only) runs at scale -- candidates
    AND estimates are bit-reproducible cross-engine because the
    estimator is deterministic given the data. 32 perms, 4 bands of 8."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.minhash_jaccard_portable(docs, num_perm=32, bands=4, seed="mj0")


# --- mixture -> epochs -> materialized training feed (the data-mixing
# recipe that REPEATS small high-weight sources instead of only
# downsampling big ones; sampling.epoch_plan / materialize_epochs)

_EPOCH_PLAN_SQL = """
  SELECT source,
         CAST(SUM(n_chars) AS BIGINT) AS N_UNITS,
         CASE WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 2 = 0
              THEN 25000 ELSE 75000 END AS WEIGHT_PPM
  FROM documents GROUP BY 1
"""


@query(
    "docs_epoch_plan",
    oracle=f"""
WITH tot AS ({_EPOCH_PLAN_SQL})
SELECT source AS SOURCE, N_UNITS, WEIGHT_PPM,
       CAST((CAST(400000 AS BIGINT) * WEIGHT_PPM) // 1000000 AS BIGINT) AS TARGET_UNITS,
       CAST(CASE WHEN N_UNITS > 0 THEN
         LEAST((CAST((CAST(400000 AS BIGINT) * WEIGHT_PPM) // 1000000 AS BIGINT) * 1000) // N_UNITS,
               3000)
       ELSE 0 END AS BIGINT) AS EPOCHS_MILLI
FROM tot
""",
)
def q_docs_epoch_plan(spark: SparkSession, sf_dir: str):
    """Per-source epoch plan for a 400k-char budget: even-numbered
    sources get 2.5% of the budget each, odd ones 7.5% (the weight rule
    is computed from the source NAME so both engines derive it
    identically at any SF). Sub-epoch targets show as EPOCHS_MILLI < 1000
    (read a fraction), over-budget targets as > 1000 (repeat the source),
    capped at 3 epochs -- all integer ppm/milli arithmetic, exact in any
    engine."""
    from ..operators.sampling import epoch_plan

    docs = read_table(spark, sf_dir, "documents")
    w = F.when(
        F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("int") % 2 == 0,
        25000,
    ).otherwise(75000)
    return epoch_plan(
        docs, "source", w, budget_units=400000, unit_col="n_chars",
        max_epochs_milli=3000,
    )


@query(
    "docs_epoch_materialize",
    oracle=f"""
WITH tot AS ({_EPOCH_PLAN_SQL}),
plan AS (
  SELECT source,
         CASE WHEN N_UNITS > 0 THEN
           LEAST((CAST((CAST(400000 AS BIGINT) * WEIGHT_PPM) // 1000000 AS BIGINT) * 1000) // N_UNITS,
                 3000)
         ELSE 0 END AS em
  FROM tot
),
c AS (
  SELECT d.doc_id, d.source,
         CAST(p.em // 1000
              + CASE WHEN SUBSTRING(MD5(CAST(d.doc_id AS VARCHAR) || '|' || 'ep1'), 1, 8)
                          < printf('%08x', ((p.em % 1000) * 4294967296) // 1000)
                     THEN 1 ELSE 0 END AS INT) AS copies
  FROM documents d JOIN plan p USING (source)
)
SELECT doc_id AS DOC_ID, source AS SOURCE,
       CAST(UNNEST(range(1, copies + 1)) AS INT) AS EPOCH
FROM c
""",
)
def q_docs_epoch_materialize(spark: SparkSession, sf_dir: str):
    """The docs_epoch_plan mix made physical: every doc repeated
    EPOCHS_MILLI div 1000 times plus a reproducible md5-keyed extra pass
    for the fractional remainder, each copy tagged with its 1-based
    EPOCH index. Broadcast plan join + scan-stage sequence-explode: no
    shuffle; at 100 TB the output streams straight to the training-shard
    sink."""
    from ..operators.sampling import epoch_plan, materialize_epochs

    docs = read_table(spark, sf_dir, "documents")
    w = F.when(
        F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("int") % 2 == 0,
        25000,
    ).otherwise(75000)
    plan = epoch_plan(
        docs, "source", w, budget_units=400000, unit_col="n_chars",
        max_epochs_milli=3000,
    )
    out = materialize_epochs(docs, plan, "source", key_cols=["doc_id"], seed="ep1")
    return out.select(
        F.col("doc_id").alias("DOC_ID"),
        F.col("source").alias("SOURCE"),
        F.col("EPOCH").cast("int").alias("EPOCH"),
    )


@query(
    "docs_head_vocab_drift",
    oracle=f"""
WITH tok AS (
  SELECT source AS SOURCE, unnest({_TOKS_NE}) AS W FROM documents
),
csw AS (SELECT SOURCE, W, CAST(COUNT(*) AS BIGINT) AS N_SW FROM tok GROUP BY 1, 2),
cw AS (SELECT W, CAST(COUNT(*) AS BIGINT) AS N_W FROM tok GROUP BY 1),
top AS (SELECT W, N_W FROM cw ORDER BY N_W DESC, W LIMIT 300),
tot AS (SELECT SOURCE, CAST(COUNT(*) AS BIGINT) AS N_S FROM tok GROUP BY 1),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS N_C FROM tok),
obs AS (
  SELECT g.SOURCE, g.N_S, g.N_W, g.N_C, COALESCE(s.N_SW, 0) AS N_SW
  FROM (SELECT t.SOURCE, t.N_S, p.W, p.N_W, c.N_C FROM tot t, top p, c) g
  LEFT JOIN csw s ON g.SOURCE = s.SOURCE AND g.W = s.W
)
SELECT SOURCE, MAX(N_S) AS N_TOKENS,
       CAST(SUM(ABS(CAST((N_SW * 1000000) // N_S AS BIGINT)
                    - CAST((N_W * 1000000) // N_C AS BIGINT))) AS BIGINT)
         AS HEAD_DRIFT_PPM
FROM obs
GROUP BY 1
ORDER BY 1
""",
)
def q_docs_head_vocab_drift(spark: SparkSession, sf_dir: str):
    """Source mixture-drift monitor (text.head_vocab_drift): exact
    total-variation distance in ppm between each source's token
    distribution and the corpus, over the top-300 head vocabulary. One
    token explode feeds all aggregations; the head vocab is a bounded
    TakeOrdered frame broadcast against the handful of sources (absent
    head tokens count as observed zero); every term is integer ppm, so
    the drift ranking is deterministic and oracle-exact. The companion to
    docs_source_datasheet / docs_temperature_mix: datasheet says what a
    source IS, this says when it CHANGES."""
    from ..operators.text import head_vocab_drift

    docs = read_table(spark, sf_dir, "documents")
    return head_vocab_drift(docs, "source", "text", top_k=300).orderBy("SOURCE")


@query(
    "docs_dup_substring_spans",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
w AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+7], ' ')) AS wh
  FROM t, UNNEST(range(1, len(toks) - 8 + 2)) AS u(i)
),
d AS (SELECT wh FROM w GROUP BY wh HAVING COUNT(*) >= 2),
f AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (wh)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM f
),
i2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
  FROM m
)
SELECT doc_id AS DOC_ID,
       CAST(MIN(pos) AS BIGINT) AS SPAN_START,
       CAST(MAX(pos) + 7 AS BIGINT) AS SPAN_END,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS N_TOKENS,
       CAST(COUNT(*) AS BIGINT) AS N_WINDOWS
FROM i2 GROUP BY doc_id, isl
""",
)
def q_docs_dup_substring_spans(spark: SparkSession, sf_dir: str):
    """Exact substring-duplication spans (the suffix-array dedup report of
    Lee et al. 2021, re-expressed distributed): every 8-token window
    repeated anywhere in the corpus, merged per document into maximal
    spans via gaps-and-islands. Rolling windows ride ONE doc-keyed
    position sort; repeated windows meet in one md5-keyed groupBy + a
    semi-join back on the same key; no suffix array, no all-pairs stage.
    The span remover's input: cutting [SPAN_START, SPAN_END] from each doc
    is exactly the paper's dedup step."""
    from ..operators.dedup import duplicated_spans

    docs = read_table(spark, sf_dir, "documents")
    out = duplicated_spans(docs, k=8)
    return out.select(
        F.col("doc_id").alias("DOC_ID"),
        "SPAN_START",
        "SPAN_END",
        "N_TOKENS",
        "N_WINDOWS",
    )


@query(
    "docs_incremental_dup_spans",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
w AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+7], ' ')) AS wh
  FROM t, UNNEST(range(1, len(toks) - 8 + 2)) AS u(i)
),
ix AS (SELECT DISTINCT wh FROM w WHERE doc_id % 3 = 0),
bw AS (SELECT doc_id, pos, wh FROM w WHERE doc_id % 3 <> 0),
dup AS (SELECT wh FROM bw GROUP BY wh HAVING COUNT(*) >= 2),
hit AS (SELECT wh FROM dup UNION SELECT wh FROM ix),
f AS (SELECT bw.doc_id, bw.pos FROM bw JOIN hit USING (wh)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM f
),
i2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
  FROM m
)
SELECT doc_id AS DOC_ID,
       CAST(MIN(pos) AS BIGINT) AS SPAN_START,
       CAST(MAX(pos) + 7 AS BIGINT) AS SPAN_END,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS N_TOKENS,
       CAST(COUNT(*) AS BIGINT) AS N_WINDOWS
FROM i2 GROUP BY doc_id, isl
""",
)
def q_docs_incremental_dup_spans(spark: SparkSession, sf_dir: str):
    """Incremental substring-duplication spans (dedup.
    duplicated_spans_incremental): docs with doc_id%3==0 play the
    persisted window-hash index (dedup.substring_hash_index); the rest
    arrive as the delivery and report every span duplicating the index or
    the delivery itself. The production shape of Lee-et-al substring
    dedup -- the corpus is never re-tokenized, the probe is one
    hash-keyed join -- and, unlike the MinHash incremental path, fully
    deterministic, so the whole report value-hashes against the oracle."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ix = dedup.substring_hash_index(docs.filter(F.col("doc_id") % 3 == 0), k=8)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup.duplicated_spans_incremental(batch, ix, k=8)
    return out.select(
        F.col("doc_id").alias("DOC_ID"),
        "SPAN_START",
        "SPAN_END",
        "N_TOKENS",
        "N_WINDOWS",
    )


@query(
    "docs_scrubbed_text",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
w AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+7], ' ')) AS wh
  FROM t, UNNEST(range(1, len(toks) - 8 + 2)) AS u(i)
),
d AS (SELECT wh FROM w GROUP BY wh HAVING COUNT(*) >= 2),
f AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (wh)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM f
),
i2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
  FROM m
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
  FROM i2 GROUP BY doc_id, isl
),
tok AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tk
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
),
cov AS (
  SELECT DISTINCT tok.doc_id, tok.pos
  FROM tok JOIN spans ON tok.doc_id = spans.doc_id
                     AND tok.pos BETWEEN spans.s AND spans.e
),
kept AS (
  SELECT tok.doc_id, tok.pos, tok.tk
  FROM tok ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
)
SELECT k.doc_id AS DOC_ID,
       string_agg(k.tk, ' ' ORDER BY k.pos) AS CLEAN_TEXT,
       CAST(COUNT(*) AS BIGINT) AS N_TOKENS_KEPT,
       CAST(COALESCE(MAX(c.nd), 0) AS BIGINT) AS N_TOKENS_DROPPED
FROM kept k
LEFT JOIN (SELECT doc_id, COUNT(*) AS nd FROM cov GROUP BY 1) c
  ON k.doc_id = c.doc_id
GROUP BY k.doc_id
""",
)
def q_docs_scrubbed_text(spark: SparkSession, sf_dir: str):
    """The full Lee-et-al substring dedup applied end-to-end
    (dedup.duplicated_spans -> dedup.remove_spans): every duplicated
    8-token span is cut from its document and the survivors reassembled
    in token order -- CLEAN_TEXT is the training-ready corpus. Span
    detection is the hash-meet pipeline; removal is a doc-keyed range
    semi-join (spans per doc are few) and one ordered per-doc
    reassembly. Pure duplicates (all tokens covered) drop out entirely;
    the oracle replays detection, coverage, and reassembly verbatim."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    spans = dedup.duplicated_spans(docs, k=8)
    out = dedup.remove_spans(docs, spans)
    return out.select(
        F.col("doc_id").alias("DOC_ID"),
        "CLEAN_TEXT",
        "N_TOKENS_KEPT",
        "N_TOKENS_DROPPED",
    )


@query(
    "docs_substring_novelty",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_NE} AS toks FROM documents),
w AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS wh
  FROM t, UNNEST(range(1, len(toks) - 8 + 2)) AS u(i)
),
ix AS (SELECT DISTINCT wh FROM w WHERE doc_id % 3 = 0),
bw AS (SELECT doc_id, wh FROM w WHERE doc_id % 3 <> 0),
agg AS (
  SELECT bw.doc_id,
         CAST(COUNT(*) AS BIGINT) AS N_WINDOWS,
         CAST(SUM(CASE WHEN ix.wh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS N_SEEN
  FROM bw LEFT JOIN ix ON bw.wh = ix.wh
  GROUP BY 1
)
SELECT doc_id AS DOC_ID, N_WINDOWS, N_SEEN,
       CAST(((N_WINDOWS - N_SEEN) * 1000000) // N_WINDOWS AS BIGINT) AS NOVELTY_PPM
FROM agg
""",
)
def q_docs_substring_novelty(spark: SparkSession, sf_dir: str):
    """Per-document novelty score (dedup.substring_novelty): the ppm
    share of each delivery document's 8-token windows absent from the
    reference corpus's window-hash index (docs with doc_id%3==0 play the
    reference) -- the freshness/memorization-risk complement of the
    incremental span report, with the identical probe cost: batch
    tokenization + one hash-keyed join, reference never re-read."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ix = dedup.substring_hash_index(docs.filter(F.col("doc_id") % 3 == 0), k=8)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup.substring_novelty(batch, ix, k=8)
    return out.select(
        F.col("doc_id").alias("DOC_ID"), "N_WINDOWS", "N_SEEN", "NOVELTY_PPM"
    )


_RDV_SHARDS = [f"shard-{i}" for i in range(8)]


@query(
    "docs_rendezvous_shards",
    oracle=f"""
WITH s AS (SELECT UNNEST(ARRAY[{", ".join(repr(s) for s in _RDV_SHARDS)}]) AS sh),
sc AS (
  SELECT d.doc_id, s.sh,
         md5(CAST(d.doc_id AS VARCHAR) || '|' || s.sh) AS h
  FROM documents d CROSS JOIN s
),
r AS (
  SELECT doc_id, sh, h,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, sh DESC) AS rn
  FROM sc
)
SELECT doc_id AS DOC_ID, sh AS SHARD, h AS SHARD_SCORE FROM r WHERE rn = 1
""",
)
def q_docs_rendezvous_shards(spark: SparkSession, sf_dir: str):
    """Rendezvous shard assignment (sampling.rendezvous_assign) of every
    document to one of 8 named shards -- highest md5(key|shard) wins, a
    pure scan-stage expression with zero shuffle, replayed exactly by the
    oracle's unnest + row_number. The reshard-stability invariant (adding
    a shard moves keys ONLY to the new shard, ~1/(N+1) of them) is
    pinned exactly in tests/test_sampling.py."""
    from ..operators.sampling import rendezvous_assign

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return rendezvous_assign(docs, "doc_id", _RDV_SHARDS).select(
        F.col("doc_id").alias("DOC_ID"), "SHARD", "SHARD_SCORE"
    )


@query("docs_mojibake_screen", oracle=text.mojibake_sql())
def q_docs_mojibake_screen(spark: SparkSession, sf_dir: str):
    """Encoding-quality screen (text.mojibake_report):
    per-document counts of U+FFFD replacement characters,
    UTF-8-decoded-as-Latin-1 ghost digraphs (literal substrings counted
    by pure length arithmetic -- no regex, engine-exact), and C0 control
    junk, rolled into an integer BAD_PPM and a SUSPECT quarantine flag.
    The re-encode work-list a corpus ingest runs BEFORE tokenization;
    scan-stage only. The oracle is generated from the SAME pattern
    literals (text.mojibake_sql)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.mojibake_report(docs)


def _bm25_ndcg_oracle() -> str:
    """NDCG@10 oracle: the bm25 CTE chain + graded relevance (# distinct
    query terms present) + the shared ppm discount codebook as literals."""
    from ..operators.ranking import ndcg_discounts_ppm

    discs = "[" + ", ".join(str(d) for d in ndcg_discounts_ppm(10)) + "]"
    return f"""
WITH b2 AS (SELECT doc_id, CAST(len({_TOKS_NE}) AS DOUBLE) AS dl, {_TOKS_NE} AS toks FROM documents),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM b2),
hits AS (
  SELECT doc_id, dl, TERM, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS TERM FROM b2)
  WHERE TERM IN ('table', 'scan', 'fast')
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT TERM, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfx FROM hits GROUP BY 1),
per AS (
  SELECT h.doc_id,
         h.TERM,
         ln(1.0 + (s.n - d.dfx + 0.5) / (d.dfx + 0.5))
           * (h.tf * 2.2) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / s.avgdl)) AS sc
  FROM hits h JOIN dfreq d USING (TERM), stats s
),
agg AS (
  SELECT doc_id,
         SUM(CASE WHEN TERM = 'table' THEN sc END) AS s0,
         SUM(CASE WHEN TERM = 'scan' THEN sc END) AS s1,
         SUM(CASE WHEN TERM = 'fast' THEN sc END) AS s2
  FROM per GROUP BY doc_id
),
ranked AS (
  SELECT doc_id,
         FLOOR((COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0)) * 1000000 + 0.5) / 1000000 AS SCORE
  FROM agg ORDER BY SCORE DESC, doc_id LIMIT 10
),
rel AS (
  SELECT doc_id,
         CAST(len(list_intersect(list_distinct({_TOKS_NE}),
                                 ['table', 'scan', 'fast'])) AS BIGINT) AS REL
  FROM documents
),
j AS (SELECT r.doc_id, r.SCORE, rel.REL FROM ranked r JOIN rel USING (doc_id)),
sysg AS (
  SELECT SUM(REL * ({discs})[CAST(rk AS INT)]) AS dcg, COUNT(*) AS nr
  FROM (SELECT REL, ROW_NUMBER() OVER (ORDER BY SCORE DESC, doc_id) AS rk FROM j)
  WHERE rk <= 10
),
idealg AS (
  SELECT SUM(REL * ({discs})[CAST(rk AS INT)]) AS idcg
  FROM (SELECT REL,
               ROW_NUMBER() OVER (ORDER BY REL DESC, SCORE DESC, doc_id) AS rk
        FROM j)
  WHERE rk <= 10
)
SELECT CAST(10 AS BIGINT) AS K, CAST(nr AS BIGINT) AS N_RANKED,
       CAST(COALESCE(dcg, 0) AS BIGINT) AS DCG_PPM,
       CAST(COALESCE(idcg, 0) AS BIGINT) AS IDCG_PPM,
       CAST(CASE WHEN COALESCE(idcg, 0) > 0
                 THEN (COALESCE(dcg, 0) * 1000000) // idcg ELSE 0 END AS BIGINT)
         AS NDCG_PPM
FROM sysg, idealg
"""


@query("docs_bm25_ndcg", tags=("min2",), oracle=_bm25_ndcg_oracle())
def q_docs_bm25_ndcg(spark: SparkSession, sf_dir: str):
    """Retrieval quality of the BM25 ranking (operators/ranking.
    ndcg_at_k): NDCG@10 of docs_bm25_topk's list against a graded
    relevance label (# of the 3 query terms the document contains). The
    discount codebook floor(1e6/log2(rank+1)) is computed once in Python
    and embedded as literals in BOTH engines (the shared-literal
    pattern), so the metric is exact integers with no engine-side log.
    The ranked frame is 10 rows by construction -- the global windows
    inside ndcg_at_k are the documented bounded-frame exception."""
    from ..operators.ranking import ndcg_at_k

    docs = read_table(spark, sf_dir, "documents")
    ranked = text.bm25_topk(docs, ["table", "scan", "fast"], k=10)
    # broadcast the 10-row ranked frame INTO the corpus scan so relevance
    # tokenization runs only on the surviving 10 documents, not the corpus
    joined = docs.join(F.broadcast(ranked), "doc_id").select(
        "doc_id",
        "SCORE",
        F.size(
            F.array_intersect(
                F.array_distinct(text.tokens()),
                F.array(F.lit("table"), F.lit("scan"), F.lit("fast")),
            )
        )
        .cast("bigint")
        .alias("REL"),
    )
    return ndcg_at_k(
        joined, "REL", [F.col("SCORE").desc(), F.col("doc_id")], k=10
    )


def _mmr_oracle(k: int = 5, pool: int = 20, lam: int = 700000) -> str:
    """Unrolled greedy MMR replay: candidate pool + pairwise lattice
    cosines as CTEs, then one correlated-argmax CTE per selection step
    (bounded k, so the unroll is fixed-size)."""
    lam_c = 10**6 - lam
    head = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cand AS (
  SELECT c.vec_id,
         CAST(FLOOR((list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))))
            * 1000000 + 0.5) AS BIGINT) AS rel
  FROM e c, q WHERE c.vec_id <> 0
  QUALIFY ROW_NUMBER() OVER (ORDER BY rel DESC, c.vec_id) <= {pool}
),
cv AS (SELECT cand.vec_id, cand.rel, e.v FROM cand JOIN e USING (vec_id)),
sims AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         CAST(FLOOR((list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
            * 1000000 + 0.5) AS BIGINT) AS s
  FROM cv a, cv b WHERE a.vec_id <> b.vec_id
),
p1 AS (SELECT vec_id, rel, CAST(0 AS BIGINT) AS ms
       FROM cv ORDER BY rel DESC, vec_id LIMIT 1),
sel1 AS (SELECT vec_id FROM p1)"""
    steps, selects = [], [
        f"SELECT CAST(1 AS BIGINT) AS SELECT_RANK, vec_id AS VEC_ID, rel AS REL_PPM,"
        f" ms AS MAX_SIM_PPM, CAST({lam} * rel - {lam_c} * ms AS BIGINT) AS MMR_SCORE FROM p1"
    ]
    for t in range(2, k + 1):
        steps.append(f""",
p{t} AS (
  SELECT vec_id, rel, ms FROM (
    SELECT c.vec_id, c.rel,
           (SELECT MAX(s.s) FROM sims s JOIN sel{t - 1} ON s.j = sel{t - 1}.vec_id
            WHERE s.i = c.vec_id) AS ms
    FROM cv c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
  )
  ORDER BY {lam} * rel - {lam_c} * ms DESC, vec_id LIMIT 1
),
sel{t} AS (SELECT vec_id FROM sel{t - 1} UNION ALL SELECT vec_id FROM p{t})""")
        selects.append(
            f"SELECT CAST({t} AS BIGINT), vec_id, rel, ms,"
            f" CAST({lam} * rel - {lam_c} * ms AS BIGINT) FROM p{t}"
        )
    return head + "".join(steps) + "\n" + "\nUNION ALL\n".join(selects)


@query("emb_mmr_select", tags=("min2",), oracle=_mmr_oracle())
def q_emb_mmr_select(spark: SparkSession, sf_dir: str):
    """Maximal Marginal Relevance context selection (operators/
    similarity.mmr_select): the 5 most query-relevant-yet-mutually-
    diverse vectors for query vec 0, from a 20-candidate pool scored
    distributed (brute_force_topk broadcasts the query against the whole
    corpus); the greedy loop runs over the collected bounded pool with
    pairwise cosines from the same sequential IEEE accumulation as the
    oracle's list_dot_product. Every pick replays verbatim through the
    unrolled correlated-argmax CTEs."""
    from ..operators.similarity import mmr_select

    emb = read_table(spark, sf_dir, "embeddings")
    return mmr_select(emb, query_id=0, k=5, pool=20)
