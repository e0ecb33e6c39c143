"""Driver-checked queries + DuckDB oracles for the training-data ops
(dedup / similarity / text analysis / multimodal), over the driver's
``documents`` and ``embeddings`` parquet tables.

Duplicate fixtures are synthesized deterministically in BOTH dialects (the
driver tables contain no duplicates by construction): exact copies at
doc_id+10000000 for doc_id%7==0, near-dup mutations (first two words
dropped) at doc_id+10000000 for doc_id%5==0, scaled embedding copies at
vec_id+10000000 for vec_id%50==0. The offset exceeds every real id at any
scale factor (collision with genuine ids at sf0.1 was a real bug).

Every ``q_<name>`` here is paired with the ``oracle_<name>`` next to it by
``loongcollector_spark.queries._registry``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import configure_existing
from . import similarity, text
from .multimodal import attach_media, extract_media_features

# ---------------------------------------------------------------------------
# fixtures (dual-dialect)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_existing(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _exact_dup_corpus(docs: DataFrame) -> DataFrame:
    copies = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000000
    )
    return docs.unionByName(copies)


_EXACT_CORPUS_SQL = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)"""


def _mutated(docs: DataFrame) -> DataFrame:
    """Near-dup mutation: drop the first two whitespace tokens."""
    mut = F.array_join(
        F.slice(F.split(F.col("text"), r"\s+"), 3, 1000000), " "
    )
    return docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"), mut.alias("text")
    )


def _near_dup_corpus(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text").unionByName(_mutated(docs))


_NEAR_CORPUS_SQL = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(list_slice(string_split_regex(text, '\\s+'), 3, 1000000), ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
)"""

def _capped_cand_sql(
    keys: str = "band, bkey",
    id_col: str = "doc_id",
    cap: int = 64,
    anchors: int = 1,
    src: str = "bands",
) -> str:
    """SQL mirror of text.capped_bucket_pairs: `cand(id_a, id_b)` from bucket
    co-membership in `src`, with oversized buckets (> cap) reduced to pairs
    touching the `anchors` lowest-id members."""
    cols = [k.strip() for k in keys.split(",")]
    on = " AND ".join(f"a.{k} = b.{k}" for k in cols)
    return f"""ranked AS (
  SELECT {id_col}, {keys},
         row_number() OVER (PARTITION BY {keys} ORDER BY {id_col}) AS rk,
         count(*) OVER (PARTITION BY {keys}) AS bn
  FROM {src}
),
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM ranked a JOIN ranked b ON {on} AND a.{id_col} < b.{id_col}
  WHERE a.bn <= {cap}
  UNION
  SELECT DISTINCT least(a.{id_col}, b.{id_col}) AS id_a,
                  greatest(a.{id_col}, b.{id_col}) AS id_b
  FROM ranked a JOIN ranked b ON {on} AND a.{id_col} <> b.{id_col}
  WHERE a.bn > {cap} AND a.rk <= {anchors}
)"""


# shared shingle SQL over `corpus` (3-gram distinct shingles per doc)
_SHINGLES_SQL = """w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS wl FROM corpus),
pos AS (SELECT doc_id, unnest(wl) AS word, unnest(range(1, len(wl)+1)) AS p FROM w),
sh0 AS (
  SELECT doc_id,
         word || ' ' || lead(word,1) OVER win || ' ' || lead(word,2) OVER win AS shingle
  FROM pos WINDOW win AS (PARTITION BY doc_id ORDER BY p)
),
shingles AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL)"""


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _exact_dup_corpus(_docs(spark, sf_dir))
    out = text.ExactDedup().apply(corpus)
    return out.select("doc_id", F.col("__text_hash__").alias("text_hash"))


def oracle_dedup_exact() -> str:
    return f"""WITH {_EXACT_CORPUS_SQL}
SELECT doc_id, md5(text) AS text_hash FROM corpus
QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _near_dup_corpus(_docs(spark, sf_dir))
    return text.minhash_near_dup_pairs(corpus, threshold=0.5)


def oracle_dedup_minhash() -> str:
    return f"""WITH {_NEAR_CORPUS_SQL},
{_SHINGLES_SQL},
mh AS (
  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
  FROM shingles CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY doc_id, s.seed
),
sig AS (SELECT doc_id, list(h ORDER BY seed) AS sg FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, md5(sg[2*b.band + 1] || sg[2*b.band + 2]) AS bkey
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
),
{_capped_cand_sql()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
scored AS (
  SELECT c.id_a, c.id_b,
    round(CAST(coalesce(i.i, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.i, 0)), 4) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5"""


def _hot_corpus(spark: SparkSession, docs: DataFrame, n_copies: int = 1000) -> DataFrame:
    """Near-dup corpus PLUS a hot cluster: ``n_copies`` exact copies of the
    lowest-doc_id document at doc_id 20000000+i — the boilerplate-cluster
    shape that makes every band bucket of the cluster hold n_copies+1
    members (the common case in web corpora that blows up an uncapped LSH
    self-join)."""
    base = _near_dup_corpus(docs)
    seed = docs.orderBy("doc_id").limit(1).select("text")
    copies = (
        spark.range(n_copies)
        .crossJoin(F.broadcast(seed))
        .select((F.col("id") + 20000000).alias("doc_id"), "text")
    )
    return base.unionByName(copies)


def q_dedup_minhash_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup over a corpus containing a 1000-copy hot cluster:
    exercises the per-bucket candidate cap (star pairing against the min-id
    representative) — output stays O(cluster), not O(cluster²). Returns
    per-cluster aggregates (pair lists would be 1000+ rows of redundancy)."""
    corpus = _hot_corpus(spark, _docs(spark, sf_dir))
    pairs = text.minhash_near_dup_pairs(corpus, threshold=0.5)
    clusters = text.near_dup_clusters(pairs)
    return (
        clusters.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("members"))
        .orderBy("cluster")
    )


def oracle_dedup_minhash_hot() -> str:
    hot_corpus_sql = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(list_slice(string_split_regex(text, '\\s+'), 3, 1000000), ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 20000000 + i AS doc_id,
         (SELECT text FROM documents ORDER BY doc_id LIMIT 1) AS text
  FROM range(0, 1000) t(i)
)"""
    return f"""WITH RECURSIVE {hot_corpus_sql},
{_SHINGLES_SQL},
mh AS (
  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
  FROM shingles CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY doc_id, s.seed
),
sig AS (SELECT doc_id, list(h ORDER BY seed) AS sg FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, md5(sg[2*b.band + 1] || sg[2*b.band + 2]) AS bkey
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
),
{_capped_cand_sql()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.i, 0)), 4) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(node, reach) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
),
clusters AS (SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS cluster FROM walk GROUP BY node)
SELECT cluster, count(*) AS members FROM clusters GROUP BY cluster ORDER BY cluster"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct n-gram Jaccard between each doc and its known mutation (the
    verification kernel of the dedup pipeline, measured standalone)."""
    docs = _docs(spark, sf_dir)
    corpus = _near_dup_corpus(docs)
    pairs = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 10000000).alias("id_b")
    )
    return text.jaccard_verify(pairs, corpus, threshold=0.0).select(
        "id_a", "id_b", "jaccard"
    )


def oracle_ngram_jaccard() -> str:
    return f"""WITH {_NEAR_CORPUS_SQL},
{_SHINGLES_SQL},
pairs AS (SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM documents WHERE doc_id % 5 = 0),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS i
  FROM pairs p
  JOIN shingles sa ON sa.doc_id = p.id_a
  JOIN shingles sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
  round(CAST(coalesce(i.i, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.i, 0)), 4) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes na ON na.doc_id = p.id_a
JOIN sizes nb ON nb.doc_id = p.id_b"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.simhash16(_docs(spark, sf_dir))


def oracle_dedup_simhash() -> str:
    hexv = "strpos('123456789abcdef', substring(md5(word), {i}, 1))"
    val = " + ".join(f"{hexv.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4))
    sums = ",\n  ".join(
        f"sum(CASE WHEN (val // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    bits = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""WITH w AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents
),
v AS (SELECT doc_id, ({val}) AS val FROM w),
s AS (SELECT doc_id, {sums} FROM v GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS INTEGER) AS simhash FROM s"""


# ---------------------------------------------------------------------------
# similarity queries
# ---------------------------------------------------------------------------

_PLANES = similarity.hyperplanes(64, 4)


def _plane_sql(p: list[int]) -> str:
    return "[" + ", ".join(f"{float(x):.1f}" for x in p) + "]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_plane_sql(p)}) > 0 THEN {1 << b} ELSE 0 END)"
    for b, p in enumerate(_PLANES)
)

_COS_SQL = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.brute_force_topk(embs.select("vec_id", "embedding"), queries, k=5)


def oracle_embed_topk() -> str:
    cos = _COS_SQL.format(a="v.e", b="q.qe")
    return f"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 3),
scored AS (
  SELECT q.qid, v.vec_id, {cos} AS cos
  FROM v CROSS JOIN q WHERE v.vec_id <> q.qid
)
SELECT qid, vec_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 5"""


def q_embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.lsh_topk(
        embs.select("vec_id", "embedding"), queries, _PLANES, k=5
    )


def oracle_embed_ann_lsh() -> str:
    cos = _COS_SQL.format(a="v.e", b="q.qe")
    return f"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
v AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM v0),
q AS (SELECT vec_id AS qid, e AS qe, bucket AS qbucket FROM v WHERE vec_id < 3),
scored AS (
  SELECT q.qid, v.vec_id, {cos} AS cos
  FROM v JOIN q ON v.bucket = q.qbucket AND v.vec_id <> q.qid
)
SELECT qid, vec_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 5"""


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    copies = embs.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    corpus = embs.unionByName(copies)
    return similarity.embedding_near_dup_pairs(corpus, _PLANES, threshold=0.999)


def oracle_embed_near_dup() -> str:
    cos = _COS_SQL.format(a="a.e", b="b.e")
    return f"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
corpus AS (
  SELECT vec_id, e FROM v0
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, list_transform(e, x -> x * 1.001) AS e
  FROM v0 WHERE vec_id % 50 = 0
),
vb AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM corpus),
{_capped_cand_sql(keys="bucket", id_col="vec_id", cap=256, anchors=16, src="vb")},
pairs AS (
  SELECT c.id_a, c.id_b, {cos} AS cos
  FROM cand c
  JOIN vb a ON a.vec_id = c.id_a
  JOIN vb b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.999"""


# ---------------------------------------------------------------------------
# text analysis queries
# ---------------------------------------------------------------------------


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.langid(_docs(spark, sf_dir))


def oracle_langid() -> str:
    sw = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS wl FROM documents)
SELECT doc_id,
  CASE WHEN CAST(len(list_filter(wl, x -> list_contains([{sw}], x))) AS DOUBLE)
            / greatest(len(wl), 1) >= 0.02
       THEN 'en' ELSE 'unknown' END AS pred_lang
FROM w"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_metrics(_docs(spark, sf_dir))


def oracle_quality() -> str:
    sw = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""WITH w AS (
  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS wl FROM documents
),
m AS (
  SELECT doc_id, text,
    len(wl) AS n_words,
    round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(wl, x -> CAST(length(x) AS BIGINT))), (a,b) -> a + b) AS DOUBLE) / greatest(len(wl), 1), 4) AS avg_word_len,
    round(CAST(len(list_filter(wl, x -> list_contains([{sw}], x))) AS DOUBLE) / greatest(len(wl), 1), 4) AS stopword_ratio,
    round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) AS punct_ratio
  FROM w
)
SELECT doc_id, n_words, avg_word_len, stopword_ratio, punct_ratio,
  round(
    (CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN avg_word_len >= 3 AND avg_word_len <= 10 THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN stopword_ratio >= 0.05 THEN 0.3 ELSE 0.0 END)
    - (CASE WHEN punct_ratio > 0.2 THEN 0.5 ELSE 0.0 END), 4) AS quality_score
FROM m"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.token_counts(_docs(spark, sf_dir))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("ws_tokens").cast("long").alias("ws_tokens"),
            F.sum("re_tokens").cast("long").alias("re_tokens"),
        )
        .orderBy("source")
    )


def oracle_token_stats() -> str:
    rx = text.TOKEN_RX  # DuckDB standard strings don't process backslashes
    return f"""SELECT source, count(*) AS docs,
  CAST(sum(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT) AS ws_tokens,
  CAST(sum(len(regexp_extract_all(text, '{rx}'))) AS BIGINT) AS re_tokens
FROM documents GROUP BY source ORDER BY source"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


def oracle_fingerprint() -> str:
    hexv = "strpos('123456789abcdef', substring(md5(x), {i}, 1))"
    val = " + ".join(
        f"{hexv.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    return f"""SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split_regex(lower(text), '\\s+'), x -> CAST({val} AS BIGINT))),
    (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
FROM documents"""


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_media(_docs(spark, sf_dir))
    out = extract_media_features(media)
    return out.select("doc_id", "n_bytes", "first_byte", "checksum")


def oracle_multimodal_features() -> str:
    return """SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(CASE WHEN length(text) > 0 THEN ascii(substring(text, 1, 1)) ELSE -1 END AS INTEGER) AS first_byte,
  CAST(list_reduce(list_prepend(0, list_transform(regexp_extract_all(text, '.'), x -> ascii(x))), (a,b) -> a + b) % 65536 AS INTEGER) AS checksum
FROM documents"""


# ---------------------------------------------------------------------------
# IVF ANN + composite curation pipeline
# ---------------------------------------------------------------------------


def q_embed_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantize every vector to its nearest centroid
    (centroids = the first 8 vectors — a deterministic stand-in for a k-means
    codebook), then exact top-k within the query's cell. At scale the table
    is partitioned by cell id → the probe scans one cell."""
    from . import similarity

    embs = _embs(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = embs.filter(F.col("vec_id") < 8).collect()
    cent_cols = [
        F.array(*[F.lit(float(v)) for v in r["e"]]) for r in sorted(cents, key=lambda r: r["vec_id"])
    ]

    def cell(vec):
        best_id, best_cos = F.lit(0), similarity.cosine(vec, cent_cols[0])
        for i, c in enumerate(cent_cols[1:], start=1):
            cos_i = similarity.cosine(vec, c)
            better = cos_i > best_cos
            best_id = F.when(better, F.lit(i)).otherwise(best_id)
            best_cos = F.when(better, cos_i).otherwise(best_cos)
        return best_id

    vb = embs.withColumn("cell", cell(F.col("e")))
    qb = vb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("cell").alias("qcell")
    )
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    joined = vb.join(broadcast(qb), F.col("cell") == F.col("qcell")).filter(
        F.col("vec_id") != F.col("qid")
    )
    scored = joined.select(
        "qid", "vec_id", F.round(similarity.cosine(F.col("e"), F.col("qe")), 4).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= 5)
        .drop("__rn__")
    )


def oracle_embed_ivf() -> str:
    cos = _COS_SQL.format(a="v.e", b="q.qe")
    cell_cos = _COS_SQL.format(a="v.e", b="c.e")
    return f"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e FROM v WHERE vec_id < 8),
assign AS (
  SELECT v.vec_id, v.e, c.cid,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY {cell_cos.replace('c.e','c.e')} DESC, c.cid) AS rn
  FROM v CROSS JOIN cents c
),
cells AS (SELECT vec_id, e, cid AS cell FROM assign WHERE rn = 1),
q AS (SELECT vec_id AS qid, e AS qe, cell AS qcell FROM cells WHERE vec_id < 3),
scored AS (
  SELECT q.qid, v.vec_id, {cos} AS cos
  FROM cells v JOIN q ON v.cell = q.qcell AND v.vec_id <> q.qid
)
SELECT qid, vec_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 5"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation: quality filter → language filter →
    exact dedup → near-dup removal (drop the higher doc_id of each verified
    pair) → per-source kept-doc / token stats. The dataops flagship."""
    docs = _docs(spark, sf_dir)
    corpus = _near_dup_corpus(docs)

    q = text.quality_metrics(corpus).filter(
        (F.col("n_words") >= 10) & (F.col("stopword_ratio") >= 0.02)
    )
    kept = corpus.join(q.select("doc_id"), "doc_id")
    deduped = text.ExactDedup().apply(kept).drop("__text_hash__")
    pairs = text.minhash_near_dup_pairs(deduped, threshold=0.5)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = deduped.join(losers, "doc_id", "left_anti")
    counted = text.token_counts(survivors)
    # mutated copies (doc_id >= 10000000) carry no source column — tag them
    src = F.when(F.col("doc_id") >= 10000000, "mutated").otherwise(F.lit("orig"))
    return (
        counted.select(src.alias("bucket"), "ws_tokens")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("ws_tokens").cast("long").alias("ws_tokens"),
        )
        .orderBy("bucket")
    )


def oracle_curation_pipeline() -> str:
    sw = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""WITH {_NEAR_CORPUS_SQL},
wq AS (
  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS wl FROM corpus
),
quality AS (
  SELECT doc_id, text, len(wl) AS n_words,
    round(CAST(len(list_filter(wl, x -> list_contains([{sw}], x))) AS DOUBLE) / greatest(len(wl), 1), 4) AS sw_ratio
  FROM wq
),
kept AS (SELECT doc_id, text FROM quality WHERE n_words >= 10 AND sw_ratio >= 0.02),
deduped AS (
  SELECT doc_id, text FROM kept
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
corpus2 AS (SELECT doc_id, text FROM deduped),
{_SHINGLES_SQL.replace('FROM corpus', 'FROM corpus2')},
mh AS (
  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
  FROM shingles CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY doc_id, s.seed
),
sig AS (SELECT doc_id, list(h ORDER BY seed) AS sg FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, md5(sg[2*b.band + 1] || sg[2*b.band + 2]) AS bkey
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
),
{_capped_cand_sql()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
losers AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.i, 0)), 4) >= 0.5
),
survivors AS (
  SELECT d.doc_id, d.text FROM deduped d LEFT JOIN losers l ON d.doc_id = l.doc_id
  WHERE l.doc_id IS NULL
)
SELECT CASE WHEN doc_id >= 10000000 THEN 'mutated' ELSE 'orig' END AS bucket,
  count(*) AS docs,
  CAST(sum(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT) AS ws_tokens
FROM survivors GROUP BY bucket ORDER BY bucket"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components (iterative min-label
    propagation); oracle = recursive CTE reachability."""
    corpus = _near_dup_corpus(_docs(spark, sf_dir))
    pairs = text.minhash_near_dup_pairs(corpus, threshold=0.5)
    return text.near_dup_clusters(pairs).select(
        "doc_id", F.col("cluster").cast("long").alias("cluster")
    )


def _minhash_pair_ctes() -> str:
    """The shared CTE chain ending in a `pairs(id_a, id_b)` CTE (jaccard ≥ 0.5)."""
    return f"""{_NEAR_CORPUS_SQL},
{_SHINGLES_SQL},
mh AS (
  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
  FROM shingles CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY doc_id, s.seed
),
sig AS (SELECT doc_id, list(h ORDER BY seed) AS sg FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, md5(sg[2*b.band + 1] || sg[2*b.band + 2]) AS bkey
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
),
{_capped_cand_sql()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.i, 0)), 4) >= 0.5
)"""


def oracle_dedup_clusters() -> str:
    return f"""WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(node, reach) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
)
SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS cluster FROM walk GROUP BY node"""


def q_sample_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sample_by_hash(_docs(spark, sf_dir), rate_pct=37).select(
        "doc_id", "source"
    )


def oracle_sample_by_hash() -> str:
    hexv = "strpos('123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), {i}, 1))"
    val = " + ".join(f"{hexv.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4))
    return f"""SELECT doc_id, source FROM documents WHERE ({val}) % 100 < 37"""


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_chars").alias("n_tok")
    )
    packed = text.pack_token_bins(docs, bin_tokens=4096)
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
        .orderBy("source", "bin")
    )


def oracle_token_packing() -> str:
    return """WITH packed AS (
  SELECT doc_id, source, n_chars AS n_tok,
    CAST(floor(coalesce(sum(n_chars) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS INTEGER) AS bin
  FROM documents
)
SELECT source, bin, count(*) AS docs, CAST(sum(n_tok) AS BIGINT) AS tokens
FROM packed GROUP BY source, bin ORDER BY source, bin"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode path: deterministic PPM/WAV payloads built per doc,
    decoded back by magic-byte dispatch (decode_media_features) — the oracle
    predicts every decoded feature in closed form from doc_id."""
    from .multimodal import attach_real_media, decode_media_features

    docs = _docs(spark, sf_dir)
    media = attach_real_media(docs)
    out = decode_media_features(media)
    return out.select(
        "doc_id", "kind", "media_format", "width", "height",
        "mean_r", "mean_g", "mean_b", "sample_rate", "n_samples", "rms",
    )


def oracle_multimodal_decode() -> str:
    return """SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'audio' ELSE 'image' END AS kind,
  CASE WHEN doc_id % 3 = 0 THEN 'wav' ELSE 'ppm' END AS media_format,
  CASE WHEN doc_id % 3 <> 0 THEN CAST(8 + doc_id % 16 AS INTEGER) END AS width,
  CASE WHEN doc_id % 3 <> 0 THEN CAST(4 + doc_id % 8 AS INTEGER) END AS height,
  CASE WHEN doc_id % 3 <> 0 THEN round(CAST(doc_id * 3 % 256 AS DOUBLE), 4) END AS mean_r,
  CASE WHEN doc_id % 3 <> 0 THEN round(CAST(doc_id * 5 % 256 AS DOUBLE), 4) END AS mean_g,
  CASE WHEN doc_id % 3 <> 0 THEN round(CAST(doc_id * 7 % 256 AS DOUBLE), 4) END AS mean_b,
  CASE WHEN doc_id % 3 = 0 THEN CAST(8000 + doc_id % 4 * 1000 AS INTEGER) END AS sample_rate,
  CASE WHEN doc_id % 3 = 0 THEN CAST(64 + doc_id % 32 * 2 AS BIGINT) END AS n_samples,
  CASE WHEN doc_id % 3 = 0 THEN round(CAST(100 + doc_id % 100 AS DOUBLE), 4) END AS rms
FROM documents"""


def q_embed_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL k-means codebook (distributed spherical Lloyd
    iterations, deterministic first-k init) instead of the first-8 stand-in.
    The training loop is iterative, but with a FIXED iteration count and
    per-iteration centroid rounding (round_to=6 absorbs float-sum-order
    differences) the whole computation is reproducible in plain SQL — the
    oracle unrolls the same two Lloyd iterations as nested CTEs, turning the
    last rows-only driver check hash-green."""
    from . import similarity

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    cents = similarity.kmeans_centroids(embs, k=8, iters=2, round_to=6)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_topk(embs, queries, cents, k=5).select(
        "qid", "vec_id", "cos"
    )


def oracle_embed_ivf_kmeans(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """SQL-unrolled spherical k-means (mirrors kmeans_centroids + ivf_topk):
    init = k lowest-id vectors; per iteration an argmax-cosine assignment
    (UNROUNDED cosine, ties to the lowest cell like the strictly-greater
    Spark fold) and per-(cell, dim) means rounded to 6 decimals exactly like
    round_to=6; empty cells keep their previous centroid."""
    cosu = (
        "(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"dims AS (SELECT unnest(generate_series(1, {dim})) AS pos)",
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e "
        f"FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k}))",
    ]
    for i in range(iters):
        cell_cos = cosu.format(a="v.e", b="c.e")
        parts.append(
            f"a{i} AS (SELECT v.vec_id, v.e, c.cid, row_number() OVER "
            f"(PARTITION BY v.vec_id ORDER BY {cell_cos} DESC, c.cid) AS rn "
            f"FROM v CROSS JOIN c{i} c)"
        )
        parts.append(
            f"m{i} AS (SELECT cid, pos, round(avg(e[pos]), 6) AS m "
            f"FROM (SELECT e, cid FROM a{i} WHERE rn = 1), dims GROUP BY cid, pos)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c.cid, coalesce((SELECT list(m ORDER BY pos) "
            f"FROM m{i} WHERE m{i}.cid = c.cid), c.e) AS e FROM c{i} c)"
        )
    final_cos = cosu.format(a="v.e", b="c.e")
    score_cos = _COS_SQL.format(a="cells.e", b="q.qe")
    parts.append(
        f"af AS (SELECT v.vec_id, v.e, c.cid, row_number() OVER "
        f"(PARTITION BY v.vec_id ORDER BY {final_cos} DESC, c.cid) AS rn "
        f"FROM v CROSS JOIN c{iters} c)"
    )
    parts.append("cells AS (SELECT vec_id, e, cid AS cell FROM af WHERE rn = 1)")
    parts.append(
        "q AS (SELECT vec_id AS qid, e AS qe, cell AS qcell FROM cells WHERE vec_id < 3)"
    )
    parts.append(
        f"scored AS (SELECT q.qid, cells.vec_id, {score_cos} AS cos "
        "FROM cells JOIN q ON cells.cell = q.qcell AND cells.vec_id <> q.qid)"
    )
    return (
        "WITH " + ",\n".join(parts) + "\nSELECT qid, vec_id, cos FROM scored\n"
        "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 5"
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (public method: Rae et al. 2021
    table A1): per-doc top-word share, duplicate 2/3-gram fractions,
    top-2-gram share, composite keep flag."""
    return text.gopher_repetition(_docs(spark, sf_dir))


def oracle_gopher_repetition() -> str:
    return """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
g AS (SELECT doc_id, w, len(w) AS n_words,
  list_transform(range(1, greatest(len(w)-1,0)+1), i -> array_to_string(w[i:i+1], ' ')) AS g2,
  list_transform(range(1, greatest(len(w)-2,0)+1), i -> array_to_string(w[i:i+2], ' ')) AS g3
  FROM d),
m AS (SELECT doc_id, n_words,
  round(CAST((SELECT max(c) FROM (SELECT count(*) AS c FROM unnest(w) AS t(x) GROUP BY x)) AS DOUBLE) / greatest(n_words,1), 4) AS top_word_share,
  CASE WHEN len(g2) = 0 THEN 0.0 ELSE round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2), 4) END AS dup_2gram_frac,
  CASE WHEN len(g3) = 0 THEN 0.0 ELSE round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3), 4) END AS dup_3gram_frac,
  CASE WHEN len(g2) = 0 THEN 0.0 ELSE round(CAST((SELECT max(c) FROM (SELECT count(*) AS c FROM unnest(g2) AS t(x) GROUP BY x)) AS DOUBLE)/len(g2), 4) END AS top_2gram_share
 FROM g)
SELECT doc_id, n_words, top_word_share, dup_2gram_frac, dup_3gram_frac, top_2gram_share,
 CAST(CASE WHEN top_word_share <= 0.12 AND dup_2gram_frac <= 0.05 AND top_2gram_share <= 0.06 THEN 1 ELSE 0 END AS INT) AS repetition_ok
FROM m"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval set = docs with doc_id %% 29 == 0;
    flag every other doc sharing any distinct word 3-gram with it
    (broadcast eval-gram probe)."""
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    tr = docs.filter(F.col("doc_id") % 29 != 0)
    return text.decontaminate(tr, ev)


def oracle_decontaminate() -> str:
    return """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-2,0)+1), i -> array_to_string(w[i:i+2], ' '))) AS g3 FROM d),
ev AS (SELECT DISTINCT unnest(g3) AS gram FROM g WHERE doc_id % 29 = 0),
tr AS (SELECT doc_id, unnest(g3) AS gram FROM g WHERE doc_id % 29 <> 0),
hits AS (SELECT tr.doc_id, count(*) AS n_grams,
         sum(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS overlap
         FROM tr LEFT JOIN ev ON tr.gram = ev.gram GROUP BY tr.doc_id)
SELECT g.doc_id,
  CAST(coalesce(h.n_grams,0) AS BIGINT) AS n_grams,
  CAST(coalesce(h.overlap,0) AS BIGINT) AS overlap_grams,
  CAST(CASE WHEN coalesce(h.overlap,0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
WHERE g.doc_id % 29 <> 0"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher page-quality rules (Rae et al. 2021 table A1 — public method):
    word-count bounds, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alpha-word fraction, stop-word hits → keep flag. Stop set
    swapped for corpus-appropriate words (the synthetic vocab lacks most of
    Gopher's English stop set)."""
    return text.gopher_quality(
        _docs(spark, sf_dir),
        stopwords=("the", "a", "data", "row", "join", "key", "scan", "value"),
    )


def oracle_gopher_quality() -> str:
    return r"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w,
  string_split(text, chr(10)) AS lines FROM documents),
m AS (SELECT doc_id,
  len(w) AS n_words,
  round(CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE)/greatest(len(w),1), 4) AS mean_word_len,
  round(CAST(coalesce(list_sum(list_transform(w, x -> length(x) - length(regexp_replace(x, '(#|\.\.\.)', '', 'g')))), 0) AS DOUBLE)/greatest(len(w),1), 4) AS symbol_ratio,
  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^(•|- )'))) AS DOUBLE)/greatest(len(lines),1), 4) AS bullet_line_frac,
  round(CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)/greatest(len(lines),1), 4) AS ellipsis_line_frac,
  round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)/greatest(len(w),1), 4) AS alpha_word_frac,
  len(list_filter(['the','a','data','row','join','key','scan','value'], s -> list_contains(w, s))) AS stopword_hits
 FROM d)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
  ellipsis_line_frac, alpha_word_frac, stopword_hits,
  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
    AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
    AND alpha_word_frac >= 0.8 AND stopword_hits >= 2 THEN 1 ELSE 0 END AS INT) AS quality_ok
FROM m"""


def _c4_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic line-structured pages from the flat documents text:
    7-word lines, terminal '.' on 2 of 3 lines, plus injected javascript /
    curly-brace / lorem-ipsum lines on fixed doc_id residues (the dual-
    dialect construction the oracle mirrors byte-for-byte)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    nch = F.greatest(F.ceil(F.size(w) / F.lit(7.0)).cast("int"), F.lit(1))
    base = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat(
            F.array_join(F.slice(w, i * 7 + 1, 7), " "),
            F.when((F.col("doc_id") + i) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    empty = F.array().cast("array<string>")
    pre = F.when(F.col("doc_id") % 19 == 0, F.array(F.lit("Lorem ipsum dolor sit amet."))).otherwise(empty)
    js = F.when(F.col("doc_id") % 11 == 0, F.array(F.lit("this page uses javascript heavily."))).otherwise(empty)
    br = F.when(F.col("doc_id") % 17 == 0, F.array(F.lit("config = { debug: true }"))).otherwise(empty)
    return d.select(
        "doc_id",
        F.array_join(F.concat(pre, js, base, br), "\n").alias("text"),
    )


C4_PAGES_SQL = r"""(SELECT doc_id, array_to_string(
  (CASE WHEN doc_id % 19 = 0 THEN ['Lorem ipsum dolor sit amet.'] ELSE [] END)
  || (CASE WHEN doc_id % 11 = 0 THEN ['this page uses javascript heavily.'] ELSE [] END)
  || list_transform(range(0, greatest(CAST(ceil(len(w)/7.0) AS INT), 1)),
       i -> array_to_string(w[i*7+1:i*7+7], ' ')
            || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)
  || (CASE WHEN doc_id % 17 = 0 THEN ['config = { debug: true }'] ELSE [] END),
  chr(10)) AS text
FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))"""


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page cleaning (Raffel et al. 2020 §2.2 — public method): line-level
    terminal-punctuation / min-words / javascript filters, page-level curly
    brace / lorem-ipsum / min-sentence drops, over deterministic synthetic
    pages."""
    return text.c4_clean(_c4_pages(spark, sf_dir))


def oracle_c4_clean() -> str:
    return (
        r"""WITH pages AS """ + C4_PAGES_SQL + r""",
l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM pages),
k AS (SELECT doc_id, text, len(lines) AS n_lines,
  list_filter(lines, x -> regexp_matches(x, '[.!?"]$')
    AND len(list_filter(string_split(x, ' '), t -> t <> '')) >= 3
    AND NOT contains(lower(x), 'javascript')) AS kept
 FROM l),
c AS (SELECT doc_id, text, n_lines, len(kept) AS kept_lines,
  array_to_string(kept, chr(10)) AS cleaned_text FROM k)
SELECT doc_id, n_lines, kept_lines,
  len(regexp_extract_all(cleaned_text, '[.!?]')) AS n_sentences,
  cleaned_text,
  CAST(CASE WHEN NOT contains(text, '{') AND NOT contains(lower(text), 'lorem ipsum')
    AND len(regexp_extract_all(cleaned_text, '[.!?]')) >= 5 THEN 1 ELSE 0 END AS INT) AS page_kept
FROM c"""
    )


_BOILER = [
    "Alpha boilerplate sentence one.",
    "Beta boilerplate sentence two.",
    "Gamma boilerplate sentence three.",
    "Delta boilerplate sentence four.",
]


def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cross-corpus three-sentence-span dedup (Raffel et al. 2020 §2.2):
    every doc_id%4==0 page carries the same 4-sentence boilerplate block;
    the corpus-global first occurrence (doc 0) keeps it, every other copy
    loses the span-covered sentences. Per-doc sentences are made unique by
    an embedded doc/line token so only the injected spans duplicate — the
    oracle derives the exact expected rebuild."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    nch = F.greatest(F.ceil(F.size(w) / F.lit(7.0)).cast("int"), F.lit(1))
    base_lines = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat(
            F.array_join(F.slice(w, i * 7 + 1, 7), " "),
            F.lit(" d"), F.col("doc_id").cast("string"), F.lit("x"), i.cast("string"), F.lit("."),
        ),
    )
    empty = F.array().cast("array<string>")
    boiler = F.when(
        F.col("doc_id") % 4 == 0, F.array(*[F.lit(s) for s in _BOILER])
    ).otherwise(empty)
    pages = d.select(
        "doc_id", F.array_join(F.concat(boiler, base_lines), " ").alias("text")
    )
    return text.c4_span_dedup(pages)


def oracle_c4_span_dedup() -> str:
    boiler_txt = " ".join(_BOILER)
    return rf"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
b AS (SELECT doc_id,
  list_transform(range(0, greatest(CAST(ceil(len(w)/7.0) AS INT), 1)),
    i -> array_to_string(w[i*7+1:i*7+7], ' ') || ' d' || doc_id || 'x' || i || '.') AS lines
 FROM d)
SELECT doc_id,
  CAST(len(lines) + CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 0 END AS BIGINT) AS n_sentences,
  CAST(len(lines) + CASE WHEN doc_id = 0 THEN 4 ELSE 0 END AS BIGINT) AS kept_sentences,
  CASE WHEN doc_id = 0 THEN '{boiler_txt} ' || array_to_string(lines, ' ')
       ELSE array_to_string(lines, ' ') END AS deduped_text
FROM b"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pretraining mixture sampling: per-source weights
    (down-sample src0-4 to 0.3, keep src5-9, up-sample src10-14 to 2.5
    epochs) with a content-addressed hash threshold and an epoch index."""
    weights = {f"src{i}": 0.3 for i in range(5)}
    weights.update({f"src{i}": 2.5 for i in range(10, 15)})
    out = text.mixture_sample(_docs(spark, sf_dir), weights)
    return out.groupBy("source", "epoch").agg(
        F.count("*").cast("long").alias("docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


def oracle_mixture_sample() -> str:
    hexv = "strpos('123456789abcdef', substring(md5('mix:' || CAST(doc_id AS VARCHAR)), {i}, 1))"
    val = " + ".join(f"{hexv.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4))
    return f"""WITH d AS (
  SELECT doc_id, source, ({val}) / 65536.0 AS u,
    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 0.3
         WHEN source IN ('src10','src11','src12','src13','src14') THEN 2.5
         ELSE 1.0 END AS w
  FROM documents
),
n AS (SELECT doc_id, source,
  CAST(floor(w) AS INT) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS copies
  FROM d),
x AS (SELECT doc_id, source, CAST(e AS INT) AS epoch
  FROM n, unnest(range(0, copies)) AS t(e) WHERE copies >= 1)
SELECT source, epoch, count(*) AS docs, min(doc_id) AS first_doc
FROM x GROUP BY source, epoch"""


# ---------------------------------------------------------------------------
# PII redaction + URL canonical dedup (r4)
# ---------------------------------------------------------------------------

_PII_FIX = (
    " mail a{d}@ex{e}.org call 415-555-{p} from 10.{a}.{b}.{c}"
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style PII scrub: mask emails/phones/IPv4 with |||…||| tokens and
    count each kind — zero-shuffle scan shape; oracle runs the identical
    RE2-compatible regexes in DuckDB."""
    d = F.col("doc_id")
    content = F.concat(
        F.col("text"),
        F.lit(" mail a"), (d % 50).cast("string"),
        F.lit("@ex"), (d % 9).cast("string"),
        F.lit(".org call 415-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (d % 256).cast("string"),
        F.lit("."), (d % 7).cast("string"),
        F.lit("."), (d % 13).cast("string"),
    )
    docs = _docs(spark, sf_dir).select("doc_id", content.alias("text"))
    out = text.pii_redact(docs)
    return out.select(
        "doc_id", "redacted",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.col("n_ip").cast("int").alias("n_ip"),
    )


def oracle_pii_redact() -> str:
    email, phone, ip = text.PII_EMAIL_RX, text.PII_PHONE_RX, text.PII_IPV4_RX
    return f"""WITH d AS (
  SELECT doc_id,
         text || ' mail a' || (doc_id % 50) || '@ex' || (doc_id % 9) ||
         '.org call 415-555-' || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
         || ' from 10.' || (doc_id % 256) || '.' || (doc_id % 7) || '.' ||
         (doc_id % 13) AS c
  FROM documents
)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(c,
    '{email}', '|||EMAIL_ADDRESS|||', 'g'),
    '{phone}', '|||PHONE_NUMBER|||', 'g'),
    '{ip}', '|||IP_ADDRESS|||', 'g') AS redacted,
  cast(len(regexp_extract_all(c, '{email}')) AS int) AS n_email,
  cast(len(regexp_extract_all(c, '{phone}')) AS int) AS n_phone,
  cast(len(regexp_extract_all(c, '{ip}')) AS int) AS n_ip
FROM d"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb crawl dedup: canonicalize URLs (case, default port,
    trailing slash, tracking params, param order) and keep one survivor per
    canonical URL — newest fetch wins, smallest id breaks ties. One
    partial-aggregatable shuffle on the canonical key."""
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("HTTP")),
        F.lit("://Ex"), (d % 20).cast("string"),
        F.lit(".COM"),
        F.when(d % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"), (d % 10).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?b=2&utm_source=x&a=1"),
        F.when(d % 5 == 0, F.lit("&fbclid=z")).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", url.alias("url"), (d % 97).alias("fetch_ts")
    )
    return text.url_dedup(docs, "url", "doc_id", "fetch_ts").orderBy("canonical_url")


def oracle_url_dedup() -> str:
    return """WITH d AS (
  SELECT doc_id,
         'http://ex' || (doc_id % 20) || '.com/p/' || (doc_id % 10) ||
           '?a=1&b=2' AS cu,
         doc_id % 97 AS p
  FROM documents
), r AS (
  SELECT cu, doc_id,
         row_number() OVER (PARTITION BY cu ORDER BY p DESC, doc_id ASC) AS rn
  FROM d
)
SELECT cu AS canonical_url, doc_id FROM r WHERE rn = 1"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style exact line-level dedup across the corpus:
    boilerplate lines (headers, footers shared by doc buckets) appearing in
    ≥2 distinct documents are stripped from every document; per-doc rebuild
    preserves surviving-line order (empty lines are never dup candidates)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("shared-header\n\nbody-"),
            F.col("doc_id").cast("string"),
            F.lit("\nfooter-"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("text"),
    )
    return text.line_dedup(docs, min_docs=2)


def oracle_line_dedup() -> str:
    return """WITH d AS (
  SELECT doc_id,
    'shared-header' || chr(10) || chr(10) || 'body-' || doc_id || chr(10) ||
      'footer-' || (doc_id % 7) AS text
  FROM documents
), s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
l AS (SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls)+1)) AS pos FROM s),
dup AS (
  SELECT line FROM (SELECT DISTINCT line, doc_id FROM l WHERE length(line) > 0)
  GROUP BY line HAVING count(*) >= 2
), k AS (
  SELECT l.doc_id, l.line, l.pos, (dup.line IS NOT NULL) AS is_dup
  FROM l LEFT JOIN dup ON l.line = dup.line
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN NOT is_dup THEN line END, chr(10) ORDER BY pos)
           FILTER (WHERE NOT is_dup), '') AS text,
  CAST(count(*) FILTER (WHERE is_dup) AS INT) AS removed_lines,
  CAST(count(*) AS INT) AS total_lines
FROM k GROUP BY doc_id"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-clustered embeddings, semantic
    duplicates dropped within each cluster (cos ≥ 0.99 to a lower-id cell
    member). Planted duplicates: every vec_id < 50 gets an exact copy at
    id+100000 — the copies must come back keep=0. Codebook = the same
    round_to=6 Lloyd unroll the embed_ivf_kmeans oracle pins."""
    from . import similarity

    base = _embs(spark, sf_dir).select("vec_id", "embedding")
    aug = base.unionByName(
        base.where(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    cents = similarity.kmeans_centroids(aug, k=8, iters=2, round_to=6)
    out = similarity.semdedup(aug, cents, threshold=0.99)
    return out.select(
        "vec_id", F.col("cell").cast("int").alias("cell"),
        F.col("keep").cast("int").alias("keep"),
    )


def oracle_semdedup(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """SQL-unrolled SemDeDup: the embed_ivf_kmeans Lloyd unroll over the
    duplicate-augmented vector set, then a cell-scoped pairwise pass."""
    cosu = (
        "(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings "
        "UNION ALL SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) "
        "FROM embeddings WHERE vec_id < 50)",
        f"dims AS (SELECT unnest(generate_series(1, {dim})) AS pos)",
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e "
        f"FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k}))",
    ]
    for i in range(iters):
        cell_cos = cosu.format(a="v.e", b="c.e")
        parts.append(
            f"a{i} AS (SELECT v.vec_id, v.e, c.cid, row_number() OVER "
            f"(PARTITION BY v.vec_id ORDER BY {cell_cos} DESC, c.cid) AS rn "
            f"FROM v CROSS JOIN c{i} c)"
        )
        parts.append(
            f"m{i} AS (SELECT cid, pos, round(avg(e[pos]), 6) AS m "
            f"FROM (SELECT e, cid FROM a{i} WHERE rn = 1), dims GROUP BY cid, pos)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c.cid, coalesce((SELECT list(m ORDER BY pos) "
            f"FROM m{i} WHERE m{i}.cid = c.cid), c.e) AS e FROM c{i} c)"
        )
    final_cos = cosu.format(a="v.e", b="c.e")
    pair_cos = cosu.format(a="a.e", b="b.e")
    parts.append(
        f"af AS (SELECT v.vec_id, v.e, c.cid, row_number() OVER "
        f"(PARTITION BY v.vec_id ORDER BY {final_cos} DESC, c.cid) AS rn "
        f"FROM v CROSS JOIN c{iters} c)"
    )
    parts.append("cells AS (SELECT vec_id, e, cid AS cell FROM af WHERE rn = 1)")
    parts.append(
        f"dups AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b "
        f"ON a.cell = b.cell AND a.vec_id < b.vec_id WHERE {pair_cos} >= 0.99)"
    )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT cells.vec_id, CAST(cells.cell AS INT) AS cell, "
        "CAST(CASE WHEN dups.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep "
        "FROM cells LEFT JOIN dups ON cells.vec_id = dups.vec_id"
    )


def q_semdedup_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over a corpus with a 1000-copy hot cell: exact copies of the
    lowest-id embedding planted at vec_id 30000000+i all quantize to one
    cell, so an UNCAPPED per-cell pairwise join would be O(10⁶) pairs for
    that cell alone. Exercises semdedup's anchor-sample cap (max_cell=128,
    n_anchors=16 — candidates bounded at O(16·cell)); every copy still pairs
    with an anchor ≥0.99 and comes back keep=0. Codebook = the 8 lowest-id
    base vectors (deterministic stand-in, same as embed_ivf)."""
    from . import similarity

    base = _embs(spark, sf_dir).select("vec_id", "embedding")
    seed = base.orderBy("vec_id").limit(1).select("embedding")
    copies = (
        spark.range(1000)
        .crossJoin(F.broadcast(seed))
        .select((F.col("id") + 30000000).alias("vec_id"), "embedding")
    )
    aug = base.unionByName(copies)
    cents = [
        [float(x) for x in r["e"]]
        for r in base.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
        )
        .filter(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .collect()
    ]
    out = similarity.semdedup(aug, cents, threshold=0.99, max_cell=128, n_anchors=16)
    return out.groupBy(F.col("cell").cast("int").alias("cell")).agg(
        F.count(F.lit(1)).alias("members"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
    )


def oracle_semdedup_hot() -> str:
    cell_cos = _COS_SQL.format(a="v.e", b="c.e")
    pair_cos = (
        "(list_dot_product(va.e, vb.e) / "
        "(sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))))"
    )
    capped = _capped_cand_sql(
        keys="cell", id_col="vec_id", cap=128, anchors=16, src="cells"
    )
    return f"""WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  UNION ALL
  SELECT 30000000 + i AS vec_id,
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings ORDER BY vec_id LIMIT 1) AS e
  FROM range(0, 1000) t(i)
),
cents AS (SELECT vec_id AS cid, e FROM v WHERE vec_id < 8),
assign AS (
  SELECT v.vec_id, v.e, c.cid,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY {cell_cos} DESC, c.cid) AS rn
  FROM v CROSS JOIN cents c
),
cells AS (SELECT vec_id, e, cid AS cell FROM assign WHERE rn = 1),
{capped},
dups AS (
  SELECT DISTINCT c.id_b AS vec_id
  FROM cand c
  JOIN v va ON va.vec_id = c.id_a
  JOIN v vb ON vb.vec_id = c.id_b
  WHERE {pair_cos} >= 0.99
)
SELECT CAST(cells.cell AS INT) AS cell, count(*) AS members,
       CAST(sum(CASE WHEN dups.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM cells LEFT JOIN dups ON cells.vec_id = dups.vec_id
GROUP BY cells.cell"""


def q_embed_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (nprobe=2): exact top-5 within each query's
    TWO nearest codebook cells — the recall/cost dial beyond the single-cell
    probe (embed_ivf). Recall@10 per nprobe is measured by
    tools/ann_recall.py on the same table."""
    from . import similarity

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    cents = [
        [float(x) for x in r["e"]]
        for r in embs.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
        )
        .filter(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .collect()
    ]
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_topk(embs, queries, cents, k=5, nprobe=2)


def oracle_embed_ivf_probe() -> str:
    cos = _COS_SQL.format(a="v.e", b="q.qe")
    cell_cos = _COS_SQL.format(a="v.e", b="c.e")
    qcell_cos = _COS_SQL.format(a="qv.e", b="c.e")
    return f"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e FROM v WHERE vec_id < 8),
assign AS (
  SELECT v.vec_id, v.e, c.cid,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY {cell_cos} DESC, c.cid) AS rn
  FROM v CROSS JOIN cents c
),
cells AS (SELECT vec_id, e, cid AS cell FROM assign WHERE rn = 1),
qassign AS (
  SELECT qv.vec_id AS qid, qv.e AS qe, c.cid AS qcell,
         row_number() OVER (PARTITION BY qv.vec_id ORDER BY {qcell_cos} DESC, c.cid) AS rn
  FROM v qv CROSS JOIN cents c
  WHERE qv.vec_id < 3
),
q AS (SELECT qid, qe, qcell FROM qassign WHERE rn <= 2),
scored AS (
  SELECT q.qid, v.vec_id, {cos} AS cos
  FROM cells v JOIN q ON v.cell = q.qcell AND v.vec_id <> q.qid
)
SELECT qid, vec_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 5"""
