"""Extension query plans: LLM-data-pipeline operators with DuckDB oracles.

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / duplicate
clustering), similarity search (brute-force cosine top-k / sign-LSH /
multi-probe / band-OR / IVF), text analysis (lang-ID / quality / token
stats / fingerprints / redaction / vocabulary), corpus hygiene
(benchmark-contamination check, deterministic stratified sampling),
multimodal column plumbing, sketches.

Hash family is md5 everywhere so the oracle computes identical digests; all
pair generation goes through LSH band equi-joins (never O(n^2) cross joins);
every entry carries a full DuckDB oracle — including the mapInPandas feature
path (sha256-derived scalar projections) and the HLL sketch (exact-distinct
companion + error-bound flag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize
from ..operators.clustering import dup_groups
from ..operators.contamination import (
    bloom_contamination_report,
    contamination_report,
)
from ..operators.dedup import (
    exact_dedup,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_jaccard_pairs,
    minhash_signatures_inrow,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)
from ..operators.sampling import pack_shards, rate_threshold, stratified_sample
from ..operators.multimodal import blob_metadata, extract_features, to_blob_table
from ..operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    hyperplane_weights,
    ivf_ann_topk,
    kmeans_step,
    lsh_ann_bandor,
    lsh_ann_multiprobe,
    lsh_ann_topk,
    lsh_buckets,
)
from ..operators.text import (
    LANGS,
    SENSITIVE_PATTERN,
    STOPWORDS,
    fingerprints,
    lang_scores,
    quality_scores,
    redact_terms,
    token_stats,
    vocabulary,
)
from ..schemas import load_table

N_HASHES, ROWS_PER_BAND = 15, 3
QUERY_MOD = 50  # every 50th vector is an ANN query
N_PLANES, DIM = 16, 64


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# x01 exact dedup (hash-groupBy) on documents + injected duplicates
# --------------------------------------------------------------------------

def _id_offset(df: DataFrame, id_col: str):
    """In-plan injected-duplicate id offset: ``max(id) + 1`` as a broadcast
    scalar (cross-joined, no driver collect). Guarantees injected ids are
    disjoint from — and HIGHER than — every real id at ANY scale factor;
    the old fixed ``+1_000_000`` collided once a corpus passed 1M rows
    (round-5 advice), and higher-than-real matters because the dedup
    family keeps the LOWEST id of a duplicate class (originals must win).
    """
    return F.broadcast(df.agg((F.max(id_col) + 1).alias("__off")))


def x01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # deterministically re-inject every 10th doc as a duplicate (new id)
    dupes = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .crossJoin(_id_offset(docs, "doc_id"))
        .withColumn("doc_id", F.col("doc_id") + F.col("__off"))
        .drop("__off")
    )
    return exact_dedup(docs.unionByName(dupes), ["text"], "doc_id")


X01_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
  FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
FROM all_docs GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# x02 MinHash + LSH near-dup candidate pairs with estimated jaccard
# --------------------------------------------------------------------------

def x02_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_jaccard_pairs(
        _docs(spark, sf_dir), n_hashes=N_HASHES, rows_per_band=ROWS_PER_BAND
    )


# mirrors operators/dedup.py exactly: ONE md5 per shingle, seeds via the
# pairwise-independent linear family mh_i = min((a + i*b) mod p), p = 2^31-1
_SHINGLES_CTE = """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS s
  FROM toks
),
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS a,
         ('0x' || substr(md5(s), 9, 8))::BIGINT % 2147483646 + 1 AS b
  FROM sh
),
seeds AS (SELECT unnest(generate_series(0, {n_last})) AS i),
sig AS (
  SELECT doc_id, i, min((a + i * b) % 2147483647) AS mh
  FROM hs CROSS JOIN seeds GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // {rpb} AS band_idx,
         string_agg(mh, '|' ORDER BY i) AS band_sig
  FROM sig GROUP BY doc_id, i // {rpb}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
""".format(n_last=N_HASHES - 1, rpb=ROWS_PER_BAND)

X02_SQL = _SHINGLES_CTE + f"""
SELECT c.id_a AS doc_a, c.id_b AS doc_b,
       CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) / {float(N_HASHES)} AS jaccard_est
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# x03 SimHash signatures
# --------------------------------------------------------------------------

def x03_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir))


X03_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
e AS (
  SELECT doc_id, tok, pos FROM toks
  CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS pos)
),
s AS (
  SELECT doc_id, pos,
         sum(CASE WHEN substr(md5(tok), pos, 1) IN ('8','9','a','b','c','d','e','f')
                  THEN 1 ELSE -1 END) AS sgn
  FROM e GROUP BY doc_id, pos
)
SELECT doc_id,
       string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
FROM s GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# x04 exact n-gram jaccard over LSH candidate pairs
# --------------------------------------------------------------------------

def x04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n_hashes=N_HASHES, rows_per_band=ROWS_PER_BAND
    )


X04_SQL = _SHINGLES_CTE + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT c.id_a AS doc_a, c.id_b AS doc_b,
       round(coalesce(n_inter, 0) / (sa.n_sh + sb.n_sh - coalesce(n_inter, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
"""


# --------------------------------------------------------------------------
# x05 brute-force cosine top-k
# --------------------------------------------------------------------------

def x05_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    return cosine_topk(embs, embs.filter(F.col("vec_id") % QUERY_MOD == 0), k=5)


X05_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
sims AS (
  SELECT q_id, n_id,
         round(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
  FROM q CROSS JOIN c WHERE q_id <> n_id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rnk,
       sim
FROM sims
QUALIFY rnk <= 5
"""


# --------------------------------------------------------------------------
# x06 sign-LSH bucket signatures
# --------------------------------------------------------------------------

def x06_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_buckets(_embs(spark, sf_dir), n_planes=N_PLANES, dim=DIM)


def _lsh_sql() -> str:
    planes = hyperplane_weights(N_PLANES, DIM)
    bits = " || ".join(
        "(CASE WHEN list_dot_product(embedding, ["
        + ", ".join(f"{w}.0" for w in plane)
        + "]) > 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )
    return f"""
WITH b AS (SELECT vec_id, {bits} AS bucket FROM embeddings)
SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS n_in_bucket
FROM b
"""


X06_SQL = _lsh_sql()


# --------------------------------------------------------------------------
# x13 LSH-ANN: bucket candidates + exact cosine rerank (the scale path)
# --------------------------------------------------------------------------

ANN_PLANES, ANN_K = 6, 3


def x13_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_ann_topk(_embs(spark, sf_dir), n_planes=ANN_PLANES, k=ANN_K)


def _ann_sql() -> str:
    planes = hyperplane_weights(ANN_PLANES, DIM)
    bits = " || ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(f"{w}.0" for w in plane)
        + "]) > 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )
    return f"""
WITH t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {bits} AS bucket FROM embeddings
),
sims AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rnk,
       sim
FROM sims
QUALIFY rnk <= {ANN_K}
"""


X13_SQL = _ann_sql()


# --------------------------------------------------------------------------
# x14 embedding-cosine near-dup pairs (LSH candidates + threshold)
# --------------------------------------------------------------------------

NEARDUP_PLANES, NEARDUP_THRESHOLD = 8, 0.25


def x14_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        _embs(spark, sf_dir), n_planes=NEARDUP_PLANES, threshold=NEARDUP_THRESHOLD
    )


def _neardup_sql() -> str:
    planes = hyperplane_weights(NEARDUP_PLANES, DIM)
    bits = " || ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(f"{w}.0" for w in plane)
        + "]) > 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )
    return f"""
WITH t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {bits} AS bucket FROM embeddings
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      >= {NEARDUP_THRESHOLD}
"""


X14_SQL = _neardup_sql()


# --------------------------------------------------------------------------
# x15 IVF-style ANN: deterministic centroid cells + multi-probe rerank
# --------------------------------------------------------------------------

IVF_PROBE, IVF_K = 2, 3


def x15_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    return ivf_ann_topk(
        embs, embs.filter(F.col("vec_id") % QUERY_MOD == 0),
        n_probe=IVF_PROBE, k=IVF_K,
    )


X15_SQL = f"""
WITH c AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % 50 = 1
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
assign AS (
  SELECT vec_id AS n_id, vv AS n_vec, c_id
  FROM v CROSS JOIN c
  QUALIFY row_number() OVER (
    PARTITION BY vec_id
    ORDER BY round(list_dot_product(vv, cv) /
                   (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
             c_id
  ) <= 1
),
probes AS (
  SELECT vec_id AS q_id, vv AS q_vec, c_id
  FROM v CROSS JOIN c
  WHERE vec_id % {QUERY_MOD} = 0
  QUALIFY row_number() OVER (
    PARTITION BY vec_id
    ORDER BY round(list_dot_product(vv, cv) /
                   (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
             c_id
  ) <= {IVF_PROBE}
),
sims AS (
  SELECT q_id, n_id,
         round(list_dot_product(q_vec, n_vec) /
               (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(n_vec, n_vec))), 6) AS sim
  FROM probes JOIN assign USING (c_id)
  WHERE q_id <> n_id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rnk,
       sim
FROM sims
QUALIFY rnk <= {IVF_K}
"""


# --------------------------------------------------------------------------
# x17 multi-probe LSH ANN (Hamming-1 probes, query-side-only amplification)
# --------------------------------------------------------------------------


def _bits_sql(planes: list[list[int]]) -> str:
    return " || ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(f"{w}.0" for w in plane)
        + "]) > 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )


def x17_multiprobe_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    return lsh_ann_multiprobe(
        embs, embs.filter(F.col("vec_id") % QUERY_MOD == 0),
        n_planes=ANN_PLANES, k=ANN_K,
    )


X17_SQL = f"""
WITH t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_bits_sql(hyperplane_weights(ANN_PLANES, DIM))} AS bucket
  FROM embeddings
),
qt AS (SELECT vec_id AS q_id, bucket FROM t WHERE vec_id % {QUERY_MOD} = 0),
probes AS (
  SELECT q_id, bucket FROM qt
  UNION
  SELECT q_id,
         substr(bucket, 1, i - 1)
         || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
         || substr(bucket, i + 1, {ANN_PLANES} - i) AS bucket
  FROM qt CROSS JOIN (SELECT unnest(generate_series(1, {ANN_PLANES})) AS i)
),
cand AS (
  SELECT DISTINCT q_id, c.vec_id AS n_id
  FROM probes JOIN t c ON probes.bucket = c.bucket AND q_id <> c.vec_id
),
sims AS (
  SELECT q_id, n_id,
         round(list_dot_product(q.v, n.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS sim
  FROM cand JOIN t q ON q.vec_id = cand.q_id JOIN t n ON n.vec_id = cand.n_id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rnk,
       sim
FROM sims
QUALIFY rnk <= {ANN_K}
"""


# --------------------------------------------------------------------------
# x18 band-OR LSH ANN (L independent tables, collide-in-any)
# --------------------------------------------------------------------------

BANDOR_PPT, BANDOR_TABLES = 4, 3


def x18_bandor_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    return lsh_ann_bandor(
        embs, embs.filter(F.col("vec_id") % QUERY_MOD == 0),
        planes_per_table=BANDOR_PPT, n_tables=BANDOR_TABLES, k=ANN_K,
    )


def _bandor_sql() -> str:
    fam = hyperplane_weights(BANDOR_PPT * BANDOR_TABLES, DIM)
    sig_cols = ", ".join(
        f"{_bits_sql(fam[t * BANDOR_PPT:(t + 1) * BANDOR_PPT])} AS s{t}"
        for t in range(BANDOR_TABLES)
    )
    unions = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, s{t} AS sig FROM t"
        for t in range(BANDOR_TABLES)
    )
    return f"""
WITH t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {sig_cols} FROM embeddings
),
e AS ({unions}),
cand AS (
  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
  FROM e a JOIN e b ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id <> b.vec_id
  WHERE a.vec_id % {QUERY_MOD} = 0
),
tv AS (SELECT vec_id, v FROM t),
sims AS (
  SELECT q_id, n_id,
         round(list_dot_product(q.v, n.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS sim
  FROM cand JOIN tv q ON q.vec_id = cand.q_id JOIN tv n ON n.vec_id = cand.n_id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rnk,
       sim
FROM sims
QUALIFY rnk <= {ANN_K}
"""


X18_SQL = _bandor_sql()


# --------------------------------------------------------------------------
# x07 language-ID scoring (hash-profile argmax)
# --------------------------------------------------------------------------

def x07_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_scores(_docs(spark, sf_dir))


X07_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
sc AS (
  SELECT doc_id, lang,
         CAST(sum(CASE WHEN substr(md5(lang || '|' || tok), 1, 1) IN ('0','1','2','3')
                       THEN 1 ELSE 0 END) AS BIGINT) AS score
  FROM toks CROSS JOIN (SELECT unnest({LANGS!r}) AS lang)
  GROUP BY doc_id, lang
)
SELECT doc_id, lang AS pred_lang, score AS best_score
FROM sc
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1
"""


# --------------------------------------------------------------------------
# x08 quality scoring
# --------------------------------------------------------------------------

def x08_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(_docs(spark, sf_dir))


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)
X08_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars_m,
         CAST(len(str_split(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(str_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER) AS n_stop,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) AS n_digit
  FROM documents
)
SELECT doc_id, n_chars_m, n_tokens,
       round((n_chars_m - n_tokens + 1) * 1.0 / n_tokens, 6) AS avg_tok_len,
       round(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
       round(n_punct * 1.0 / n_chars_m, 6) AS punct_ratio,
       round(n_digit * 1.0 / n_chars_m, 6) AS digit_ratio,
       round(0.4 * round(n_stop * 1.0 / n_tokens, 6)
           + 0.3 * (1 - round(n_punct * 1.0 / n_chars_m, 6))
           + 0.3 * (1 - round(n_digit * 1.0 / n_chars_m, 6)), 6) AS quality
FROM d
"""


# --------------------------------------------------------------------------
# x09 token stats per source
# --------------------------------------------------------------------------

def x09_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


X09_SQL = r"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) / (count(*) * 1.0) AS avg_tokens,
       CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT)
           AS total_bpe_tokens,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# x10 winnowing fingerprints
# --------------------------------------------------------------------------

def x10_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(_docs(spark, sf_dir))


X10_SQL = """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id, i, md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS h,
         len(tk) - 2 AS n_grams
  FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i FROM toks)
),
m AS (
  SELECT doc_id, i, n_grams,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
  FROM g
),
mins AS (SELECT DISTINCT doc_id, minh FROM m WHERE i <= n_grams - 3)
SELECT doc_id, count(*) AS n_minima,
       md5(string_agg(minh, '|' ORDER BY minh)) AS fingerprint
FROM mins GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# x11 multimodal metadata (binary column plumbing, no payload scan)
# --------------------------------------------------------------------------

def x11_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return blob_metadata(to_blob_table(_docs(spark, sf_dir)))


X11_SQL = """
WITH b AS (
  SELECT doc_id,
         (['image', 'audio', 'video'])[(doc_id % 3 + 1)] AS modality,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
         md5(text) AS content_hash
  FROM documents
)
SELECT doc_id, modality, n_bytes, content_hash,
       CAST(64 + (ascii(substr(content_hash, 1, 1)) % 16) * 8 AS INTEGER) AS width,
       CAST(64 + (ascii(substr(content_hash, 2, 1)) % 16) * 8 AS INTEGER) AS height,
       CAST(floor(n_bytes / 100) + 1 AS INTEGER) AS n_frames
FROM b
"""


# --------------------------------------------------------------------------
# x12 multimodal feature extraction (mapInPandas decode stub)
#
# Driver-facing shape: the `feature array<float>` column is projected to
# scalar f0..f7 DOUBLE columns (float32 → double widening is exact, so both
# engines produce bit-identical doubles) — array cells crash the gate's
# pandas canonicalizer.  Internal consumers keep the array form via
# extract_features() directly.
# --------------------------------------------------------------------------

_X12_DIM = 8


def x12_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(to_blob_table(_docs(spark, sf_dir)), feature_dim=_X12_DIM)
    return feats.select(
        "doc_id", "modality", "n_bytes", "content_hash", "width", "height",
        "n_frames",
        *[F.col("feature")[i].cast("double").alias(f"f{i}") for i in range(_X12_DIM)],
    )


def _hex_byte(i: int) -> str:
    """DuckDB expr for byte *i* (0-based) of the hex digest column ``sha``."""
    hi = f"(strpos('0123456789abcdef', substr(sha, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr(sha, {2 * i + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


X12_SQL = f"""
WITH b AS (
  SELECT doc_id,
         (['image', 'audio', 'video'])[(doc_id % 3 + 1)] AS modality,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
         md5(text) AS content_hash,
         sha256(text) AS sha
  FROM documents
)
SELECT doc_id, modality, n_bytes, content_hash,
       CAST(64 + ({_hex_byte(0)} % 16) * 8 AS INTEGER) AS width,
       CAST(64 + ({_hex_byte(1)} % 16) * 8 AS INTEGER) AS height,
       CAST(floor(n_bytes / 100) + 1 AS INTEGER) AS n_frames,
       {", ".join(
           f"CAST(CAST(round({_hex_byte(i)} / 255.0, 6) AS REAL) AS DOUBLE) AS f{i}"
           for i in range(_X12_DIM)
       )}
FROM b
"""


# --------------------------------------------------------------------------
# x16 HLL distinct counting (DataSketches; mergeable partials).
#
# Driver-facing shape: the estimate itself is engine-specific, so the gated
# row emits the oracle-computable exact distinct count plus a boolean
# asserting the HLL estimate lands within 5% of it (the oracle claims TRUE).
# Sketch internals / merge laws are asserted in pytest.
# --------------------------------------------------------------------------

def x16_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_distinct

    est = hll_distinct(_docs(spark, sf_dir), ["source"], "text").drop("sketch")
    exact = _docs(spark, sf_dir).groupBy("source").agg(
        F.countDistinct("text").alias("exact_distinct")
    )
    return est.join(exact, "source").select(
        "source",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("hll_within_5pct"),
    )


X16_SQL = """
SELECT source, count(DISTINCT text) AS exact_distinct, TRUE AS hll_within_5pct
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# x19 content redaction (training-data scrub: global regex replace + audit
# count; the scrubbed text is gated via its md5 so the hash compare covers
# every byte without shipping the full text through the canonicalizer)
# --------------------------------------------------------------------------

def x19_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = redact_terms(_docs(spark, sf_dir))
    return red.select(
        "doc_id",
        "n_redacted",
        F.length("redacted").cast("long").alias("redacted_len"),
        F.md5("redacted").alias("redacted_hash"),
    )


# DuckDB regexp_replace needs the 'g' flag for global replacement (Spark's
# is always global); \b works in both regex engines (RE2 / java.util.regex)
X19_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{SENSITIVE_PATTERN}')) AS BIGINT) AS n_redacted,
       CAST(length(regexp_replace(text, '{SENSITIVE_PATTERN}', '<REDACTED>', 'g')) AS BIGINT)
           AS redacted_len,
       md5(regexp_replace(text, '{SENSITIVE_PATTERN}', '<REDACTED>', 'g')) AS redacted_hash
FROM documents
"""


# --------------------------------------------------------------------------
# x20 corpus vocabulary (top-k token frequencies, deterministic tie-break —
# the BPE/vocab-building first pass of every LLM data pipeline)
# --------------------------------------------------------------------------

def x20_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocabulary(_docs(spark, sf_dir), k=100)


X20_SQL = """
WITH tk AS (
  SELECT lower(unnest(str_split(text, ' '))) AS token FROM documents
),
c AS (
  SELECT token, count(*) AS cnt FROM tk WHERE token <> '' GROUP BY token
)
SELECT token, cnt, rnk
FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, token) AS rnk FROM c)
WHERE rnk <= 100
"""


# --------------------------------------------------------------------------
# x21 duplicate clustering: connected components (min-label propagation with
# pointer jumping) over the LSH candidate-pair graph — the transitive-closure
# step that turns near-dup PAIRS into dedup GROUPS. Oracle: recursive-CTE
# reachability (comp = min reachable id); the fixpoint is unique, so the
# iterative Spark form and the recursive SQL form must agree exactly.
# --------------------------------------------------------------------------

def x21_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # in-row signatures (r15): identical values as the explode + groupBy
    # form with ZERO pre-signature shuffles (dedup.minhash_signatures_inrow).
    # Materialized once: both pair-join sides read the signature table —
    # one minhash computation, not two. Deployment-aware strategy
    # (materialize.py): localCheckpoint locally (ContextCleaner-released;
    # persist() here leaked a cached table per call across a long-lived
    # session), lineage-keeping persist on a cluster.
    sig = materialize(minhash_signatures_inrow(_docs(spark, sf_dir), n_hashes=N_HASHES))
    cand = lsh_candidate_pairs(
        lsh_bands(sig, n_hashes=N_HASHES, rows_per_band=ROWS_PER_BAND)
    )
    return dup_groups(cand)


X21_SQL = _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
walk(node, seed) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.seed FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, min(seed) AS comp FROM walk GROUP BY node),
sizes AS (SELECT comp, count(*) AS group_size FROM cc GROUP BY comp)
SELECT node, cc.comp, group_size FROM cc JOIN sizes USING (comp)
"""


# --------------------------------------------------------------------------
# x22 benchmark-contamination report: n-gram overlap of every corpus doc
# against a benchmark set (src0 plays the held-out benchmark), broadcast
# map-side semi-join — the decontamination pass of public LLM pipelines.
# frac_hit is a raw IEEE division of the two integer counts (bit-identical
# across engines; never rounded — see the round() divergence rule).
# --------------------------------------------------------------------------

_BENCH_SRC = "src0"


def x22_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("source") != _BENCH_SRC)
    bench = docs.filter(F.col("source") == _BENCH_SRC)
    return contamination_report(corpus, bench, gram_n=3)


X22_SQL = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE source <> '{_BENCH_SRC}'),
bench AS (SELECT doc_id, text FROM documents WHERE source = '{_BENCH_SRC}'),
ct AS (SELECT doc_id, str_split(text, ' ') AS tk FROM corpus),
cg AS (
  SELECT DISTINCT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] FOR i IN range(1, len(tk) - 1)]) AS s
  FROM ct
),
bt AS (SELECT str_split(text, ' ') AS tk FROM bench),
bg AS (
  SELECT DISTINCT
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] FOR i IN range(1, len(tk) - 1)]) AS s
  FROM bt
),
tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
hits AS (SELECT doc_id, count(*) AS n_hit FROM cg JOIN bg USING (s) GROUP BY doc_id)
SELECT c.doc_id,
       coalesce(n_grams, 0) AS n_grams,
       coalesce(n_hit, 0) AS n_hit,
       CASE WHEN coalesce(n_grams, 0) > 0
            THEN coalesce(n_hit, 0)::DOUBLE / n_grams ELSE 0.0 END AS frac_hit
FROM corpus c LEFT JOIN tot USING (doc_id) LEFT JOIN hits USING (doc_id)
"""


# --------------------------------------------------------------------------
# x23 deterministic stratified sampling: per-source keep rates decided by an
# id-hash threshold (pure function of the data — stable across partitionings
# and engines, unlike df.sample). Training-mix construction.
# --------------------------------------------------------------------------

_MIX_RATES = {f"src{i}": 0.2 + 0.15 * (i % 5) for i in range(20)}
_MIX_SALT = "mix1"


def x23_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stratified_sample(
        _docs(spark, sf_dir), "source", _MIX_RATES, "doc_id", salt=_MIX_SALT
    )
    return out.select("doc_id", "source")


_MIX_CASE = " ".join(
    f"WHEN '{k}' THEN '{rate_threshold(v)}'" for k, v in sorted(_MIX_RATES.items())
)

X23_SQL = f"""
SELECT doc_id, source FROM documents
WHERE substr(md5('{_MIX_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
      < CASE source {_MIX_CASE} END
"""


# --------------------------------------------------------------------------
# x24 token-budget shard packing: global ordered cumsum of per-doc token
# counts -> shard id. Runs the KEYLESS two-phase blocked cumsum (block-local
# prefix sums + broadcast offset table) so the gate exercises the plan shape
# that survives a corpus-scale global ordering; exact integer addition means
# it must equal the naive single-window oracle bit-for-bit.
# --------------------------------------------------------------------------

_SHARD_TOKENS = 2_000
_SHARD_BLOCK = 50  # doc_id span per block -> ~10 parallel blocks at sf0.01


def x24_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_shards(
        _docs(spark, sf_dir),
        shard_tokens=_SHARD_TOKENS,
        block_span=_SHARD_BLOCK,
    )


X24_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok FROM documents
)
SELECT doc_id, n_tok,
       CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
       CAST((CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1)
            // {_SHARD_TOKENS} AS BIGINT) AS shard
FROM t
"""


# --------------------------------------------------------------------------
# x25 k-means step (Lloyd iteration): broadcast-argmin assignment + per-
# (cluster, dimension) mean — the centroid refinement IVF's seed centroids
# stand in for. Row-form output so the gate hashes scalars; sims and means
# rounded at 6dp (order-dependent float sums, the x05 precedent).
# --------------------------------------------------------------------------

def x25_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_step(_embs(spark, sf_dir))


X25_SQL = f"""
WITH c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id % 50 = 1),
v AS (SELECT vec_id AS v_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
sims AS (
  SELECT v_id, c_id, ev,
         round(list_dot_product(ev, cv) /
               (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
  FROM v CROSS JOIN c
),
assign AS (
  SELECT v_id, c_id, ev
  FROM (SELECT *, row_number() OVER (PARTITION BY v_id ORDER BY sim DESC, c_id) AS rn
        FROM sims)
  WHERE rn = 1
),
pos AS (SELECT unnest(range(1, {DIM + 1})) AS pos)
SELECT c_id AS cluster_id, CAST(pos AS INTEGER) AS pos,
       round(avg(ev[pos]), 6) AS mean_val,
       count(*) AS n_members
FROM assign CROSS JOIN pos
GROUP BY c_id, pos
"""


# --------------------------------------------------------------------------
# x26 Bloom-bitmap decontamination: the scale tier of x22 for bench sets too
# large to broadcast exactly — bench grams compressed into a fixed-size
# bit_or-aggregated bitmap (n_bits/64 rows broadcast regardless of bench
# cardinality), corpus grams probed map-side with k md5-derived positions.
# The hash (first 15 hex chars of md5, parsed as int) computes identically
# in Spark (conv) and DuckDB ('0x…'::BIGINT), so the oracle rebuilds the
# EXACT bitmap: false positives and all, bit-for-bit.
# --------------------------------------------------------------------------

_BLOOM_BITS = 1 << 18
_BLOOM_HASHES = 2


def x26_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("source") != _BENCH_SRC)
    bench = docs.filter(F.col("source") == _BENCH_SRC)
    return bloom_contamination_report(
        corpus, bench, gram_n=3, n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES
    )


def _duck_bloom_pos(seed: int) -> str:
    return (
        f"(('0x' || substr(md5('{seed}|' || s), 1, 15))::BIGINT % {_BLOOM_BITS})"
    )


X26_SQL = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE source <> '{_BENCH_SRC}'),
bench AS (SELECT text FROM documents WHERE source = '{_BENCH_SRC}'),
ct AS (SELECT doc_id, str_split(text, ' ') AS tk FROM corpus),
cg AS (
  SELECT DISTINCT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] FOR i IN range(1, len(tk) - 1)]) AS s
  FROM ct
),
bt AS (SELECT str_split(text, ' ') AS tk FROM bench),
bg AS (
  SELECT DISTINCT
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] FOR i IN range(1, len(tk) - 1)]) AS s
  FROM bt
),
pos AS (
  SELECT {_duck_bloom_pos(0)} AS pos FROM bg
  UNION ALL
  SELECT {_duck_bloom_pos(1)} AS pos FROM bg
),
bitmap AS (
  SELECT pos // 63 AS widx, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS wbits
  FROM pos GROUP BY 1
),
cp AS (
  SELECT doc_id, {_duck_bloom_pos(0)} AS p0, {_duck_bloom_pos(1)} AS p1 FROM cg
),
hit AS (
  SELECT doc_id, count(*) AS n_maybe_hit
  FROM cp
  JOIN bitmap b0 ON b0.widx = p0 // 63
  JOIN bitmap b1 ON b1.widx = p1 // 63
  WHERE (b0.wbits & (1::BIGINT << CAST(p0 % 63 AS INT))) <> 0
    AND (b1.wbits & (1::BIGINT << CAST(p1 % 63 AS INT))) <> 0
  GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id)
SELECT c.doc_id,
       coalesce(n_grams, 0) AS n_grams,
       coalesce(n_maybe_hit, 0) AS n_maybe_hit,
       CASE WHEN coalesce(n_maybe_hit, 0) > 0
            THEN n_maybe_hit::DOUBLE / n_grams ELSE 0.0 END AS frac_maybe
FROM corpus c LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
"""


QUERIES = {
    "x01_dedup_exact": x01_dedup_exact,
    "x02_minhash_pairs": x02_minhash_pairs,
    "x03_simhash": x03_simhash,
    "x04_ngram_jaccard": x04_ngram_jaccard,
    "x05_embedding_topk": x05_embedding_topk,
    "x06_lsh_buckets": x06_lsh_buckets,
    "x07_lang_id": x07_lang_id,
    "x08_quality": x08_quality,
    "x09_token_stats": x09_token_stats,
    "x10_fingerprint": x10_fingerprint,
    "x11_multimodal_meta": x11_multimodal_meta,
    "x12_multimodal_features": x12_multimodal_features,
    "x13_lsh_ann": x13_lsh_ann,
    "x14_embedding_neardup": x14_embedding_neardup,
    "x15_ivf_ann": x15_ivf_ann,
    "x16_hll_distinct": x16_hll_distinct,
    "x17_multiprobe_ann": x17_multiprobe_ann,
    "x19_redaction": x19_redaction,
    "x20_vocabulary": x20_vocabulary,
    "x21_dup_clusters": x21_dup_clusters,
    "x22_contamination": x22_contamination,
    "x23_stratified_sample": x23_stratified_sample,
    "x24_shard_packing": x24_shard_packing,
    "x25_kmeans_step": x25_kmeans_step,
    "x26_bloom_contamination": x26_bloom_contamination,
    # r11 gate rotation (round-10 verdict #2): x32/x35 — SemDeDup semantic
    # dedup and the end-to-end LLM-curation flagship — are promoted into the
    # driver gate; q29/q30 (physical variants of q09/q08) moved to
    # core.VARIANT_QUERIES to free their slots. Their functions/SQL are
    # defined further down the module, so the rows are attached there
    # (search for 'QUERIES[' below).
}

ORACLES = {
    "x01_dedup_exact": X01_SQL,
    "x02_minhash_pairs": X02_SQL,
    "x03_simhash": X03_SQL,
    "x04_ngram_jaccard": X04_SQL,
    "x05_embedding_topk": X05_SQL,
    "x06_lsh_buckets": X06_SQL,
    "x07_lang_id": X07_SQL,
    "x08_quality": X08_SQL,
    "x09_token_stats": X09_SQL,
    "x10_fingerprint": X10_SQL,
    "x11_multimodal_meta": X11_SQL,
    "x12_multimodal_features": X12_SQL,
    "x13_lsh_ann": X13_SQL,
    "x14_embedding_neardup": X14_SQL,
    "x15_ivf_ann": X15_SQL,
    "x16_hll_distinct": X16_SQL,
    "x17_multiprobe_ann": X17_SQL,
    "x19_redaction": X19_SQL,
    "x20_vocabulary": X20_SQL,
    "x21_dup_clusters": X21_SQL,
    "x22_contamination": X22_SQL,
    "x23_stratified_sample": X23_SQL,
    "x24_shard_packing": X24_SQL,
    "x25_kmeans_step": X25_SQL,
    "x26_bloom_contamination": X26_SQL,
}
# r11 gate promotions — X32_SQL/X35_SQL are defined further down the module,
# so their gate-oracle rows are attached after those definitions (search for
# "ORACLES[" below).

# --------------------------------------------------------------------------
# x27 interval-overlap join (operators/interval.py) — grain-bucketed
# interval×interval range join, each qualifying pair emitted exactly once via
# the first-overlap-bucket filter (no distinct). Oracle: DuckDB's plain
# overlap-predicate join. Intervals derive from events: "visits" (every 3rd
# event, 2 h long) × "campaigns" (every 5th event, ±1 h) per user.
# --------------------------------------------------------------------------

_IVL_H_US = 3_600_000_000


def x27_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.interval import interval_join
    from ..plans.core import _events

    ev = _events(spark, sf_dir)
    visits = ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id",
        F.col("event_id").alias("visit_id"),
        F.col("ts_us").alias("v_start"),
        (F.col("ts_us") + 2 * _IVL_H_US).alias("v_end"),
    )
    camps = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id",
        F.col("event_id").alias("camp_id"),
        (F.col("ts_us") - _IVL_H_US).alias("c_start"),
        (F.col("ts_us") + _IVL_H_US).alias("c_end"),
    )
    joined = interval_join(
        visits,
        camps,
        left_bounds=("v_start", "v_end"),
        right_bounds=("c_start", "c_end"),
        grain=_IVL_H_US,
        on=["user_id"],
    )
    return joined.select(
        "user_id", "visit_id",
        F.col("camp_id_r").alias("camp_id"),
        "v_start", "v_end",
        F.col("c_start_r").alias("c_start"),
        F.col("c_end_r").alias("c_end"),
    )


X27_SQL = f"""
WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us FROM events),
v AS (
  SELECT user_id, event_id AS visit_id, ts_us AS v_start,
         ts_us + {2 * _IVL_H_US} AS v_end
  FROM e WHERE event_id % 3 = 0
),
c AS (
  SELECT user_id, event_id AS camp_id, ts_us - {_IVL_H_US} AS c_start,
         ts_us + {_IVL_H_US} AS c_end
  FROM e WHERE event_id % 5 = 0
)
SELECT v.user_id, visit_id, camp_id, v_start, v_end, c_start, c_end
FROM v JOIN c
  ON v.user_id = c.user_id
 AND v_start <= c_end AND c_start <= v_end
"""


# --------------------------------------------------------------------------
# x28 corpus-level duplicate-chunk removal (C4/Dolma "line dedup"):
# 3-word chunks whose text appears in > max_doc_freq distinct docs are
# boilerplate; docs are reassembled without them. Oracle rebuilds the exact
# chunking, doc-frequency, and ordered reassembly in DuckDB.
# --------------------------------------------------------------------------

_CHUNK_W, _CHUNK_DF = 3, 2


def x28_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import chunk_dedup

    return chunk_dedup(
        _docs(spark, sf_dir), chunk_words=_CHUNK_W, max_doc_freq=_CHUNK_DF
    )


X28_SQL = f"""
WITH toks AS (SELECT doc_id, str_split(coalesce(text, ''), ' ') AS tk FROM documents),
ch AS (
  SELECT doc_id,
         unnest([{{'idx': i, 'chunk': array_to_string(tk[i*{_CHUNK_W}+1:i*{_CHUNK_W}+{_CHUNK_W}], ' ')}}
                 FOR i IN range(0, CAST(ceil(len(tk) / {_CHUNK_W}.0) AS INT))]) AS s
  FROM toks
),
e AS (SELECT doc_id, s.idx AS idx, s.chunk AS chunk FROM ch),
freq AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM e GROUP BY chunk),
m AS (SELECT e.*, df FROM e JOIN freq USING (chunk)),
kept AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean
  FROM m WHERE df <= {_CHUNK_DF} GROUP BY doc_id
),
stats AS (
  SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN df > {_CHUNK_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
  FROM m GROUP BY doc_id
)
SELECT s.doc_id, n_chunks, n_dropped, md5(coalesce(clean, '')) AS clean_md5
FROM stats s LEFT JOIN kept USING (doc_id)
"""


# --------------------------------------------------------------------------
# x29 intra-document repetition metrics (Gopher/MassiveText quality rules):
# duplicate word 2/3-gram fractions + top-token share per doc.
# --------------------------------------------------------------------------

def x29_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir))


X29_SQL = """
WITH toks AS (SELECT doc_id, str_split(coalesce(text, ''), ' ') AS tk FROM documents),
g AS (
  SELECT doc_id, len(tk) AS n_tokens,
         [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))] AS g2,
         [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] FOR i IN range(1, len(tk)-1)] AS g3
  FROM toks
),
base AS (
  SELECT doc_id, n_tokens,
         CASE WHEN len(g2) > 0
              THEN round(1 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 6)
              ELSE 0.0 END AS dup_2gram_frac,
         CASE WHEN len(g3) > 0
              THEN round(1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
              ELSE 0.0 END AS dup_3gram_frac
  FROM g
),
tc AS (
  SELECT doc_id, t, count(*) AS c
  FROM (SELECT doc_id, unnest(str_split(coalesce(text, ''), ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY doc_id, t
),
top AS (
  SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_token_frac
  FROM tc GROUP BY doc_id
)
SELECT base.doc_id, n_tokens, dup_2gram_frac, dup_3gram_frac,
       coalesce(top_token_frac, 0.0) AS top_token_frac
FROM base LEFT JOIN top USING (doc_id)
"""


# Physical variants / range-join family / corpus-hygiene extras outside the
# driver's 50-row gate budget (see plans/core.py): x18 is the band-OR form
# of the x13/x15/x17 ANN family; x27 exercises operators/interval.py; x28
# (chunk dedup) and x29 (repetition metrics) are the C4/Gopher hygiene
# steps. Same oracle discipline, swept by tools/selfcheck.py + pytest.
# --------------------------------------------------------------------------
# x30 SimHash near-dup pairs: banded candidates (pigeonhole-exact recall for
# hamming < n_bands) + exact bit_count(XOR) verification — the pairing tier
# of the x03 signatures.
# --------------------------------------------------------------------------

def x30_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_pairs

    docs = _docs(spark, sf_dir)
    # inject exact duplicates so the pair set is non-trivially non-empty
    # (ids offset by max+1 — disjoint at every SF, see _id_offset)
    dupes = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .crossJoin(_id_offset(docs, "doc_id"))
        .withColumn("doc_id", F.col("doc_id") + F.col("__off"))
        .drop("__off")
    )
    # max_hamming=1: the synthetic corpus' small topical vocabulary makes
    # 32-bit signatures weakly discriminating (hamming<=3 admits ~15% of all
    # pairs); 1 keeps the pair set dup-dominated at every SF
    return simhash_pairs(docs.unionByName(dupes), max_hamming=1)


X30_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
  FROM documents WHERE doc_id % 25 = 0
),
toks AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS tok FROM all_docs
),
e AS (
  SELECT doc_id, tok, pos FROM toks
  CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS pos)
),
s AS (
  SELECT doc_id, pos,
         sum(CASE WHEN substr(md5(tok), pos, 1) IN ('8','9','a','b','c','d','e','f')
                  THEN 1 ELSE -1 END) AS sgn
  FROM e GROUP BY doc_id, pos
),
sh AS (
  SELECT doc_id,
         string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
  FROM s GROUP BY doc_id
),
b AS (
  SELECT doc_id, i AS band_idx, substr(simhash, i*8+1, 8) AS band
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM b a JOIN b c
    ON a.band_idx = c.band_idx AND a.band = c.band AND a.doc_id < c.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sa.simhash::BIT, sb.simhash::BIT)) AS BIGINT) AS hamming
FROM cand
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE bit_count(xor(sa.simhash::BIT, sb.simhash::BIT)) <= 1
"""


# --------------------------------------------------------------------------
# x31 leakage-safe train/val/test splits: near-dup clusters (x21's
# components over the x02 candidate pairs) are anchored to their canonical
# id, and the split is a hash of the ANCHOR — so no duplicate cluster ever
# straddles train/test. Oracle: the x21 recursive CTE + the x23 hash-
# threshold logic over coalesce(comp, doc_id).
# --------------------------------------------------------------------------

def x31_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_jaccard_pairs
    from ..operators.sampling import leakage_safe_splits

    docs = _docs(spark, sf_dir)
    pairs = minhash_jaccard_pairs(
        docs, n_hashes=N_HASHES, rows_per_band=ROWS_PER_BAND
    ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    return leakage_safe_splits(docs, pairs)


def _x31_sql() -> str:
    from ..operators.sampling import rate_threshold

    t80, t90 = rate_threshold(0.8), rate_threshold(0.9)
    return _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + f"""
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
walk(node, seed) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.seed FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, min(seed) AS comp FROM walk GROUP BY node),
anch AS (
  SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS anchor
  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
)
SELECT doc_id, anchor,
       CASE WHEN substr(md5('split|' || CAST(anchor AS VARCHAR)), 1, 8) < '{t80}' THEN 'train'
            WHEN substr(md5('split|' || CAST(anchor AS VARCHAR)), 1, 8) < '{t90}' THEN 'val'
            ELSE 'test' END AS split
FROM anch
"""


X31_SQL = _x31_sql()


# --------------------------------------------------------------------------
# x32 SemDeDup semantic dedup: cluster embeddings (broadcast argmax — the
# IVF/k-means assignment), drop members within cosine `threshold` of a
# lower-id cluster-mate. Exact dups injected so the drop set is non-trivial
# at every SF (an injected copy lands in its source's cluster at sim 1.0).
# --------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.95
SEMDEDUP_MAX_REPS = 256


def x32_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    embs = _embs(spark, sf_dir)
    # injected ids offset by max+1 (disjoint + higher at every SF, see
    # _id_offset — SemDeDup keeps the lowest id, so originals must win)
    dupes = (
        embs.filter(F.col("vec_id") % 20 == 0)
        .crossJoin(_id_offset(embs, "vec_id"))
        .withColumn("vec_id", F.col("vec_id") + F.col("__off"))
        .drop("__off")
        .withColumn("__orig", F.lit(False))
    )
    # centroids from the original corpus only (an injected copy of a
    # centroid must not itself become a centroid); the __orig tag replaces
    # the old `vec_id < 1_000_000` range test, which broke past 1M vectors
    return semantic_dedup(
        embs.withColumn("__orig", F.lit(True)).unionByName(dupes),
        threshold=SEMDEDUP_THRESHOLD,
        centroid_filter=(F.col("vec_id") % 50 == 1) & F.col("__orig"),
        max_reps=SEMDEDUP_MAX_REPS,
    )


X32_SQL = f"""
WITH all_vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
  UNION ALL
  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS ev
  FROM embeddings WHERE vec_id % 20 = 0
),
c AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
  WHERE vec_id % 50 = 1
),
assign AS (
  SELECT vec_id, ev, c_id FROM all_vecs CROSS JOIN c
  QUALIFY row_number() OVER (
    PARTITION BY vec_id
    ORDER BY round(list_dot_product(ev, cv) /
                   (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
             c_id
  ) <= 1
),
reps AS (
  SELECT vec_id AS rep_id, ev AS rv, c_id FROM assign
  QUALIFY row_number() OVER (PARTITION BY c_id ORDER BY vec_id) <= {SEMDEDUP_MAX_REPS}
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN reps r ON r.c_id = a.c_id AND r.rep_id < a.vec_id
  WHERE round(list_dot_product(a.ev, r.rv) /
              (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(r.rv, r.rv))), 6)
        >= {SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.c_id AS cluster_id, (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


# --------------------------------------------------------------------------
# x33 quality-aware canonical selection: near-dup clusters (x02's candidate
# pairs -> connected components) keep their HIGHEST-QUALITY member (x08's
# composite score), not the min id — the survivor-selection stage of a
# production dedup pipeline.
# --------------------------------------------------------------------------

def x33_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import canonical_docs

    docs = _docs(spark, sf_dir)
    scored = quality_scores(docs).select("doc_id", "quality")
    pairs = minhash_jaccard_pairs(
        docs, n_hashes=N_HASHES, rows_per_band=ROWS_PER_BAND
    ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    return canonical_docs(scored, pairs)


X33_SQL = _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
walk(node, seed) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.seed FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, min(seed) AS comp FROM walk GROUP BY node),
q AS (
  SELECT doc_id,
         round(0.4 * round(CAST(len(list_filter(str_split(text, ' '), t -> t IN ({stop}))) AS INTEGER) * 1.0 / len(str_split(text, ' ')), 6)
             + 0.3 * (1 - round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) * 1.0 / length(text), 6))
             + 0.3 * (1 - round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) * 1.0 / length(text), 6)), 6) AS quality
  FROM documents
),
anch AS (
  SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS anchor, q.quality
  FROM documents d
  LEFT JOIN cc ON cc.node = d.doc_id
  JOIN q ON q.doc_id = d.doc_id
)
SELECT doc_id, anchor,
       first_value(doc_id) OVER w AS keep_id,
       count(*) OVER (PARTITION BY anchor) AS n_members,
       (doc_id = first_value(doc_id) OVER w) AS is_canonical
FROM anch
WINDOW w AS (PARTITION BY anchor ORDER BY quality DESC, doc_id)
""".format(stop=_STOP_SQL)


# --------------------------------------------------------------------------
# x34 temperature-flattened domain mixture: alpha-sampling over the skewed
# `lang` column — rate_d = (min_e n_e / n_d)^(1-alpha), smallest domain kept
# whole, membership by the same md5-threshold rule as x23 (rates become
# in-plan hex thresholds, so the decision is a pure function of the data).
# --------------------------------------------------------------------------

MIXTURE_ALPHA = 0.5


def x34_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import domain_mixture_sample

    return domain_mixture_sample(
        _docs(spark, sf_dir), domain_col="lang", alpha=MIXTURE_ALPHA
    )


X34_SQL = f"""
WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
m AS (SELECT min(n_docs) AS mn FROM n),
r AS (
  SELECT lang,
         round(pow(CAST(mn AS DOUBLE) / n_docs, {1.0 - MIXTURE_ALPHA}), 6) AS rate
  FROM n CROSS JOIN m
),
t AS (
  SELECT lang, rate,
         CASE WHEN rate >= 1.0 THEN 'g'
              ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
         END AS thr
  FROM r
)
SELECT d.doc_id, d.lang, t.rate
FROM documents d JOIN t USING (lang)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
"""


# --------------------------------------------------------------------------
# x35 end-to-end curation pipeline: quality gate -> minhash canonical dedup
# -> strict decontamination vs the bench source -> temperature mixture ->
# cluster-anchored splits. Every stage is individually gated (x08, x02/x21/
# x33, x22, x34, x31); this gates their COMPOSITION — the dedup over the
# gated subset, mixture rates over the decontaminated set, splits keyed on
# stage-2 anchors.
# --------------------------------------------------------------------------

CURATION_QUALITY_MIN = 0.64


def x35_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import curate_corpus

    docs = _docs(spark, sf_dir)
    return curate_corpus(
        docs.filter(F.col("source") != _BENCH_SRC),
        docs.filter(F.col("source") == _BENCH_SRC),
        quality_min=CURATION_QUALITY_MIN,
        n_hashes=N_HASHES,
        rows_per_band=ROWS_PER_BAND,
        alpha=MIXTURE_ALPHA,
    )


def _x35_sql() -> str:
    from ..operators.sampling import rate_threshold

    t80, t90 = rate_threshold(0.8), rate_threshold(0.9)
    # the x02 minhash CTE chain, re-rooted on the quality-gated corpus
    shingles = _SHINGLES_CTE.replace("WITH ", "", 1).replace(
        "FROM documents)", "FROM fdocs)", 1
    )
    return f"""
WITH RECURSIVE
corpus AS (SELECT doc_id, text, lang FROM documents WHERE source <> '{_BENCH_SRC}'),
bench AS (SELECT doc_id, text FROM documents WHERE source = '{_BENCH_SRC}'),
q AS (
  SELECT doc_id,
         round(0.4 * round(CAST(len(list_filter(str_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER) * 1.0 / len(str_split(text, ' ')), 6)
             + 0.3 * (1 - round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) * 1.0 / length(text), 6))
             + 0.3 * (1 - round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) * 1.0 / length(text), 6)), 6) AS quality
  FROM corpus
),
fdocs AS (
  SELECT c.doc_id, c.text, c.lang, q.quality
  FROM corpus c JOIN q USING (doc_id)
  WHERE q.quality >= {CURATION_QUALITY_MIN}
),
{shingles},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
walk(node, seed) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.seed FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, min(seed) AS comp FROM walk GROUP BY node),
anch AS (
  SELECT f.doc_id, coalesce(cc.comp, f.doc_id) AS anchor, f.quality, f.lang, f.text
  FROM fdocs f LEFT JOIN cc ON cc.node = f.doc_id
),
canon AS (
  SELECT doc_id, anchor, quality, lang, text,
         first_value(doc_id) OVER (PARTITION BY anchor ORDER BY quality DESC, doc_id) AS keep_id,
         count(*) OVER (PARTITION BY anchor) AS n_members
  FROM anch
),
surv AS (SELECT * FROM canon WHERE doc_id = keep_id),
st AS (SELECT doc_id, str_split(text, ' ') AS tk2 FROM surv),
sg AS (
  SELECT DISTINCT doc_id,
         unnest([tk2[i] || ' ' || tk2[i+1] || ' ' || tk2[i+2] FOR i IN range(1, len(tk2) - 1)]) AS g
  FROM st
),
bt AS (SELECT str_split(text, ' ') AS tk3 FROM bench),
bg AS (
  SELECT DISTINCT
         unnest([tk3[i] || ' ' || tk3[i+1] || ' ' || tk3[i+2] FOR i IN range(1, len(tk3) - 1)]) AS g
  FROM bt
),
hits AS (SELECT doc_id, count(*) AS n_hit FROM sg JOIN bg USING (g) GROUP BY doc_id),
clean AS (
  SELECT s.* FROM surv s LEFT JOIN hits h USING (doc_id)
  WHERE coalesce(h.n_hit, 0) = 0
),
n AS (SELECT lang, count(*) AS n_docs FROM clean GROUP BY lang),
m AS (SELECT min(n_docs) AS mn FROM n),
r AS (
  SELECT lang,
         round(pow(CAST(mn AS DOUBLE) / n_docs, {1.0 - MIXTURE_ALPHA}), 6) AS rate
  FROM n CROSS JOIN m
),
t AS (
  SELECT lang, rate,
         CASE WHEN rate >= 1.0 THEN 'g'
              ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
         END AS thr
  FROM r
)
SELECT c.doc_id, c.lang, c.quality, c.anchor, c.n_members, t.rate,
       CASE WHEN substr(md5('split|' || CAST(c.anchor AS VARCHAR)), 1, 8) < '{t80}' THEN 'train'
            WHEN substr(md5('split|' || CAST(c.anchor AS VARCHAR)), 1, 8) < '{t90}' THEN 'val'
            ELSE 'test' END AS split
FROM clean c JOIN t USING (lang)
WHERE substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8) < t.thr
"""


X35_SQL = _x35_sql()

# r11 gate promotions (see the QUERIES comment): attached here because the
# functions/SQL constants are defined after the QUERIES/ORACLES literals.
QUERIES["x32_semantic_dedup"] = x32_semantic_dedup
QUERIES["x35_curation_pipeline"] = x35_curation_pipeline
ORACLES["x32_semantic_dedup"] = X32_SQL
ORACLES["x35_curation_pipeline"] = X35_SQL


# --------------------------------------------------------------------------
# x36 bigram-LM fluency scoring (CCNet perplexity-filter shape): add-k
# smoothed bigram model trained on the corpus itself, every doc scored by
# mean -log2 P(w2|w1) — bits per bigram.
# --------------------------------------------------------------------------

NGRAM_LM_K = 0.5


def x36_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import ngram_lm_scores

    return ngram_lm_scores(_docs(spark, sf_dir), k_smooth=NGRAM_LM_K)


X36_SQL = f"""
WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
toks AS (SELECT doc_id, str_split(text, ' ') AS tk FROM docs),
grams AS (
  SELECT doc_id, g['w1'] AS w1, g['s'] AS s FROM (
    SELECT doc_id,
           unnest([{{'w1': tk[i], 's': tk[i] || ' ' || tk[i+1]}} FOR i IN range(1, len(tk))]) AS g
    FROM toks
  )
),
c2 AS (SELECT s, count(*) AS c2 FROM grams GROUP BY s),
c1 AS (SELECT w1, count(*) AS c1 FROM grams GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(str_split(text, ' ')) AS w FROM docs))
SELECT g.doc_id, count(*) AS n_bigrams,
       round(avg(-log2((c2.c2 + {NGRAM_LM_K}) / (c1.c1 + {NGRAM_LM_K} * v.v))), 6) AS avg_nll
FROM grams g JOIN c2 USING (s) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY g.doc_id
"""


# --------------------------------------------------------------------------
# x37 BM25 lexical retrieval: top-k docs per query (queries = the first 6
# tokens of every 97th document — deterministic, self-relevant so the
# ranking is non-trivial: each query's source doc should surface).
# --------------------------------------------------------------------------

BM25_K1, BM25_B, BM25_K = 1.2, 0.75, 10
BM25_QUERY_MOD = 97
BM25_QUERY_TOKENS = 6


def x37_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % BM25_QUERY_MOD == 3).select(
        F.col("doc_id").alias("q_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, BM25_QUERY_TOKENS)
        ).alias("q_text"),
    )
    return bm25_topk(docs, queries, k1=BM25_K1, b=BM25_B, k=BM25_K)


X37_SQL = f"""
WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
qdocs AS (
  SELECT doc_id AS q_id,
         array_to_string((str_split(text, ' '))[1:{BM25_QUERY_TOKENS}], ' ') AS q_text
  FROM docs WHERE doc_id % {BM25_QUERY_MOD} = 3
),
toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM docs
  ) WHERE t <> ''
),
postings AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
doclen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
dfreq AS (SELECT t, count(*) AS df FROM postings GROUP BY t),
qt AS (
  SELECT DISTINCT q_id, t FROM (
    SELECT q_id, unnest(str_split(q_text, ' ')) AS t FROM qdocs
  ) WHERE t <> ''
),
qidf AS (
  SELECT qt.q_id, qt.t,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) AS idf,
         stats.avgdl
  FROM qt JOIN dfreq USING (t) CROSS JOIN stats
),
scored AS (
  SELECT q.q_id, p.doc_id,
         round(sum(q.idf * (p.tf * {BM25_K1 + 1.0})
                   / (p.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * d.dl / q.avgdl))), 6) AS score
  FROM postings p JOIN doclen d USING (doc_id) JOIN qidf q USING (t)
  GROUP BY q.q_id, p.doc_id
)
SELECT q_id, doc_id,
       row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rnk,
       score
FROM scored
QUALIFY rnk <= {BM25_K}
"""


def x47_bm25_maxscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x37's EXACT ranking through the max-score pruned tier — same oracle:
    the pruning's whole contract is that it is invisible in the output
    (``operators.retrieval.bm25_topk_maxscore``)."""
    from ..operators.retrieval import bm25_topk_maxscore

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % BM25_QUERY_MOD == 3).select(
        F.col("doc_id").alias("q_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, BM25_QUERY_TOKENS)
        ).alias("q_text"),
    )
    return bm25_topk_maxscore(docs, queries, k1=BM25_K1, b=BM25_B, k=BM25_K)


# --------------------------------------------------------------------------
# x38 fuzzy cross-corpus decontamination: MinHash band join of corpus docs
# against the benchmark corpus — catches paraphrased benchmark leaks the
# exact n-gram tiers (x22/x26) miss. Near-dup leaks injected (benchmark docs
# re-id'd into the corpus with a 3-token suffix) so the flag set is
# non-trivial at every SF.
# --------------------------------------------------------------------------

XCND_THRESHOLD = 0.8


def x38_cross_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.contamination import cross_corpus_neardup

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("source") == _BENCH_SRC)
    leaked = (
        bench.filter(F.col("doc_id") % 3 == 0)
        # negative re-ids are disjoint from the real corpus (doc_id >= 0) at
        # EVERY scale factor — the old +1_000_000 offset collided with real
        # ids once a corpus passed 1M documents
        .withColumn("doc_id", -F.col("doc_id") - 1)
        .withColumn("text", F.concat(F.col("text"), F.lit(" leaked benchmark copy")))
    )
    corpus = docs.filter(F.col("source") != _BENCH_SRC).unionByName(leaked)
    return cross_corpus_neardup(
        corpus, bench, n_hashes=N_HASHES, rows_per_band=ROWS_PER_BAND,
        threshold=XCND_THRESHOLD,
    )


X38_SQL = f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE source = '{_BENCH_SRC}'),
corpus AS (
  SELECT doc_id, text FROM documents WHERE source <> '{_BENCH_SRC}'
  UNION ALL
  SELECT -doc_id - 1 AS doc_id, text || ' leaked benchmark copy' AS text
  FROM documents WHERE source = '{_BENCH_SRC}' AND doc_id % 3 = 0
),
ctk AS (SELECT doc_id, str_split(text, ' ') AS tk FROM corpus),
csh AS (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS s FROM ctk),
chs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS a,
               ('0x' || substr(md5(s), 9, 8))::BIGINT % 2147483646 + 1 AS b FROM csh),
seeds AS (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS i),
csig AS (SELECT doc_id, i, min((a + i * b) % 2147483647) AS mh FROM chs CROSS JOIN seeds GROUP BY doc_id, i),
cbands AS (SELECT doc_id, i // {ROWS_PER_BAND} AS band_idx, string_agg(mh, '|' ORDER BY i) AS band_sig
           FROM csig GROUP BY doc_id, i // {ROWS_PER_BAND}),
btk AS (SELECT doc_id, str_split(text, ' ') AS tk FROM bench),
bsh AS (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS s FROM btk),
bhs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS a,
               ('0x' || substr(md5(s), 9, 8))::BIGINT % 2147483646 + 1 AS b FROM bsh),
bsig AS (SELECT doc_id, i, min((a + i * b) % 2147483647) AS mh FROM bhs CROSS JOIN seeds GROUP BY doc_id, i),
bbands AS (SELECT doc_id, i // {ROWS_PER_BAND} AS band_idx, string_agg(mh, '|' ORDER BY i) AS band_sig
           FROM bsig GROUP BY doc_id, i // {ROWS_PER_BAND}),
cand AS (SELECT DISTINCT c.doc_id AS c_id, b.doc_id AS b_id
         FROM cbands c JOIN bbands b USING (band_idx, band_sig)),
est AS (
  SELECT cand.c_id, cand.b_id,
         CAST(sum(CASE WHEN cs.mh = bs.mh THEN 1 ELSE 0 END) AS BIGINT) / {float(N_HASHES)} AS j
  FROM cand
  JOIN csig cs ON cs.doc_id = cand.c_id
  JOIN bsig bs ON bs.doc_id = cand.b_id AND bs.i = cs.i
  GROUP BY 1, 2
),
hits AS (SELECT c_id, count(*) AS n_candidates, max(j) AS max_jaccard FROM est GROUP BY c_id)
SELECT c.doc_id,
       coalesce(h.n_candidates, 0) AS n_candidates,
       coalesce(h.max_jaccard, 0.0) AS max_jaccard,
       coalesce(h.max_jaccard, 0.0) < {XCND_THRESHOLD} AS keep
FROM corpus c LEFT JOIN hits h ON h.c_id = c.doc_id
"""


# --------------------------------------------------------------------------
# x39 DSIR importance weights: hashed-n-gram importance resampling scores —
# how much more likely each doc's features are under the target slice
# (lang='en') than under the raw corpus.
# --------------------------------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_K = 0.5
DSIR_TARGET_LANG = "en"


def x39_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import dsir_logratios

    docs = _docs(spark, sf_dir)
    return dsir_logratios(
        docs,
        F.col("lang") == DSIR_TARGET_LANG,
        n_buckets=DSIR_BUCKETS,
        k_smooth=DSIR_K,
    )


X39_SQL = f"""
WITH docs AS (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents),
tk AS (SELECT doc_id, (lang = '{DSIR_TARGET_LANG}') AS is_t, str_split(text, ' ') AS tk FROM docs),
feats AS (
  SELECT doc_id, is_t,
         unnest(list_concat(tk, [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))])) AS f
  FROM tk
),
fb AS (SELECT doc_id, is_t,
              ('0x' || substr(md5(f), 1, 15))::BIGINT % {DSIR_BUCKETS} AS bkt
       FROM feats),
rc AS (SELECT bkt, count(*) AS c_raw FROM fb GROUP BY bkt),
tc AS (SELECT bkt, count(*) AS c_tgt FROM fb WHERE is_t GROUP BY bkt),
tot AS (SELECT count(*) AS tot_raw,
               sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tot_tgt FROM fb),
w AS (
  SELECT rc.bkt,
         ln((coalesce(tc.c_tgt, 0) + {DSIR_K}) / (tot.tot_tgt + {DSIR_K} * {DSIR_BUCKETS}))
       - ln((rc.c_raw + {DSIR_K}) / (tot.tot_raw + {DSIR_K} * {DSIR_BUCKETS})) AS w
  FROM rc LEFT JOIN tc USING (bkt) CROSS JOIN tot
)
SELECT fb.doc_id, count(*) AS n_feats, round(sum(w.w), 6) AS log_ratio
FROM fb JOIN w USING (bkt)
GROUP BY fb.doc_id
"""


# --------------------------------------------------------------------------
# x40 BPE tokenizer-training statistics: count-weighted adjacent character
# pairs over the word-frequency table — the top-1 row is the next BPE merge
# (the k-round loop itself is verified by pytest vs a pure-Python BPE).
# --------------------------------------------------------------------------

BPE_TOPK = 20


def x40_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import pair_counts, with_symbols, word_counts

    return pair_counts(with_symbols(word_counts(_docs(spark, sf_dir))), k=BPE_TOPK)


X40_SQL = f"""
WITH wc AS (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest(str_split(coalesce(text, ''), ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
pc AS (
  SELECT g['l'] AS sym_l, g['r'] AS sym_r, wc FROM (
    SELECT wc, unnest([{{'l': w[i], 'r': w[i+1]}} FOR i IN range(1, length(w))]) AS g
    FROM wc
  )
),
agg AS (SELECT sym_l, sym_r, CAST(sum(wc) AS BIGINT) AS cnt FROM pc GROUP BY sym_l, sym_r)
SELECT sym_l, sym_r, cnt,
       row_number() OVER (ORDER BY cnt DESC, sym_l, sym_r) AS rnk
FROM agg
QUALIFY rnk <= {BPE_TOPK}
"""


# --------------------------------------------------------------------------
# x41 exact repeated-span removal (token-granular suffix-array dedup shape):
# sliding-window duplicate detection + positional excision + reassembly. A
# 9-token boilerplate passage is appended to every 25th doc so duplicated
# spans exist at every SF (plus whatever the corpus shares naturally).
# --------------------------------------------------------------------------

SPAN_WORDS = 8
_SPAN_PASSAGE = (
    "shared boilerplate sentence tokens appear across documents here verbatim"
)


def x41_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import span_dedup

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 25 == 0, F.lit(" " + _SPAN_PASSAGE)).otherwise(
                F.lit("")
            ),
        ),
    )
    return span_dedup(docs, span_words=SPAN_WORDS)


X41_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         coalesce(text, '') ||
         CASE WHEN doc_id % 25 = 0 THEN ' {_SPAN_PASSAGE}' ELSE '' END AS text
  FROM documents
),
tk AS (SELECT doc_id, str_split(text, ' ') AS tk FROM docs),
grams AS (
  SELECT doc_id, g['p'] AS p, g['h'] AS h FROM (
    SELECT doc_id,
           unnest([{{'p': i - 1,
                     'h': substr(md5(array_to_string(tk[i:i+{SPAN_WORDS - 1}], ' ')), 1, 16)}}
                   FOR i IN range(1, len(tk) - {SPAN_WORDS} + 2)]) AS g
    FROM tk
  )
),
dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
covered AS (
  SELECT DISTINCT doc_id, tpos FROM (
    SELECT g.doc_id, unnest(range(g.p, g.p + {SPAN_WORDS})) AS tpos
    FROM grams g JOIN dup USING (h)
  )
),
toks AS (
  SELECT doc_id, g['p'] AS tpos, g['t'] AS tok FROM (
    SELECT doc_id,
           unnest([{{'p': i - 1, 't': tk[i]}} FOR i IN range(1, len(tk) + 1)]) AS g
    FROM tk
  )
),
kept AS (
  SELECT t.doc_id, count(*) AS n_kept,
         string_agg(t.tok, ' ' ORDER BY t.tpos) AS clean
  FROM toks t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.tpos = t.tpos
  WHERE c.tpos IS NULL
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(len(tk.tk) AS BIGINT) AS n_tokens,
       CAST(len(tk.tk) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       md5(coalesce(k.clean, '')) AS clean_md5
FROM docs d
JOIN tk ON tk.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# x42 per-domain relative quality gate (FineWeb-style selection): keep the
# top keep_frac of each domain ranked by the x08 composite quality score —
# absolute thresholds drift across languages; a relative gate self-adapts.
# --------------------------------------------------------------------------

QGATE_FRAC = 0.5


def x42_domain_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import domain_quality_gate

    return domain_quality_gate(_docs(spark, sf_dir), keep_frac=QGATE_FRAC)


X42_SQL = f"""
WITH q AS (
  SELECT doc_id, lang,
         round(0.4 * round(CAST(len(list_filter(str_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER) * 1.0 / len(str_split(text, ' ')), 6)
             + 0.3 * (1 - round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) * 1.0 / length(text), 6))
             + 0.3 * (1 - round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) * 1.0 / length(text), 6)), 6) AS quality
  FROM documents
),
n AS (SELECT lang, count(*) AS n FROM q GROUP BY lang)
SELECT q.doc_id, q.lang, q.quality,
       row_number() OVER (
         PARTITION BY q.lang ORDER BY q.quality DESC NULLS LAST, q.doc_id
       ) AS rnk
FROM q JOIN n USING (lang)
QUALIFY rnk <= ceil({QGATE_FRAC} * n.n)
"""


# --------------------------------------------------------------------------
# x43 fixed-length sequence packing: docs concatenate in id order and split
# every SEQ_LEN tokens; one row per (sequence, document) overlap with exact
# in-document offsets — the causal-LM loader layout.
# --------------------------------------------------------------------------

SEQ_LEN = 512


def x43_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=SEQ_LEN)


X43_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split(coalesce(text, ''), ' '), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
  FROM t
),
s AS (
  SELECT doc_id, cum_tok - n_tok AS st, cum_tok,
         unnest(range((cum_tok - n_tok) // {SEQ_LEN}, (cum_tok - 1) // {SEQ_LEN} + 1)) AS seq_id
  FROM c WHERE n_tok > 0
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(greatest(st, seq_id * {SEQ_LEN}) - st AS BIGINT) AS off_start,
       CAST(least(cum_tok, (seq_id + 1) * {SEQ_LEN}) - greatest(st, seq_id * {SEQ_LEN}) AS BIGINT) AS n_span
FROM s
"""


# --------------------------------------------------------------------------
# x44 Gopher/MassiveText document rules: the named doc-level filter battery
# (word-count and mean-word-length bounds, symbol ratio, bullet/ellipsis
# line fractions, alphabetic-word fraction, stop-word presence) with every
# signal emitted for auditability.
# --------------------------------------------------------------------------

def x44_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import STOPWORDS, gopher_rules

    # the stop set is a corpus parameter: the synthetic vocabulary lacks
    # Gopher's English function words (only 'the' appears), so the presence
    # rule uses the corpus's own stop list — same rule, non-degenerate gate
    return gopher_rules(_docs(spark, sf_dir), stops=STOPWORDS)


_GSTOPS = _STOP_SQL

X44_SQL = f"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         round((length(text) - (len(str_split(text, ' ')) - 1)) * 1.0
               / len(str_split(text, ' ')), 6) AS mean_word_len,
         round(((length(text) - length(replace(text, '#', '')))
                + (len(str_split(text, '...')) - 1)) * 1.0
               / len(str_split(text, ' ')), 6) AS symbol_ratio,
         round(CAST(len(list_filter(str_split(text, chr(10)),
                    ln -> starts_with(ln, '•') OR starts_with(ln, '- '))) AS INTEGER) * 1.0
               / len(str_split(text, chr(10))), 6) AS bullet_frac,
         round(CAST(len(list_filter(str_split(text, chr(10)),
                    ln -> ends_with(ln, '...'))) AS INTEGER) * 1.0
               / len(str_split(text, chr(10))), 6) AS ellipsis_frac,
         round(CAST(len(list_filter(str_split(text, ' '),
                    w -> regexp_matches(w, '[a-zA-Z]'))) AS INTEGER) * 1.0
               / len(str_split(text, ' ')), 6) AS alpha_frac,
         CAST(len(list_filter([{_GSTOPS}],
                    s -> list_contains(str_split(text, ' '), s))) AS BIGINT) AS stop_hits
  FROM d
)
SELECT m.*,
       (n_words BETWEEN 50 AND 100000)
       AND (mean_word_len BETWEEN 3.0 AND 10.0)
       AND symbol_ratio <= 0.1
       AND bullet_frac <= 0.9
       AND ellipsis_frac <= 0.3
       AND alpha_frac >= 0.8
       AND stop_hits >= 2 AS "pass"
FROM m
"""


# --------------------------------------------------------------------------
# x45 dedup provenance report: near-dup pair counts per (unordered) source
# pair — the mirror-site/shared-boilerplate diagnostic a pipeline runs to
# decide WHICH feeds to drop, built by joining x02's pairs back to sources.
# --------------------------------------------------------------------------

def x45_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = minhash_jaccard_pairs(
        docs, n_hashes=N_HASHES, rows_per_band=ROWS_PER_BAND
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
            "jaccard_est",
        )
        .groupBy("src_lo", "src_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard_est"), 6).alias("avg_jaccard"),
        )
    )


X45_SQL = _SHINGLES_CTE + f"""
, est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) / {float(N_HASHES)} AS j
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
  GROUP BY 1, 2
),
src AS (SELECT doc_id, source FROM documents)
SELECT least(a.source, b.source) AS src_lo,
       greatest(a.source, b.source) AS src_hi,
       count(*) AS n_pairs,
       round(avg(j), 6) AS avg_jaccard
FROM est
JOIN src a ON a.doc_id = est.id_a
JOIN src b ON b.doc_id = est.id_b
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# x46 per-source token-distribution drift: KL(P_source || P_corpus) over
# unigrams — the per-feed monitoring signal that catches a source going
# off-distribution before it trains.
# --------------------------------------------------------------------------

def x46_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_kl_divergence

    return token_kl_divergence(_docs(spark, sf_dir))


X46_SQL = """
WITH toks AS (
  SELECT source, t FROM (
    SELECT source, unnest(str_split(coalesce(text, ''), ' ')) AS t FROM documents
  ) WHERE t <> ''
),
g AS (SELECT source, t, count(*) AS c_g FROM toks GROUP BY source, t),
c AS (SELECT t, CAST(sum(c_g) AS BIGINT) AS c_c FROM g GROUP BY t),
gt AS (SELECT source, CAST(sum(c_g) AS BIGINT) AS n_g FROM g GROUP BY source),
ct AS (SELECT CAST(sum(c_c) AS BIGINT) AS n_c FROM c)
SELECT g.source,
       max(gt.n_g) AS n_tokens,
       round(sum((g.c_g * 1.0 / gt.n_g)
                 * ln((g.c_g * 1.0 / gt.n_g) / (c.c_c * 1.0 / ct.n_c))), 6) AS kl
FROM g
JOIN c USING (t)
JOIN gt USING (source)
CROSS JOIN ct
GROUP BY g.source
"""


# --------------------------------------------------------------------------
# x48 real multimodal decode: synthesized VALID image payloads (grayscale
# PNG with correct chunk CRCs / JPEG marker stream) round-tripped through the
# byte-structure parser + full PNG pixel decode (operators/multimodal.py).
# The oracle recomputes what the bytes were built from — any generator or
# parser defect breaks the hash match.
# --------------------------------------------------------------------------

def x48_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_image_metadata, synthesize_image_blobs

    # NOTE (r16, measured): spread_small_input before the synthesis was
    # tried (the single-split fixture runs both mapInPandas passes as ONE
    # task; a stage profile showed 740 ms run / 26 ms JVM-CPU) and measured
    # 1.09× SLOWER interleaved (0.778 → 0.845 s best-of-3×3) — the profiled
    # "run" was mostly one-time Python-worker startup, not per-row decode
    # work, so the repartition bought nothing a warm worker didn't already
    # have. Do not re-add without a blob-scale probe showing it wins.
    blobs = synthesize_image_blobs(_docs(spark, sf_dir), id_col="doc_id")
    return decode_image_metadata(blobs)


X48_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       CAST(16 + doc_id % 48 AS INTEGER) AS width,
       CAST(16 + (doc_id // 48) % 48 AS INTEGER) AS height,
       CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 251 AS DOUBLE) END AS px_mean,
       CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 251 AS INTEGER) END AS px_min,
       CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 251 AS INTEGER) END AS px_max
FROM documents
"""


# --------------------------------------------------------------------------
# x49 hashed bag-of-words embeddings: the text -> vector bridge (feature
# hashing) with a FULL DuckDB oracle — md5-derived index/sign with integer
# div/% (exact past 2^53), ±1 integer cell sums, 6dp-rounded L2 normalize.
# Long-form output (doc_id, idx, val), zero cells excluded on both sides
# (a cancelled +1/-1 cell rounds to 0.0 and is filtered identically).
# --------------------------------------------------------------------------

_X49_DIM = 64


def x49_hashed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hashed_bow_embeddings

    emb = hashed_bow_embeddings(_docs(spark, sf_dir), dim=_X49_DIM)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("idx", "val"))
        .filter(F.col("val") != 0.0)
        .select("doc_id", F.col("idx").cast("bigint").alias("idx"), "val")
    )


X49_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
),
cell AS (
  SELECT doc_id, hv % {_X49_DIM} AS idx,
         CAST(SUM(1 - 2 * ((hv // {_X49_DIM}) % 2)) AS DOUBLE) AS v
  FROM h GROUP BY 1, 2
),
n AS (SELECT doc_id, sqrt(SUM(v * v)) AS nrm FROM cell GROUP BY 1)
SELECT c.doc_id, c.idx, round(c.v / n.nrm, 6) AS val
FROM cell c JOIN n USING (doc_id)
WHERE n.nrm > 0 AND round(c.v / n.nrm, 6) <> 0.0
"""


# --------------------------------------------------------------------------
# x51 hashed BoW with the REGEX tokenizer (text.BPE_ISH_PATTERN — what real
# corpora want instead of x49's single-space split; punctuation splits off,
# runs of letters/digits tokenize separately). Same exact-integer hashing
# contract, same long-form output, oracle mirrors the tokenization with
# DuckDB regexp_extract_all.
# --------------------------------------------------------------------------

def x51_hashed_embeddings_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hashed_bow_embeddings

    emb = hashed_bow_embeddings(_docs(spark, sf_dir), dim=_X49_DIM, tokenizer="regex")
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("idx", "val"))
        .filter(F.col("val") != 0.0)
        .select("doc_id", F.col("idx").cast("bigint").alias("idx"), "val")
    )


X51_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
),
cell AS (
  SELECT doc_id, hv % {_X49_DIM} AS idx,
         CAST(SUM(1 - 2 * ((hv // {_X49_DIM}) % 2)) AS DOUBLE) AS v
  FROM h GROUP BY 1, 2
),
n AS (SELECT doc_id, sqrt(SUM(v * v)) AS nrm FROM cell GROUP BY 1)
SELECT c.doc_id, c.idx, round(c.v / n.nrm, 6) AS val
FROM cell c JOIN n USING (doc_id)
WHERE n.nrm > 0 AND round(c.v / n.nrm, 6) <> 0.0
"""


# --------------------------------------------------------------------------
# x52 IVF+PQ exhaustive degeneracy: the COMPOSED ANN pipeline (kmeans
# coarse cells -> fused one-pass index -> per-cell ADC gather -> exact
# rerank) with every cell probed and an uncut shortlist must reproduce
# brute-force cosine top-k EXACTLY — so the whole machinery (index build,
# probe selection, code packing, c_id repartition, per-partition
# shortlist fold and merge, rerank) is gated by the same DuckDB oracle as
# x05, independent of any centroid/codebook float noise (approximation
# quality is measured separately: SCALE ann sweeps). The x47-max-score
# pattern: an optimized path proven invisible under its parent's oracle.
# --------------------------------------------------------------------------

def _overlap2(spark: SparkSession, fa, fb):
    """Run two independent eager plan-builders concurrently (guide §2.6) —
    each keeps its own job/FP sequence, so results are bit-identical to the
    sequential composition. Same pinned-thread guard as ``pq_train``: in
    classic mode with PYSPARK_PIN_THREAD=false the session-argument wrapper
    returns its argument unwrapped, in which case run plainly."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession as _SparkSession

    wrapper = inheritable_thread_target(spark)
    if callable(wrapper) and not isinstance(wrapper, _SparkSession):
        fa, fb = wrapper(fa), wrapper(fb)
    with ThreadPoolExecutor(max_workers=2) as pool:
        ra, rb = pool.submit(fa), pool.submit(fb)
        return ra.result(), rb.result()


def x52_ivfpq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_train,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    # r16 (guide §2.6, VERDICT r15 #7): the coarse k-means and the PQ
    # codebook trainings are INDEPENDENT here (non-residual — the books
    # train on raw sub-vectors, not on coarse residuals like x55), and
    # each is a chain of driver-blocking eager jobs; submitting both from a
    # 2-thread pool overlaps one chain's small-agg tails with the other's
    # jobs. Each training's own job sequence — and FP op sequence — is
    # unchanged, so centroids/codebooks are bit-identical (the pq_train
    # pooled-blocks argument); the residual variants stay sequential
    # (books depend on cents there).
    cents, books = _overlap2(
        spark,
        lambda: kmeans_train(
            embs, centroid_filter=F.col("vec_id") % 50 == 1, n_iters=2
        ),
        lambda: pq_train(embs, m=8, k=16, n_iters=2, dim=DIM),
    )
    idx = ivfpq_index(embs, cents, books)
    exhaustive = 10**9  # > any cell/corpus count: probe all, cut nothing
    return ivfpq_topk(
        idx, queries, cents, books, embs,
        n_probe=exhaustive, k=5, shortlist=exhaustive,
    )


# --------------------------------------------------------------------------
# x53 centered-assignment degeneracy: IVF with the MEAN-CENTERED assignment
# space (the shared-component fix for hashed-BoW-like corpora — see
# center_embeddings) probing every cell must still reproduce brute-force
# cosine top-k on RAW vectors under x05's oracle: centering may only move
# vectors between cells, never touch the returned metric. At the
# exhaustive point cell choice is irrelevant, so this covers the centered
# Arrow pass of ivf_index end to end; the cells themselves are pinned to
# the expression rule by x15 and the unit tests.
# --------------------------------------------------------------------------

def x53_ivf_centered_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_ann_topk

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivf_ann_topk(
        embs, queries, n_probe=10**9, k=5,
        center=True,
        centroid_filter=F.col("vec_id") % 50 == 1,
    )


# --------------------------------------------------------------------------
# x54 CENTERED semantic dedup: x32's exact fixture with the assignment
# stage moved into mean-centered space (the shared-component fix —
# center_embeddings). Unlike x53's degenerate-point gate, this oracles the
# centered assignment ITSELF: the DuckDB twin recomputes the per-dimension
# mean (rounded to 6dp on both sides so cross-engine avg noise can't leak
# into the 6dp sim rounding), re-derives every centered cosine, and must
# agree on cluster_id AND keep for every row. The verdict stage stays on
# raw vectors in both engines — centering may redraw cluster boundaries,
# never what counts as a duplicate.
# --------------------------------------------------------------------------

def x54_semantic_dedup_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_mean, semantic_dedup

    embs = _embs(spark, sf_dir)
    dupes = (
        embs.filter(F.col("vec_id") % 20 == 0)
        .crossJoin(_id_offset(embs, "vec_id"))
        .withColumn("vec_id", F.col("vec_id") + F.col("__off"))
        .drop("__off")
        .withColumn("__orig", F.lit(False))
    )
    allv = embs.withColumn("__orig", F.lit(True)).unionByName(dupes)
    mean = [round(v, 6) for v in embedding_mean(allv)]
    return semantic_dedup(
        allv,
        threshold=SEMDEDUP_THRESHOLD,
        centroid_filter=(F.col("vec_id") % 50 == 1) & F.col("__orig"),
        max_reps=SEMDEDUP_MAX_REPS,
        center_vec=mean,
    )


X54_SQL = f"""
WITH all_vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
  UNION ALL
  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS ev
  FROM embeddings WHERE vec_id % 20 = 0
),
c AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
  WHERE vec_id % 50 = 1
),
m AS (
  SELECT pos, round(avg(ev[pos]), 6) AS mv
  FROM all_vecs CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
  GROUP BY pos
),
cen AS (
  SELECT a.vec_id, list(a.ev[m.pos] - m.mv ORDER BY m.pos) AS cev
  FROM all_vecs a CROSS JOIN m GROUP BY a.vec_id
),
ccen AS (
  SELECT c.c_id, list(c.cv[m.pos] - m.mv ORDER BY m.pos) AS ccv
  FROM c CROSS JOIN m GROUP BY c.c_id
),
assign AS (
  SELECT a.vec_id, a.ev, x.c_id
  FROM all_vecs a JOIN cen ce USING (vec_id) CROSS JOIN ccen x
  QUALIFY row_number() OVER (
    PARTITION BY a.vec_id
    ORDER BY round(list_dot_product(ce.cev, x.ccv) /
                   (sqrt(list_dot_product(ce.cev, ce.cev)) *
                    sqrt(list_dot_product(x.ccv, x.ccv))), 6) DESC,
             x.c_id
  ) <= 1
),
reps AS (
  SELECT vec_id AS rep_id, ev AS rv, c_id FROM assign
  QUALIFY row_number() OVER (PARTITION BY c_id ORDER BY vec_id) <= {SEMDEDUP_MAX_REPS}
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN reps r ON r.c_id = a.c_id AND r.rep_id < a.vec_id
  WHERE round(list_dot_product(a.ev, r.rv) /
              (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(r.rv, r.rv))), 6)
        >= {SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.c_id AS cluster_id, (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


# --------------------------------------------------------------------------
# x50 semantic dedup over RAW TEXT: hashed_bow_embeddings (x49's featurizer,
# UNNORMALIZED — cosine is scale-invariant, and integer cell sums keep every
# pre-round quantity exact cross-engine) composed into semantic_dedup
# (x32's operator). The "no learned embeddings yet" first-pass semantic
# dedup a text-only corpus actually runs; one oracle reproduces featurize +
# assign + bounded-reps + verdict end to end. Zero-norm docs (all cells
# cancelled) are excluded identically on both sides — 0/0 cosine is
# engine-divergent (NaN vs error).
# --------------------------------------------------------------------------

def x50_text_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hashed_bow_embeddings, semantic_dedup

    vecs = (
        hashed_bow_embeddings(_docs(spark, sf_dir), dim=_X49_DIM, normalize=False)
        .withColumnRenamed("doc_id", "vec_id")
        .filter(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x) > 0
        )
    )
    return semantic_dedup(
        vecs,
        threshold=SEMDEDUP_THRESHOLD,
        centroid_filter=F.col("vec_id") % 50 == 1,
        max_reps=SEMDEDUP_MAX_REPS,
    )


X50_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
),
cell AS (
  SELECT doc_id, hv % {_X49_DIM} AS idx,
         CAST(SUM(1 - 2 * ((hv // {_X49_DIM}) % 2)) AS DOUBLE) AS v
  FROM h GROUP BY 1, 2
),
dense AS (
  SELECT ids.doc_id AS vec_id, list(coalesce(cell.v, 0.0) ORDER BY d.idx) AS ev
  FROM (SELECT DISTINCT doc_id FROM documents) ids
  CROSS JOIN range({_X49_DIM}) d(idx)
  LEFT JOIN cell ON cell.doc_id = ids.doc_id AND cell.idx = d.idx
  GROUP BY 1
),
vecs AS (SELECT vec_id, ev FROM dense WHERE list_dot_product(ev, ev) > 0),
c AS (SELECT vec_id AS c_id, ev AS cv FROM vecs WHERE vec_id % 50 = 1),
assign AS (
  SELECT vec_id, ev, c_id FROM vecs CROSS JOIN c
  QUALIFY row_number() OVER (
    PARTITION BY vec_id
    ORDER BY round(list_dot_product(ev, cv) /
                   (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
             c_id
  ) <= 1
),
reps AS (
  SELECT vec_id AS rep_id, ev AS rv, c_id FROM assign
  QUALIFY row_number() OVER (PARTITION BY c_id ORDER BY vec_id) <= {SEMDEDUP_MAX_REPS}
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN reps r ON r.c_id = a.c_id AND r.rep_id < a.vec_id
  WHERE round(list_dot_product(a.ev, r.rv) /
              (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(r.rv, r.rv))), 6)
        >= {SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.c_id AS cluster_id, (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


# --------------------------------------------------------------------------
# x55 residual-coded IVF+PQ (true IVFADC — Jégou et al. 2011 §V) exhaustive
# degeneracy: codebooks trained on coarse_residuals, codes over a - c(a),
# per-(query, probed-cell) ADC tables — with every cell probed and an uncut
# shortlist the whole residual machinery must be invisible under x05's
# brute-force oracle (the x52 pattern). Approximation quality vs the
# centered-ADC point is measured separately: SCALE_r09 ann.sweep_bow_400k.
# --------------------------------------------------------------------------

def x55_ivfpq_residual_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        coarse_residuals,
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_train,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    cents = kmeans_train(embs, centroid_filter=F.col("vec_id") % 50 == 1, n_iters=2)
    books = pq_train(
        coarse_residuals(embs, cents), vec_col="resid", m=8, k=16, n_iters=2, dim=DIM
    )
    idx = ivfpq_index(embs, cents, books, residual=True)
    exhaustive = 10**9  # > any cell/corpus count: probe all, cut nothing
    return ivfpq_topk(
        idx, queries, cents, books, embs,
        n_probe=exhaustive, k=5, shortlist=exhaustive, residual=True,
    )


# --------------------------------------------------------------------------
# x58 k-means|| seeding degeneracy: coarse cells from kmeans_parallel_init
# (Bahmani et al., VLDB 2012 — distance-weighted oversampling, driver-side
# greedy weighted k-means++ finisher) + Lloyd refinement, probing every
# cell. Under x05's brute-force oracle the SEEDING must be invisible —
# cell quality can only move vectors between cells, never touch the
# returned metric (the x52/x53/x55 degeneracy pattern, here gating the
# whole kmeans_train(init=...) path end-to-end).
# --------------------------------------------------------------------------

def x58_ivf_kmpp_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        ivf_ann_topk,
        kmeans_parallel_init,
        kmeans_train,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    seeds = kmeans_parallel_init(embs, k=16, rounds=2)
    cents = kmeans_train(embs, init=seeds, n_iters=2)
    return ivf_ann_topk(
        embs, queries, n_probe=10**9, k=5, centroids=cents
    )


# --------------------------------------------------------------------------
# x56 in-row hashed-BoW embeddings: bow_embedding_expr (the pure-projection
# form a STREAM runs before its watermarked agg — no explode, no shuffle,
# no agg) must reproduce x49's batch featurizer under x49's own DuckDB
# oracle. Same result, different physical plan — the variant registry's
# charter; this promotes the stream gate's embedding stage from
# pytest-equality to oracle-gated.
# --------------------------------------------------------------------------

def x56_hashed_embeddings_inrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import bow_embedding_expr

    emb = _docs(spark, sf_dir).select(
        "doc_id",
        bow_embedding_expr(F.split(F.col("text"), " "), dim=_X49_DIM).alias(
            "embedding"
        ),
    )
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("idx", "val"))
        .filter(F.col("val") != 0.0)
        .select("doc_id", F.col("idx").cast("bigint").alias("idx"), "val")
    )


# --------------------------------------------------------------------------
# x57 in-row IVF probe selection: probe_cells_expr (the pure-projection
# nearest-cells rank rule the stream gate uses — no window, no shuffle)
# must reproduce the 6dp-rounded cosine-desc/ties-to-lowest-c_id ordering
# against a DuckDB rank-window oracle over the same sampled centroid set.
# With x56 this puts BOTH stream-gate projection stages under oracles.
# --------------------------------------------------------------------------

def x57_probe_cells_inrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _collect_small_side, probe_cells_expr

    embs = _embs(spark, sf_dir)
    cent_rows = _collect_small_side(
        embs.filter(F.col("vec_id") % 50 == 1)
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
        .orderBy("c_id"),
        "centroid",
    )
    return embs.select(
        "vec_id",
        F.posexplode(probe_cells_expr(F.col("embedding"), cent_rows, 3)).alias(
            "prnk", "c_id"
        ),
    ).select("vec_id", F.col("prnk").cast("bigint").alias("prnk"), "c_id")


X57_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
c AS (
  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
  WHERE vec_id % 50 = 1
),
r AS (
  SELECT v.vec_id, c.c_id,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY round(list_dot_product(v.ev, c.cv) /
                          (greatest(sqrt(list_dot_product(v.ev, v.ev)), 1e-12)
                           * greatest(sqrt(list_dot_product(c.cv, c.cv)), 1e-12)), 6) DESC,
                    c.c_id
         ) AS rnk
  FROM v CROSS JOIN c
)
SELECT vec_id, rnk - 1 AS prnk, c_id FROM r WHERE rnk <= 3
"""


VARIANT_QUERIES = {
    "x18_bandor_ann": x18_bandor_ann,
    "x27_interval_join": x27_interval_join,
    "x28_chunk_dedup": x28_chunk_dedup,
    "x29_repetition": x29_repetition,
    "x30_simhash_pairs": x30_simhash_pairs,
    "x31_leakage_safe_splits": x31_leakage_safe_splits,
    # x32/x35 promoted to the driver gate in r11 (see QUERIES above)
    "x33_canonical_docs": x33_canonical_docs,
    "x34_domain_mixture": x34_domain_mixture,
    "x36_ngram_lm": x36_ngram_lm,
    "x37_bm25_topk": x37_bm25_topk,
    "x38_cross_corpus_neardup": x38_cross_corpus_neardup,
    "x39_dsir_weights": x39_dsir_weights,
    "x40_bpe_pairs": x40_bpe_pairs,
    "x41_span_dedup": x41_span_dedup,
    "x42_domain_quality_gate": x42_domain_quality_gate,
    "x43_pack_sequences": x43_pack_sequences,
    "x44_gopher_rules": x44_gopher_rules,
    "x45_dedup_provenance": x45_dedup_provenance,
    "x46_token_kl": x46_token_kl,
    "x47_bm25_maxscore": x47_bm25_maxscore,
    "x48_multimodal_decode": x48_multimodal_decode,
    "x49_hashed_embeddings": x49_hashed_embeddings,
    "x50_text_semantic_dedup": x50_text_semantic_dedup,
    "x51_hashed_embeddings_regex": x51_hashed_embeddings_regex,
    "x52_ivfpq_exhaustive": x52_ivfpq_exhaustive,
    "x53_ivf_centered_exhaustive": x53_ivf_centered_exhaustive,
    "x54_semantic_dedup_centered": x54_semantic_dedup_centered,
    "x55_ivfpq_residual_exhaustive": x55_ivfpq_residual_exhaustive,
    "x56_hashed_embeddings_inrow": x56_hashed_embeddings_inrow,
    "x57_probe_cells_inrow": x57_probe_cells_inrow,
    "x58_ivf_kmpp_exhaustive": x58_ivf_kmpp_exhaustive,
}

VARIANT_ORACLES = {
    "x18_bandor_ann": X18_SQL,
    "x27_interval_join": X27_SQL,
    "x28_chunk_dedup": X28_SQL,
    "x29_repetition": X29_SQL,
    "x30_simhash_pairs": X30_SQL,
    "x31_leakage_safe_splits": X31_SQL,
    "x33_canonical_docs": X33_SQL,
    "x34_domain_mixture": X34_SQL,
    "x36_ngram_lm": X36_SQL,
    "x37_bm25_topk": X37_SQL,
    "x38_cross_corpus_neardup": X38_SQL,
    "x39_dsir_weights": X39_SQL,
    "x40_bpe_pairs": X40_SQL,
    "x41_span_dedup": X41_SQL,
    "x42_domain_quality_gate": X42_SQL,
    "x43_pack_sequences": X43_SQL,
    "x44_gopher_rules": X44_SQL,
    "x45_dedup_provenance": X45_SQL,
    "x46_token_kl": X46_SQL,
    "x47_bm25_maxscore": X37_SQL,
    "x48_multimodal_decode": X48_SQL,
    "x49_hashed_embeddings": X49_SQL,
    "x50_text_semantic_dedup": X50_SQL,
    "x51_hashed_embeddings_regex": X51_SQL,
    "x52_ivfpq_exhaustive": X05_SQL,
    "x53_ivf_centered_exhaustive": X05_SQL,
    "x54_semantic_dedup_centered": X54_SQL,
    "x55_ivfpq_residual_exhaustive": X05_SQL,
    "x56_hashed_embeddings_inrow": X49_SQL,
    "x57_probe_cells_inrow": X57_SQL,
    "x58_ivf_kmpp_exhaustive": X05_SQL,
}
