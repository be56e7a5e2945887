"""Catalog part 2: as-of join, forecasting, sliding windows, dedup /
ANN / text-analysis extensions (SURVEY.md §2). Same contract as
catalog.py: every entry is a (spark_builder, oracle_sql) pair unless
flagged rows-only.

Repetitive SQL (minhash permutations, simhash bit votes) is generated
programmatically from the same constants the Spark side uses, so both
engines execute the same formula by construction.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import sql_hash60
from ..operators import ann as ANN
from ..operators import asof as ASOF
from ..operators import dedup as DD
from ..operators import forecast as FC
from ..operators import textstats as TS
from ..operators import windows as W
from ..sources.tables import load_table
from .catalog import SQL_BASE, candles, ticks

RND = 6

# DuckDB token fragments (twins of functions.text.tokens / token_set)
SQL_TOKS_ALL = ("list_filter("
                "regexp_split_to_array(lower(text), '[^a-z]+'), "
                "x -> len(x) > 0)")
SQL_TOKS = f"list_distinct({SQL_TOKS_ALL})"


# ----------------------------------------------------------------- asof join

def q_asof_join(spark, sf_dir):
    """Every tick joined to the most recent candle at-or-before it."""
    t = ticks(spark, sf_dir).select("product_id", "time", "price", "event_id")
    c = candles(spark, sf_dir)
    out = ASOF.asof_join(t, c, key="product_id", left_ts="time",
                         right_ts="bucket_start",
                         right_vals=["bucket_start", "close"])
    return out.select("product_id", "time", "price", "event_id",
                      F.col("bucket_start_asof"),
                      (F.round("close_asof", RND) + F.lit(0.0))
                      .alias("close_asof"))


SQL_ASOF_JOIN = SQL_BASE + """
SELECT t.product_id, t.time, t.price, t.event_id,
       c.bucket_start AS bucket_start_asof,
       ROUND(c.close, 6) + 0 AS close_asof
FROM ticks t ASOF LEFT JOIN candles c
  ON t.product_id = c.product_id AND t.time >= c.bucket_start
"""


# ---------------------------------------------------------------- forecasting

def q_naive_forecast(spark, sf_dir):
    out = FC.naive_forecast(candles(spark, sf_dir))
    return out.withColumn("predicted_price",
                          F.round("predicted_price", RND) + F.lit(0.0))


SQL_NAIVE_FORECAST = SQL_BASE + """
SELECT product_id,
       'naive_persistence_v1' AS model_name,
       bucket_start AS prediction_time,
       bucket_start + h * INTERVAL 5 MINUTE AS target_time,
       CAST(h AS INT) AS horizon,
       ROUND(close, 6) + 0 AS predicted_price
FROM candles, (SELECT unnest(generate_series(1, 12)) AS h)
"""


def q_forecast_metrics(spark, sf_dir):
    return FC.forecast_metrics(candles(spark, sf_dir))


SQL_FORECAST_METRICS = SQL_BASE + """
, d AS (
  SELECT product_id,
         close AS y,
         lag(close, 1) OVER w1 AS yhat,
         close - lag(close, 1) OVER w1 AS dy,
         lag(close, 1) OVER w1 - lag(close, 2) OVER w1 AS dyhat
  FROM candles
  WINDOW w1 AS (PARTITION BY product_id ORDER BY bucket_start)
)
SELECT product_id,
       ROUND(avg(2.0 * abs(y - yhat) / (abs(y) + abs(yhat))) * 100.0, 6) + 0
         AS smape,
       ROUND(avg(abs(y - yhat)), 6) + 0 AS mae,
       ROUND(sqrt(avg((y - yhat) * (y - yhat))), 6) + 0 AS rmse,
       ROUND(avg(CASE WHEN dyhat IS NOT NULL THEN
         CAST(sign(dy) = sign(dyhat) AS DOUBLE) END), 6) + 0 AS dir_acc,
       count(*) AS sample_count
FROM d WHERE yhat IS NOT NULL
GROUP BY product_id
"""


def q_volatility_rmse(spark, sf_dir):
    return FC.volatility_rmse(candles(spark, sf_dir))


SQL_VOLATILITY_RMSE = SQL_BASE + """
, d AS (
  SELECT product_id, bucket_start,
         close - lag(close, 1) OVER w1 AS dy,
         lag(close, 1) OVER w1 - lag(close, 2) OVER w1 AS dyhat
  FROM candles
  WINDOW w1 AS (PARTITION BY product_id ORDER BY bucket_start)
), vol AS (
  SELECT product_id, bucket_start,
         CASE WHEN count(dy) OVER wn >= 10
              THEN sqrt(avg(dy * dy) OVER wn) END AS true_vol,
         CASE WHEN count(dyhat) OVER wn >= 10
              THEN sqrt(avg(dyhat * dyhat) OVER wn) END AS pred_vol
  FROM d
  WINDOW wn AS (PARTITION BY product_id ORDER BY bucket_start
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT product_id,
       ROUND(sqrt(avg((true_vol - pred_vol) * (true_vol - pred_vol))), 6)
         + 0 AS vol_rmse,
       count(*) AS sample_count
FROM vol
WHERE true_vol IS NOT NULL AND pred_vol IS NOT NULL
GROUP BY product_id
"""


# ------------------------------------------------------------ sliding windows

def q_sliding_windows(spark, sf_dir):
    return W.sliding_windows(candles(spark, sf_dir))


SQL_SLIDING_WINDOWS = SQL_BASE + """
, p AS (
  SELECT product_id, bucket_start,
         CAST(round(close * 1000000) AS BIGINT) AS p6
  FROM candles
), framed AS (
  -- count(p6), not count(*): Spark's collect_list drops NULLs, so a
  -- full window means seq_len NON-NULL prices on both engines
  SELECT product_id, bucket_start,
         list(p6) OVER wx AS x_arr, count(p6) OVER wx AS nx,
         list(p6) OVER wy AS y_arr, count(p6) OVER wy AS ny
  FROM p
  WINDOW wx AS (PARTITION BY product_id ORDER BY bucket_start
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
         wy AS (PARTITION BY product_id ORDER BY bucket_start
                ROWS BETWEEN 1 FOLLOWING AND 6 FOLLOWING)
)
SELECT product_id, bucket_start,
       array_to_string(x_arr, ',') AS x_sig,
       array_to_string(y_arr, ',') AS y_sig
FROM framed WHERE nx = 24 AND ny = 6
"""


# ----------------------------------------------------------------- dedup

def q_dedup_exact_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DD.exact_dedup(docs)


SQL_DEDUP_EXACT = """
WITH h AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           AS text_hash
  FROM documents
), g AS (
  SELECT text_hash, min(doc_id) AS keep_id, count(*) AS group_size
  FROM h GROUP BY text_hash
)
SELECT h.doc_id, h.text_hash, g.keep_id, g.group_size,
       h.doc_id = g.keep_id AS is_keeper
FROM h JOIN g USING (text_hash)
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs)


def _sql_minhash(num_hashes: int = 16, bands: int = 4,
                 threshold: float = 0.9) -> str:
    rpb = num_hashes // bands
    mins = ",\n         ".join(
        f"list_min(list_transform(toks, t -> {sql_hash60('t', f's{i}')}))"
        f" AS m{i}" for i in range(num_hashes))
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, toks, {b} AS band, concat_ws('_', "
        + ", ".join(f"CAST(m{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + ") AS bsig FROM sig" for b in range(bands))
    return f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), sig AS (
  SELECT doc_id, toks,
         {mins}
  FROM base
), banded AS (
{band_rows}
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.toks AS atoks, r.toks AS btoks
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bsig = r.bsig AND l.doc_id < r.doc_id
), scored AS (
  SELECT doc_a, doc_b,
         ROUND(CASE WHEN len(list_distinct(atoks || btoks)) > 0 THEN
           CAST(len(list_intersect(atoks, btoks)) AS DOUBLE)
             / len(list_distinct(atoks || btoks))
           ELSE 0.0 END, 6) + 0 AS jaccard
  FROM cand
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {threshold}
"""


def q_dedup_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash(docs)


def _sql_simhash(bits: int = 32) -> str:
    votes = []
    for j in range(bits):
        votes.append(
            f"CASE WHEN COALESCE(list_sum(list_transform(hs, "
            f"h -> CASE WHEN (h & (1::BIGINT << {j})) != 0 "
            f"THEN 1 ELSE -1 END)), 0) > 0 "
            f"THEN (1::BIGINT << {j}) ELSE 0 END")
    total = "\n       + ".join(votes)
    return f"""
WITH base AS (
  SELECT doc_id,
         list_transform({SQL_TOKS}, t -> {sql_hash60('t')}) AS hs
  FROM documents
)
SELECT doc_id,
       CAST({total} AS BIGINT) AS simhash
FROM base
"""


def q_dedup_simhash_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_pairs(docs)


def _sql_simhash_pairs(bits: int = 32, bands: int = 4,
                       max_hamming: int = 3) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    sim = _sql_simhash(bits)
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * width}) & {mask} AS bsig FROM sim"
        for b in range(bands))
    return f"""
WITH sim AS ({sim}
), banded AS (
{band_rows}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ah, b.simhash AS bh
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ah, bh)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ah, bh)) <= {max_hamming}
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs)


SQL_DEDUP_NGRAM = f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base
), scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CASE WHEN len(list_distinct(a.toks || b.toks)) > 0 THEN
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(a.toks || b.toks))
           ELSE 0.0 END, 6) + 0 AS jaccard
  FROM sized a JOIN sized b
    ON a.doc_id < b.doc_id
   AND a.n * 0.9 <= b.n AND b.n * 0.9 <= a.n
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.9
"""


CONT_N, CONT_T = 3, 0.8


def q_dedup_containment(spark, sf_dir):
    """Directed containment pairs (|A∩B|/|A| over word 3-gram sets):
    the asymmetric-duplicate detector Jaccard misses. Candidates via
    a LOSSLESS rarest-gram prefix filter (PPJoin family), so the
    all-pairs SQL is the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.containment_pairs(docs, n=CONT_N, threshold=CONT_T)


_SQL_CGRAM = (f"list_distinct(list_transform("
              f"generate_series(1, greatest(len(toks) - {CONT_N - 1}, 0)),"
              f" i -> array_to_string(toks[i:i+{CONT_N - 1}], ' ')))")

SQL_DEDUP_CONTAINMENT = f"""
WITH toked AS (
  SELECT doc_id, {SQL_TOKS_ALL} AS toks FROM documents
), base AS (
  SELECT doc_id, {_SQL_CGRAM} AS g FROM toked
), sized AS (
  SELECT doc_id, g, len(g) AS sz FROM base WHERE len(g) > 0
), scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / a.sz, 6)
           + 0 AS containment
  FROM sized a JOIN sized b ON a.doc_id != b.doc_id
)
SELECT doc_a, doc_b, containment
FROM scored WHERE containment >= {CONT_T}
"""


def q_dedup_embedding(spark, sf_dir):
    """LSH-bucketed embedding near-dup stats: candidates share a
    random-hyperplane sketch bucket in any band; exact cosine within
    candidates. The hyperplanes are deterministic constants, so the
    whole bucketed pipeline is oracle-checked with the same inlined
    plane vectors; recall vs the exact all-pairs baseline is
    pytest-gated (tests/test_operators.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return DD.embedding_neighbor_stats_lsh(emb)


def _sql_dedup_embedding(dim: int = 64, planes: int = 4, bands: int = 8,
                         threshold: float = 0.45) -> str:
    from ..operators.ann import hyperplane_values

    def bucket_expr(b: int) -> str:
        terms = []
        for p in range(planes):
            vals = hyperplane_values(dim, b * planes + p)
            arr = "[" + ", ".join(repr(v) for v in vals) + "]"
            terms.append(f"CASE WHEN list_inner_product(vec, {arr}) >= 0 "
                         f"THEN {1 << p} ELSE 0 END")
        return " + ".join(terms)

    banded_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band,\n"
        f"         ({bucket_expr(b)}) AS bucket FROM n"
        for b in range(bands))
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), n AS (
  SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS nrm FROM v
), banded AS (
{banded_rows}
), cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id != b.vec_id
), pairs AS (
  SELECT c.a_id AS vec_id,
         list_inner_product(x.vec, y.vec) / (x.nrm * y.nrm) AS cos
  FROM cand c JOIN n x ON x.vec_id = c.a_id
              JOIN n y ON y.vec_id = c.b_id
)
SELECT vec_id,
       count(CASE WHEN cos >= {threshold} THEN 1 END) AS near_dup_count,
       ROUND(max(cos), 6) + 0 AS max_cosine
FROM pairs GROUP BY vec_id
"""


SQL_DEDUP_EMBEDDING = _sql_dedup_embedding()


def q_dedup_components(spark, sf_dir):
    """Canonical dedup groups: connected components over the MinHash
    near-dup pairs (min-label propagation + pointer jumping, 8 rounds
    → covers diameter ~2^8)."""
    docs = load_table(spark, sf_dir, "documents")
    # link_capped: above-cap family members still join their
    # component via hub star links (no-op at oracle scale)
    pairs = DD.minhash_lsh_pairs(docs, link_capped=True)
    return DD.connected_components(pairs)


def _sql_components(iterations: int = 8) -> str:
    pair_sql = _sql_minhash().strip()
    # AS MATERIALIZED is load-bearing: each round references the
    # previous one several times, so un-materialized CTE inlining would
    # expand the whole minhash pipeline exponentially. Each round is
    # the exact twin of the Spark operator: 1-hop neighbour min, then
    # pointer jump (label := label's label).
    rounds = []
    prev = "l0"
    for i in range(1, iterations + 1):
        rounds.append(f"""
, h{i} AS MATERIALIZED (
  SELECT v.id, least(v.label, coalesce(min(u.label), v.label)) AS label
  FROM {prev} v
  LEFT JOIN edges e ON e.src = v.id
  LEFT JOIN {prev} u ON u.id = e.dst
  GROUP BY v.id, v.label
), l{i} AS MATERIALIZED (
  SELECT v.id, least(v.label, coalesce(p.label, v.label)) AS label
  FROM h{i} v LEFT JOIN h{i} p ON p.id = v.label
)""")
        prev = f"l{i}"
    return f"""
WITH pairs AS MATERIALIZED ({pair_sql}
), edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), l0 AS MATERIALIZED (
  SELECT DISTINCT src AS id, src AS label FROM edges
){''.join(rounds)}
SELECT id AS doc_id, label AS component_id FROM {prev}
"""


# -------------------------------------------------------------------- ANN

def q_embedding_centroids(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return ANN.embedding_centroids(emb)


SQL_EMBEDDING_CENTROIDS = """
WITH v AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
)
SELECT label, CAST(t.i - 1 AS INT) AS pos,
       ROUND(avg(emb[t.i]), 6) + 0 AS mean_val,
       count(*) AS n_vectors
FROM v, unnest(generate_series(1, len(emb))) AS t(i)
GROUP BY 1, 2
"""


def q_ann_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ANN.brute_force_topk(emb, queries)


SQL_ANN_BRUTEFORCE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), n AS (
  SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS nrm FROM v
), q AS (
  SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, n.vec_id AS nn_id,
         ROUND(list_inner_product(q.qv, n.vec) / (q.qn * n.nrm), 6) + 0
           AS cosine
  FROM n JOIN q ON q.query_id != n.vec_id
), ranked AS (
  SELECT query_id, nn_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, nn_id) AS INT)
           AS rank
  FROM scored
)
SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def q_ann_lsh(spark, sf_dir):
    """Banded random-hyperplane ANN. The hyperplanes are deterministic
    constants, so the full pipeline — bucket sketches, band join,
    candidate dedup, cosine re-rank — is oracle-checked in SQL with the
    same inlined plane vectors; recall vs brute force is additionally
    pytest-gated."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ANN.lsh_topk(emb, queries)


def _sql_ann_lsh(dim: int = 64, planes: int = 8, bands: int = 4,
                 k: int = 5) -> str:
    from ..operators.ann import hyperplane_values

    def bucket_expr(b: int) -> str:
        terms = []
        for p in range(planes):
            vals = hyperplane_values(dim, b * planes + p)
            arr = "[" + ", ".join(repr(v) for v in vals) + "]"
            terms.append(f"CASE WHEN list_inner_product(vec, {arr}) >= 0 "
                         f"THEN {1 << p} ELSE 0 END")
        return " + ".join(terms)

    banded_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, vec, nrm, {b} AS band,\n"
        f"         ({bucket_expr(b)}) AS bucket FROM n"
        for b in range(bands))
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), n AS (
  SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS nrm FROM v
), banded AS (
{banded_rows}
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nn_id,
         q.vec AS qv, q.nrm AS qn, c.vec AS cv, c.nrm AS cn
  FROM banded c JOIN (SELECT * FROM banded WHERE vec_id < 10) q
    ON c.band = q.band AND c.bucket = q.bucket AND q.vec_id != c.vec_id
), scored AS (
  SELECT query_id, nn_id,
         ROUND(list_inner_product(qv, cv) / (qn * cn), 6) + 0 AS cosine
  FROM cand
), ranked AS (
  SELECT query_id, nn_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, nn_id) AS INT)
           AS rank
  FROM scored
)
SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def q_knn_graph(spark, sf_dir):
    """Approximate k-NN graph over the whole embedding corpus (both
    join sides are the corpus — banded LSH self-join, first-matching-
    band exactly-once emission, shared re-rank). Deterministic
    hyperplanes → full SQL oracle; edge recall vs the exact graph is
    pytest-gated."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ANN.knn_graph(emb)


def _sql_knn_graph(dim: int = 64, planes: int = 4, bands: int = 8,
                   k: int = 5) -> str:
    from ..operators.ann import hyperplane_values

    def bucket_expr(b: int) -> str:
        terms = []
        for p in range(planes):
            vals = hyperplane_values(dim, b * planes + p)
            arr = "[" + ", ".join(repr(v) for v in vals) + "]"
            terms.append(f"CASE WHEN list_inner_product(vec, {arr}) >= 0 "
                         f"THEN {1 << p} ELSE 0 END")
        return " + ".join(terms)

    banded_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band,\n"
        f"         ({bucket_expr(b)}) AS bucket FROM n"
        for b in range(bands))
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), n AS (
  SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS nrm FROM v
), banded AS (
{banded_rows}
), cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id != b.vec_id
), scored AS (
  SELECT c.a_id AS vec_id, c.b_id AS nn_id,
         ROUND(list_inner_product(x.vec, y.vec) / (x.nrm * y.nrm), 6)
           + 0 AS cosine
  FROM cand c JOIN n x ON x.vec_id = c.a_id
              JOIN n y ON y.vec_id = c.b_id
), ranked AS (
  SELECT vec_id, nn_id, cosine,
         CAST(row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, nn_id) AS INT)
           AS rank
  FROM scored
)
SELECT vec_id, nn_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------------------------- text

def q_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN: deterministic Lloyd coarse quantizer + nprobe
    probing + EXACT squared-L2 re-rank over full vectors — hash-checked
    end to end (the same 6dp-rounded recipe as ann_ivfpq, with exact
    distances in place of ADC). The label-partitioned ivf_topk recall
    path stays pytest-gated in tests/."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ANN.ivf_exact_topk(emb, queries, coarse_k=KM_K,
                              coarse_iterations=KM_ITERS,
                              nprobe=IVFPQ_NPROBE, k=ANN_PQ_TOPK)


def q_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = TS.lang_id(docs)
    casts = [F.col(c).cast("long").alias(c)
             for c in out.columns if c.startswith("hits_")]
    return out.select("doc_id", "pred_lang", *casts)


def _sql_lang_id() -> str:
    hits = {
        lang: ("len(list_filter(toks, t -> t IN ("
               + ", ".join(f"'{w}'" for w in words) + ")))")
        for lang, words in TS.LANG_STOPWORDS.items()
    }
    return f"""
WITH base AS (
  SELECT doc_id, text, {SQL_TOKS_ALL} AS toks FROM documents
), scored AS (
  SELECT doc_id, text,
         {hits['en']} AS hits_en, {hits['es']} AS hits_es,
         {hits['fr']} AS hits_fr, {hits['de']} AS hits_de
  FROM base
)
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
            WHEN hits_de > greatest(hits_en, hits_es, hits_fr)
              THEN 'de'
            WHEN hits_fr > greatest(hits_en, hits_es) THEN 'fr'
            WHEN hits_es > hits_en THEN 'es'
            ELSE 'en' END AS pred_lang,
       hits_en, hits_es, hits_fr, hits_de
FROM scored
"""


def q_quality_score(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = TS.quality_score(docs)
    return out.select("doc_id",
                      F.col("n_chars").cast("long").alias("n_chars"),
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      "mean_token_len", "punct_ratio", "stopword_ratio",
                      "quality")


SQL_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> len(x) > 0) AS toks
  FROM documents
), m AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0)
                AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_token_len,
         CASE WHEN n_chars > 0 THEN
           CAST(len(regexp_split_to_array(text, '[.,;:!?]')) - 1 AS DOUBLE)
             / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, x -> x IN
             ({", ".join(f"'{w}'" for w in TS.LANG_STOPWORDS['en'])})))
                AS DOUBLE) / len(toks) ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(mean_token_len, 6) + 0 AS mean_token_len,
       ROUND(punct_ratio, 6) + 0 AS punct_ratio,
       ROUND(stopword_ratio, 6) + 0 AS stopword_ratio,
       ROUND(0.4 * CAST(n_chars BETWEEN 50 AND 10000 AS DOUBLE)
           + 0.3 * CAST(mean_token_len BETWEEN 2.0 AND 12.0 AS DOUBLE)
           + 0.3 * least(stopword_ratio * 5.0, 1.0), 6) + 0 AS quality
FROM m
"""


SRC_CAP_K = 150


def q_source_cap(spark, sf_dir):
    """Domain balancing: each source keeps its SRC_CAP_K
    highest-quality docs (quality desc, doc_id tiebreak — both
    engine-identical). The cap BITES at sf0.01+ (sources carry more
    than K docs) and passes everything through at sf0.001, so parity
    exercises both regimes. Beyond-reference LLM-pipeline family
    (the per-source cap every web-corpus mixture applies); rate and
    uniform complements: mixture_resample, fixed_k_sample."""
    docs = load_table(spark, sf_dir, "documents")
    return TS.source_cap(docs, SRC_CAP_K)


SQL_SOURCE_CAP = f"""
WITH q AS ({SQL_QUALITY}),
ranked AS (
  SELECT d.source, q.doc_id, q.quality,
         CAST(row_number() OVER (PARTITION BY d.source
                                 ORDER BY q.quality DESC, q.doc_id)
              AS INT) AS src_rank
  FROM q JOIN documents d USING (doc_id)
)
SELECT source, doc_id, quality, src_rank
FROM ranked WHERE src_rank <= {SRC_CAP_K}
"""


def q_token_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = TS.token_count(docs)
    return out.select("doc_id",
                      F.col("ws_tokens").cast("long").alias("ws_tokens"),
                      F.col("bpe_tokens").cast("long").alias("bpe_tokens"))


SQL_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> len(x) > 0)) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = TS.doc_fingerprint(docs)
    return out.select("doc_id", "fingerprint",
                      F.col("n_chars").cast("long").alias("n_chars"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       list_min(list_transform(
         generate_series(1, greatest(length(text) - 7, 1), 4),
         i -> md5(substr(text, CAST(i AS INT), 8)))) AS fingerprint,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def q_repetition_score(spark, sf_dir):
    """Token-repetition curation metrics (boilerplate detector):
    duplicate-token ratio and top-token share per document."""
    docs = load_table(spark, sf_dir, "documents")
    return TS.repetition_score(docs)


SQL_REPETITION = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKS_ALL}) AS tok FROM documents
), cnt AS (
  SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       ROUND(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) + 0
         AS dup_ratio,
       ROUND(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) + 0
         AS top_token_share
FROM cnt GROUP BY doc_id
"""


def q_dedup_keep(spark, sf_dir):
    """End-to-end dedup decision table: every document mapped to its
    near-dup component keeper (min doc id) with an is_keeper flag —
    the table a curation pipeline joins against to drop duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    # link_capped: a >cap duplicate family must still map every
    # member to the family keeper (no-op at oracle scale)
    pairs = DD.minhash_lsh_pairs(docs, link_capped=True)
    return DD.dedup_keep_decision(docs, pairs)


def _sql_dedup_keep() -> str:
    comp = _sql_components().strip()
    return f"""
SELECT d.doc_id,
       coalesce(c.component_id, d.doc_id) AS keep_id,
       coalesce(c.component_id, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN ({comp}) c ON c.doc_id = d.doc_id
"""


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware keeper: every document mapped to the
    HIGHEST-quality member of its near-dup component (ties on the
    smaller doc id) — the keeper a curation pipeline actually wants.
    The quality input is the already-oracled 6dp quality_score view,
    so both engines argmax over identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, link_capped=True)
    qual = (TS.quality_score(docs)
            .select("doc_id",
                    (F.round("quality", RND) + F.lit(0.0))
                    .alias("quality")))
    return DD.dedup_keep_best_decision(docs, pairs, qual)


def _sql_dedup_keep_best() -> str:
    comp = _sql_components().strip()
    return f"""
WITH comp AS MATERIALIZED ({comp}
), qual AS ({SQL_QUALITY.strip()}
), lab AS (
  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS grp,
         q.quality
  FROM documents d
  LEFT JOIN comp c ON c.doc_id = d.doc_id
  JOIN qual q ON q.doc_id = d.doc_id
), best AS (
  SELECT grp,
         max(struct_pack(s := quality, nid := -doc_id)) AS m
  FROM lab GROUP BY grp
)
SELECT lab.doc_id,
       -best.m.nid AS keep_id,
       best.m.s AS keep_score,
       lab.doc_id = -best.m.nid AS is_keeper
FROM lab JOIN best USING (grp)
"""


def q_corpus_curation(spark, sf_dir):
    """The composed end-to-end curation pipeline a pretraining-data
    run actually executes: language filter + quality filter + near-dup
    keeper selection in ONE plan. Each stage is an already-oracled
    operator (lang_id, quality_score, dedup_keep); the joins are all
    on doc_id, so at scale the stages co-partition on the corpus key
    and the only heavy shuffle is the MinHash pair generation inside
    dedup_keep."""
    docs = load_table(spark, sf_dir, "documents")
    lang = TS.lang_id(docs).select("doc_id", "pred_lang")
    qual = TS.quality_score(docs).select("doc_id", "quality")
    keep = DD.dedup_keep_decision(
        docs, DD.minhash_lsh_pairs(docs, link_capped=True))
    return (lang.join(qual, "doc_id").join(keep, "doc_id")
            .filter((F.col("pred_lang") == "en")
                    & (F.col("quality") >= 0.5)
                    & F.col("is_keeper"))
            .select("doc_id", "pred_lang",
                    (F.round("quality", 6) + F.lit(0.0)).alias("quality"),
                    "keep_id"))


def _sql_corpus_curation() -> str:
    return f"""
SELECT l.doc_id, l.pred_lang, ROUND(q.quality, 6) + 0 AS quality,
       k.keep_id
FROM ({_sql_lang_id()}) l
JOIN ({SQL_QUALITY}) q ON q.doc_id = l.doc_id
JOIN ({_sql_dedup_keep()}) k ON k.doc_id = l.doc_id
WHERE l.pred_lang = 'en' AND q.quality >= 0.5 AND k.is_keeper
"""


def q_model_score(spark, sf_dir):
    """Distributed model batch scoring: the stub linear AR head
    applied to every sliding window via mapInPandas, one row per
    forecast horizon (the prediction service's model loop —
    predictor.py predict() feeding data_writer.py — as a table
    operator). Oracle-paired since round 4: the stub accumulates as
    a strict left fold (operators/scoring.py), which the SQL twin
    replicates term-for-term with the same repr-inlined weight
    doubles; a driver-side NumPy reference test additionally gates
    the mapInPandas plumbing (tests/test_operators.py)."""
    from ..operators import scoring as SC

    win = W.sliding_windows(candles(spark, sf_dir))
    out = SC.score_windows(win)
    return out.select("product_id", "origin_time", "horizon",
                      (F.round("predicted_price", RND) + F.lit(0.0))
                      .alias("predicted_price"), "model_version")


def _sql_model_score(seq_len: int = 24, pred_len: int = 6,
                     decay: float = 0.9,
                     model_version: str = "stub-linear-1") -> str:
    """SQL twin of the stub scorer: per horizon, the left-associative
    chain `w0*x[1] + w1*x[2] + …` over the decoded window — the same
    op order and the same double constants as scoring.py's fold, so
    values hash-match (not merely approximate)."""
    from ..operators.scoring import PRICE_SCALE, stub_weights

    w = stub_weights(seq_len, pred_len, decay)
    parts = []
    for h in range(1, pred_len + 1):
        chain = " + ".join(f"{float(w[h - 1, i])!r} * x[{i + 1}]"
                           for i in range(seq_len))
        parts.append(
            f"SELECT product_id, origin_time, CAST({h} AS INT) AS horizon,\n"
            f"       ROUND({chain}, 6) + 0 AS predicted_price,\n"
            f"       '{model_version}' AS model_version\nFROM xs")
    selects = "\nUNION ALL\n".join(parts)
    return f"""
WITH xs AS (
  SELECT product_id, bucket_start AS origin_time,
         list_transform(string_split(x_sig, ','),
                        s -> CAST(s AS DOUBLE) / {PRICE_SCALE!r}) AS x
  FROM ({SQL_SLIDING_WINDOWS}) sw
)
{selects}
"""


# ----------------------------------------------------------------- registry


# ------------------------------------------------------------------ k-means

KM_K, KM_ITERS = 8, 2


def q_kmeans_assign(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return ANN.kmeans_assign(emb, k=KM_K, iterations=KM_ITERS)


def _sql_kmeans(k: int = KM_K, iterations: int = KM_ITERS) -> str:
    """CTE-for-CTE mirror of the Lloyd loop: same seed rule, same
    6 dp rounding of centroid coordinates and distances, same
    (distance, cluster) tie-break."""
    d_expr = ("round(list_sum(list_transform(generate_series(1, len(v)),"
              " i -> (v[i] - c[i]) * (v[i] - c[i]))), 6) + 0")
    parts = [f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT vec_id AS cluster,
         list_transform(v, x -> round(x, 6) + 0) AS c
  FROM v ORDER BY vec_id LIMIT {k}
)"""]
    prev = "c0"
    for it in range(1, iterations + 1):
        parts.append(f"""
, a{it} AS (
  SELECT vec_id, v, cluster, d FROM (
    SELECT vec_id, v, cluster, {d_expr} AS d,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY {d_expr}, cluster) AS rn
    FROM v CROSS JOIN {prev}
  ) WHERE rn = 1
), cl{it} AS (
  SELECT cluster, t.i - 1 AS pos, round(avg(v[t.i]), 6) + 0 AS val
  FROM a{it}, unnest(generate_series(1, len(v))) AS t(i)
  GROUP BY 1, 2
), c{it} AS (
  SELECT cluster, list(val ORDER BY pos) AS c FROM cl{it} GROUP BY cluster
)""")
        prev = f"c{it}"
    parts.append(f"""
SELECT vec_id, cluster, d AS sq_dist FROM a{iterations}
""")
    return "".join(parts)


SQL_KMEANS_ASSIGN = _sql_kmeans()

CLUSTER_Q_SHARDS, CLUSTER_Q_LOW = 256, 0.5


def q_cluster_quality_profile(spark, sf_dir):
    """Cross-modal curation composition: the k-means clusters of the
    embedding space profiled by the TEXT quality of their member
    documents (doc_id == vec_id in the testdata) — the
    SemDeDup-style prune-low-quality-clusters decision table. Mean
    quality per cluster reduces through the classifier's two-level
    deterministic sum tree (doc-ordered 6dp partials inside
    doc_id%shards, shard-ordered combine), and the final mean stays
    an unrounded ratio of that gridded sum — bit-identical across
    engines."""
    from ..operators.textstats import _ordered_fold, quality_score

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    asg = (ANN.kmeans_assign(emb, k=KM_K, iterations=KM_ITERS)
           .select(F.col("vec_id").alias("doc_id"), "cluster"))
    q = quality_score(docs).select("doc_id", "quality")
    j = asg.join(q, "doc_id")
    partial = (j.select("cluster",
                        (F.col("doc_id") % CLUSTER_Q_SHARDS)
                        .alias("shard"), "doc_id", "quality")
               .groupBy("cluster", "shard")
               .agg((F.round(_ordered_fold("doc_id", "quality"), 6)
                     + F.lit(0.0)).alias("part"),
                    F.count(F.lit(1)).alias("n")))
    prof = (partial.groupBy("cluster")
            .agg(_ordered_fold("shard", "part").alias("s"),
                 F.sum("n").alias("n_docs")))
    mean_q = F.col("s") / F.col("n_docs")
    return prof.select("cluster", "n_docs",
                       mean_q.alias("mean_quality"),
                       (mean_q < CLUSTER_Q_LOW).alias("low_quality"))


SQL_CLUSTER_QUALITY = f"""
WITH j AS (
  SELECT a.vec_id AS doc_id, a.cluster, q.quality
  FROM ({SQL_KMEANS_ASSIGN.strip()}) a
  JOIN ({SQL_QUALITY.strip()}) q ON q.doc_id = a.vec_id
), part AS (
  SELECT cluster, doc_id % {CLUSTER_Q_SHARDS} AS shard,
         round(list_sum(list(quality ORDER BY doc_id)), 6) + 0 AS part,
         CAST(count(*) AS BIGINT) AS n
  FROM j GROUP BY 1, 2
)
SELECT cluster, CAST(sum(n) AS BIGINT) AS n_docs,
       list_sum(list(part ORDER BY shard)) / sum(n) AS mean_quality,
       list_sum(list(part ORDER BY shard)) / sum(n) < {CLUSTER_Q_LOW}
         AS low_quality
FROM part GROUP BY cluster
"""

SEMDEDUP_THRESHOLD = 0.4


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: k-means-partitioned exact-cosine near-dup pairs over
    the embedding table (cluster-bounded pair space — the published
    web-scale semantic dedup recipe, reusing the hash-checked Lloyd
    quantizer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return DD.semantic_dedup_pairs(emb, k=KM_K, iterations=KM_ITERS,
                                   threshold=SEMDEDUP_THRESHOLD)


def _sql_semantic_dedup() -> str:
    dot = ("list_sum(list_transform(generate_series(1, len(a.v)),"
           " i -> a.v[i] * b.v[i]))")
    nrm = ("sqrt(list_sum(list_transform(generate_series(1, len(v)),"
           " i -> v[i] * v[i])))")
    return f"""
WITH asg AS (
  SELECT vec_id, cluster FROM ({_sql_kmeans().strip()}) t
), w AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, asg.cluster
  FROM embeddings e JOIN asg USING (vec_id)
), wn AS (
  SELECT vec_id, v, cluster, {nrm} AS nrm FROM w
)
SELECT a.cluster,
       a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({dot} / (a.nrm * b.nrm), 6) + 0 AS cosine
FROM wn a JOIN wn b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE round({dot} / (a.nrm * b.nrm), 6) + 0 >= {SEMDEDUP_THRESHOLD}
"""


# ------------------------------------------------------- incremental dedup

INC_SPLIT_FRAC = 0.9      # newest 10% of doc ids play the arriving batch


def q_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: the newest 10% of docs (by id) are
    the arriving batch, deduped AGAINST the other 90% (the historical
    corpus) via a cross-relation MinHash LSH join — the every-cycle
    operation of a production corpus pipeline, where self-joining the
    whole corpus each cycle would be quadratic in corpus growth.
    The split threshold is a broadcast scalar aggregate (no collect)."""
    docs = load_table(spark, sf_dir, "documents")
    thr = docs.agg(F.floor(F.max("doc_id") * INC_SPLIT_FRAC)
                   .cast("long").alias("split_id"))
    with_t = docs.crossJoin(F.broadcast(thr))
    batch = with_t.filter(F.col("doc_id") >= F.col("split_id")) \
                  .drop("split_id")
    history = with_t.filter(F.col("doc_id") < F.col("split_id")) \
                    .drop("split_id")
    return DD.incremental_dedup(batch, history)


def _sql_dedup_incremental(num_hashes: int = 16, bands: int = 4,
                           threshold: float = 0.9) -> str:
    rpb = num_hashes // bands
    mins = ",\n         ".join(
        f"list_min(list_transform(toks, t -> {sql_hash60('t', f's{i}')}))"
        f" AS m{i}" for i in range(num_hashes))
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, toks, {b} AS band, concat_ws('_', "
        + ", ".join(f"CAST(m{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + ") AS bsig FROM sig" for b in range(bands))
    return f"""
WITH split AS (
  SELECT CAST(floor(max(doc_id) * {INC_SPLIT_FRAC}) AS BIGINT) AS s
  FROM documents
), base AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), sig AS (
  SELECT doc_id, toks,
         {mins}
  FROM base WHERE len(toks) > 0
), banded AS (
{band_rows}
), hist AS (
  SELECT * FROM banded WHERE doc_id < (SELECT s FROM split)
), newb AS (
  SELECT * FROM banded WHERE doc_id >= (SELECT s FROM split)
), cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, h.doc_id AS hist_id,
         n.toks AS ntoks, h.toks AS htoks
  FROM newb n JOIN hist h ON n.band = h.band AND n.bsig = h.bsig
), scored AS (
  SELECT doc_id, hist_id,
         ROUND(CASE WHEN len(list_distinct(ntoks || htoks)) > 0 THEN
           CAST(len(list_intersect(ntoks, htoks)) AS DOUBLE)
             / len(list_distinct(ntoks || htoks))
           ELSE 0.0 END, 6) + 0 AS jaccard
  FROM cand
), matches AS (
  SELECT doc_id, min(hist_id) AS dup_of, count(*) AS n_matches,
         max(jaccard) AS max_jaccard
  FROM scored WHERE jaccard >= {threshold} GROUP BY doc_id
)
SELECT b.doc_id, m.dup_of,
       CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
       m.max_jaccard, (m.dup_of IS NULL) AS is_new
FROM (SELECT doc_id FROM documents
      WHERE doc_id >= (SELECT s FROM split)) b
LEFT JOIN matches m USING (doc_id)
"""


SQL_DEDUP_INCREMENTAL = _sql_dedup_incremental()


# ----------------------------------------------------------- graph pagerank

PR_ITERS, PR_DAMPING = 3, 0.85


def q_doc_pagerank(spark, sf_dir):
    """PageRank over the near-dup pair graph: duplication-hub
    centrality per doc (template/boilerplate hubs rank highest).
    Iterative float algorithm, still hash-checked — contributions are
    6dp-rounded and summed in neighbor order via sorted-struct folds."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.doc_pagerank(docs, iterations=PR_ITERS,
                           damping=PR_DAMPING)


def _sql_doc_pagerank(iterations: int = PR_ITERS,
                      damping: float = PR_DAMPING) -> str:
    parts = [f"""
WITH pr_pairs AS (
  SELECT doc_a, doc_b FROM ({_sql_minhash().strip()}) mp
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pr_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pr_pairs
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
), p0 AS (
  SELECT src AS node,
         round(1.0 / (SELECT n_nodes FROM nn), 6) + 0 AS pr
  FROM deg
)"""]
    prev = "p0"
    for it in range(1, iterations + 1):
        parts.append(f"""
, m{it} AS (
  SELECT e.dst,
         CAST(round(p.pr / d.deg * 1000000.0) AS BIGINT) AS c_us
  FROM edges e
  JOIN {prev} p ON p.node = e.src
  JOIN deg d ON d.src = e.src
), p{it} AS (
  SELECT dst AS node,
         round({1 - damping!r} / (SELECT n_nodes FROM nn)
               + {damping!r} * (CAST(sum(c_us) AS BIGINT)
                                / 1000000.0), 6) + 0
           AS pr
  FROM m{it} GROUP BY dst
)""")
        prev = f"p{it}"
    parts.append(f"""
SELECT p.node AS doc_id, p.pr AS pagerank, d.deg AS degree
FROM {prev} p JOIN deg d ON d.src = p.node
""")
    return "".join(parts)


SQL_DOC_PAGERANK = _sql_doc_pagerank()


# --------------------------------------------------------- tf-idf cosine

TFC_N, TFC_THRESHOLD, TFC_DF_FRAC = 3, 0.5, 0.2


def q_dedup_tfidf_cosine(spark, sf_dir):
    """Sparse idf-weighted 3-gram cosine near-dup pairs (the
    lexical-vector dedup method): inverted-index join over terms
    with df <= 0.2·N, binary tf, term-sorted float folds."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.tfidf_cosine_pairs(docs, n=TFC_N,
                                 threshold=TFC_THRESHOLD,
                                 df_frac=TFC_DF_FRAC)


def _sql_tfidf_cosine() -> str:
    gram = (f"list_distinct(list_transform("
            f"generate_series(1, greatest(len(toks) - {TFC_N - 1}, 0)),"
            f" i -> array_to_string(toks[i:i+{TFC_N - 1}], ' ')))")
    return f"""
WITH toked AS (
  SELECT doc_id, {SQL_TOKS_ALL} AS toks FROM documents
), term AS (
  SELECT doc_id, {sql_hash60('g', 'tfc')} AS term_h
  FROM (SELECT doc_id, unnest({gram}) AS g FROM toked)
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), dfc AS (
  SELECT term_h, CAST(count(*) AS BIGINT) AS df FROM term
  GROUP BY term_h
), w AS (
  SELECT t.doc_id, t.term_h, dfc.df,
         round(ln(1.0 + CAST(n.n_docs AS DOUBLE) / dfc.df), 6) + 0 AS w
  FROM term t JOIN dfc USING (term_h) CROSS JOIN n
  WHERE dfc.df <= n.n_docs * {TFC_DF_FRAC}
), norms AS (
  -- fixed-point BIGINT sums: order-independent, so no ordered fold
  SELECT doc_id,
         sqrt(CAST(sum(CAST(round(w * w * 1e8) AS BIGINT)) AS DOUBLE)
              / 1e8) AS nrm
  FROM w GROUP BY doc_id
), prods AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(round(a.w * b.w * 1e6) AS BIGINT) AS p
  FROM w a JOIN w b ON a.term_h = b.term_h AND a.doc_id < b.doc_id
), pairs AS (
  SELECT a_id, b_id, CAST(sum(p) AS DOUBLE) / 1e6 AS dot
  FROM prods GROUP BY a_id, b_id
)
SELECT p.a_id AS doc_a, p.b_id AS doc_b,
       round(p.dot / (na.nrm * nb.nrm), 6) + 0 AS cosine
FROM pairs p
JOIN norms na ON na.doc_id = p.a_id
JOIN norms nb ON nb.doc_id = p.b_id
WHERE round(p.dot / (na.nrm * nb.nrm), 6) + 0 >= {TFC_THRESHOLD}
"""


SQL_DEDUP_TFIDF_COSINE = _sql_tfidf_cosine()


# ------------------------------------------------------------ range search

RANGE_THRESHOLD = 0.2


def q_ann_range_search(spark, sf_dir):
    """Cosine radius search: all corpus neighbors with cosine >= 0.2
    of each of 10 query vectors (the within-radius API beside
    top-k); exact with a broadcast query side, LSH-bucketed at
    corpus-side scale (see operators/ann.range_search)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ANN.range_search(emb, queries, threshold=RANGE_THRESHOLD)


SQL_ANN_RANGE_SEARCH = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), n AS (
  SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS nrm FROM v
), q AS (
  SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n
  WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, n.vec_id AS nn_id,
         ROUND(list_inner_product(q.qv, n.vec) / (q.qn * n.nrm), 6)
           AS cosine
  FROM n JOIN q ON q.query_id != n.vec_id
)
SELECT query_id, nn_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nn_id) AS INT)
         AS rank
FROM scored WHERE cosine >= {RANGE_THRESHOLD}
"""


# --------------------------------------------------- embedding quantization

def q_embedding_quantize(spark, sf_dir):
    """SQ8 scalar quantization over the embedding corpus: per-dim
    min/max grid, one byte per dimension, per-vector reconstruction
    MSE + code-sequence fingerprint. One explode pass for stats, then
    row-local indexed-transform folds — codes AND mse value-hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.ann import embedding_quantize
    return embedding_quantize(emb)


SQL_EMBEDDING_QUANTIZE = f"""
WITH dims AS (
  SELECT t.i AS dim,
         min(CAST(embedding[t.i] AS DOUBLE)) AS lo,
         max(CAST(embedding[t.i] AS DOUBLE)) AS hi
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
  GROUP BY t.i
), statsrow AS (
  SELECT list(lo ORDER BY dim) AS los,
         list((hi - lo) / 255.0 ORDER BY dim) AS scales
  FROM dims
), q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         los, scales
  FROM embeddings CROSS JOIN statsrow
), coded AS (
  SELECT vec_id, v, los, scales,
         list_transform(v, (x, i) ->
           CASE WHEN scales[i] > 0
                THEN least(255, greatest(0,
                       CAST(round((x - los[i]) / scales[i]) AS INT)))
                ELSE 0 END) AS codes
  FROM q
), errs AS (
  SELECT vec_id, codes,
         list_transform(v, (x, i) ->
           x - (los[i] + codes[i] * scales[i])) AS e
  FROM coded
)
SELECT vec_id,
       CAST(len(codes) AS INT) AS n_dims,
       ROUND(list_sum(list_transform(e, x -> x * x)) / len(e), 6) + 0
         AS mse,
       {sql_hash60("array_to_string(codes, ',')")} AS codes_hash
FROM errs
"""


# ------------------------------------------------------- graph triangles

def q_graph_triangles(spark, sf_dir):
    """Triangle counts + local clustering coefficient per node of the
    near-dup pair graph (template-family density beside PageRank's
    hub centrality). Ordered-edge equi-join enumeration — each
    triangle found exactly once, integer aggregates throughout."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.graph_triangles(docs)


def q_graph_triangles_approx(spark, sf_dir):
    """DOULION sampled global triangle count: keep each near-dup edge
    by a deterministic hash coin at p=0.5, count triangles among kept
    edges, scale by 1/p³ (unbiased — Tsourakakis et al. 2009). The
    scale-path companion to graph_triangles' exact enumeration; the
    oracle flips the identical coins, so even the approximation is
    hash-checked exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.graph_triangles_doulion(docs, sample_p=DOULION_P)


DOULION_P = 0.5


def _sql_graph_triangles_approx(p: float = 0.5) -> str:
    thresh = int(p * (1 << 60))
    scale = 1.0 / p ** 3
    gate = sql_hash60("CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)",
                      "doulion")
    return f"""
WITH mp AS (
  SELECT doc_a, doc_b FROM ({_sql_minhash().strip()}) p
), e AS (
  SELECT doc_a AS a, doc_b AS b FROM mp
), ke AS (
  SELECT a, b FROM e WHERE {gate} < {thresh}
), tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM ke ab
  JOIN ke bc ON bc.a = ab.b
  JOIN ke ac ON ac.a = ab.a AND ac.b = bc.b
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM ke) AS n_edges_kept,
       (SELECT CAST(count(*) AS BIGINT) FROM tri) AS tri_sampled,
       CAST({p} AS DOUBLE) AS sample_p,
       ROUND((SELECT count(*) FROM tri) * CAST({scale} AS DOUBLE), 6)
         + 0 AS est_triangles
"""


SQL_GRAPH_TRIANGLES = f"""
WITH mp AS (
  SELECT doc_a, doc_b FROM ({_sql_minhash().strip()}) p
), e AS (
  SELECT doc_a AS a, doc_b AS b FROM mp
), tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM e ab
  JOIN e bc ON bc.a = ab.b
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
), pern AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY node
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node
)
SELECT deg.node AS doc_id, deg.degree,
       CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.degree > 1
            THEN 2.0 * coalesce(p.triangles, 0)
                 / (deg.degree * (deg.degree - 1))
            ELSE 0.0 END AS clustering_coeff
FROM deg LEFT JOIN pern p USING (node)
"""


# ------------------------------------------------------ product quantization

PQ_M, PQ_DIM, PQ_K, PQ_ITERS = 4, 64, 16, 2
PQ_SUB = PQ_DIM // PQ_M
ANN_PQ_TOPK = 5


def q_pq_encode(spark, sf_dir):
    """PQ codebook training + encoding (Jégou et al. 2011): every
    64-dim embedding compressed to 4 one-byte codes via per-subspace
    deterministic Lloyd — the memory layer of IVF-PQ ANN. Iterative
    ML kernel, yet hash-checked: same CTE-for-CTE mirroring as
    kmeans_assign, extended with the subspace axis."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes, _ = ANN.pq_train_encode(emb, m=PQ_M, dim=PQ_DIM, k=PQ_K,
                                   iterations=PQ_ITERS)
    return codes


def _sql_pq_prefix(iterations: int = PQ_ITERS) -> tuple[str, str, str]:
    """Shared CTE chain for the PQ family: returns (prefix_sql,
    final_assign_cte, final_codebook_cte). Mirrors the Spark Lloyd
    loop subspace-for-subspace: same seed rule (k smallest vec_ids'
    subvectors), same 6dp centroid/distance rounding, same
    (distance, cluster) tie-break."""
    sub, m, k = PQ_SUB, PQ_M, PQ_K
    d = ("round(list_sum(list_transform(generate_series(1, len(s.sv)),"
         " i -> (s.sv[i] - p.c[i]) * (s.sv[i] - p.c[i]))), 6) + 0")
    parts = [f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings
), sv AS (
  SELECT vec_id, t.s AS subspace,
         fv[t.s * {sub} + 1 : t.s * {sub} + {sub}] AS sv
  FROM v, unnest(generate_series(0, {m - 1})) AS t(s)
), c0 AS (
  SELECT subspace, vec_id AS cluster,
         list_transform(sv, x -> round(x, 6) + 0) AS c
  FROM sv
  WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT {k})
)"""]
    prev = "c0"
    for it in range(1, iterations + 1):
        parts.append(f"""
, a{it} AS (
  SELECT vec_id, subspace, sv, cluster, d FROM (
    SELECT s.vec_id, s.subspace, s.sv, p.cluster, {d} AS d,
           row_number() OVER (PARTITION BY s.vec_id, s.subspace
                              ORDER BY {d}, p.cluster) AS rn
    FROM sv s JOIN {prev} p USING (subspace)
  ) WHERE rn = 1
), cl{it} AS (
  SELECT subspace, cluster, t.i - 1 AS pos,
         round(avg(sv[t.i]), 6) + 0 AS val
  FROM a{it}, unnest(generate_series(1, len(sv))) AS t(i)
  GROUP BY 1, 2, 3
), c{it} AS (
  SELECT subspace, cluster, list(val ORDER BY pos) AS c
  FROM cl{it} GROUP BY subspace, cluster
)""")
        prev = f"c{it}"
    # the codebook the FINAL assignment used is the previous round's
    # centroids — exactly what ADC must reuse
    return "".join(parts), f"a{iterations}", f"c{iterations - 1}"


def _sql_pq_encode() -> str:
    prefix, final_a, _ = _sql_pq_prefix()
    return (prefix
            + f"\nSELECT vec_id, subspace, cluster AS code, d AS sq_dist"
              f"\nFROM {final_a}\n")


SQL_PQ_ENCODE = _sql_pq_encode()


def q_ann_pq(spark, sf_dir):
    """ADC top-k over PQ codes — the query-time half of IVF-PQ. The
    corpus is touched only through its 4-byte codes; per query the
    distance is a LUT join + ordered subspace sum."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ANN.pq_topk(emb, queries, m=PQ_M, dim=PQ_DIM, k_codes=PQ_K,
                       iterations=PQ_ITERS, k=ANN_PQ_TOPK)


def _sql_ann_pq() -> str:
    prefix, final_a, final_cb = _sql_pq_prefix()
    return prefix + f"""
, q AS (
  SELECT vec_id AS query_id, subspace, sv AS qsv
  FROM sv WHERE vec_id < 10
), lut AS (
  SELECT q.query_id, q.subspace, p.cluster AS code,
         round(list_sum(list_transform(generate_series(1, len(q.qsv)),
               i -> (q.qsv[i] - p.c[i]) * (q.qsv[i] - p.c[i]))), 6) + 0
           AS d
  FROM q JOIN {final_cb} p USING (subspace)
), codes AS (
  SELECT vec_id, subspace, cluster AS code FROM {final_a}
), adc AS (
  SELECT l.query_id, c.vec_id AS nn_id,
         round(list_sum(list(l.d ORDER BY l.subspace)), 6) + 0
           AS adc_dist
  FROM codes c
  JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
  WHERE c.vec_id != l.query_id
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, nn_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, nn_id) AS INT)
           AS rank
  FROM adc
)
SELECT query_id, nn_id, adc_dist, rank
FROM ranked WHERE rank <= {ANN_PQ_TOPK}
"""


SQL_ANN_PQ = _sql_ann_pq()

IVFPQ_NPROBE = 3


def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ: coarse Lloyd quantizer prunes to nprobe inverted lists
    per query, ADC over PQ codes refines — the production
    billion-vector ANN composition, hash-checked end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ANN.ivfpq_topk(emb, queries, coarse_k=KM_K,
                          coarse_iterations=KM_ITERS,
                          nprobe=IVFPQ_NPROBE, m=PQ_M, dim=PQ_DIM,
                          k_codes=PQ_K, pq_iterations=PQ_ITERS,
                          k=ANN_PQ_TOPK)


def _sql_ann_ivfpq(nprobe: int = IVFPQ_NPROBE,
                   k: int = ANN_PQ_TOPK) -> str:
    prefix, final_a, final_cb = _sql_pq_prefix()
    probe_d = ("round(list_sum(list_transform(generate_series(1,"
               " len(q2.qv)), i -> (q2.qv[i] - cl.c[i])"
               " * (q2.qv[i] - cl.c[i]))), 6) + 0")
    return prefix + f"""
, q AS (
  SELECT vec_id AS query_id, subspace, sv AS qsv
  FROM sv WHERE vec_id < 10
), lut AS (
  SELECT q.query_id, q.subspace, p.cluster AS code,
         round(list_sum(list_transform(generate_series(1, len(q.qsv)),
               i -> (q.qsv[i] - p.c[i]) * (q.qsv[i] - p.c[i]))), 6) + 0
           AS d
  FROM q JOIN {final_cb} p USING (subspace)
), codes AS (
  SELECT vec_id, subspace, cluster AS code FROM {final_a}
), asg AS (
  SELECT vec_id, cluster FROM ({_sql_kmeans().strip()}) t
), fullv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings
), centp AS (
  SELECT cluster, t2.i - 1 AS pos, round(avg(fv[t2.i]), 6) + 0 AS val
  FROM asg JOIN fullv USING (vec_id),
       unnest(generate_series(1, len(fv))) AS t2(i)
  GROUP BY 1, 2
), centl AS (
  SELECT cluster, list(val ORDER BY pos) AS c FROM centp GROUP BY cluster
), qfull AS (
  SELECT vec_id AS query_id, fv AS qv FROM fullv WHERE vec_id < 10
), probe AS (
  SELECT query_id, cluster FROM (
    SELECT q2.query_id, cl.cluster,
           row_number() OVER (PARTITION BY q2.query_id
                              ORDER BY {probe_d}, cl.cluster) AS rn
    FROM qfull q2 CROSS JOIN centl cl
  ) WHERE rn <= {nprobe}
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM asg a JOIN probe p ON a.cluster = p.cluster
  WHERE a.vec_id != p.query_id
), adc AS (
  SELECT c.query_id, c.vec_id AS nn_id,
         round(list_sum(list(l.d ORDER BY l.subspace)), 6) + 0
           AS adc_dist
  FROM cand c
  JOIN codes co ON co.vec_id = c.vec_id
  JOIN lut l ON l.query_id = c.query_id AND l.subspace = co.subspace
            AND l.code = co.code
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, nn_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, nn_id) AS INT)
           AS rank
  FROM adc
)
SELECT query_id, nn_id, adc_dist, rank
FROM ranked WHERE rank <= {k}
"""


SQL_ANN_IVFPQ = _sql_ann_ivfpq()


def _sql_ann_ivf(nprobe: int = 3, k: int = ANN_PQ_TOPK) -> str:
    """IVF-Flat oracle: the ann_ivfpq oracle's coarse stage (Lloyd
    assignment, 6dp-rounded mean centroids, rounded-L2 probe with
    cluster tie-break) followed by an exact rounded-L2 re-rank over
    full vectors instead of the PQ/ADC stage."""
    probe_d = ("round(list_sum(list_transform(generate_series(1,"
               " len(q2.qv)), i -> (q2.qv[i] - cl.c[i])"
               " * (q2.qv[i] - cl.c[i]))), 6) + 0")
    return f"""
WITH asg AS (
  SELECT vec_id, cluster FROM ({_sql_kmeans().strip()}) t
), fullv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings
), centp AS (
  SELECT cluster, t2.i - 1 AS pos, round(avg(fv[t2.i]), 6) + 0 AS val
  FROM asg JOIN fullv USING (vec_id),
       unnest(generate_series(1, len(fv))) AS t2(i)
  GROUP BY 1, 2
), centl AS (
  SELECT cluster, list(val ORDER BY pos) AS c FROM centp GROUP BY cluster
), qfull AS (
  SELECT vec_id AS query_id, fv AS qv FROM fullv WHERE vec_id < 10
), probe AS (
  SELECT query_id, cluster FROM (
    SELECT q2.query_id, cl.cluster,
           row_number() OVER (PARTITION BY q2.query_id
                              ORDER BY {probe_d}, cl.cluster) AS rn
    FROM qfull q2 CROSS JOIN centl cl
  ) WHERE rn <= {nprobe}
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM asg a JOIN probe p ON a.cluster = p.cluster
  WHERE a.vec_id != p.query_id
), scored AS (
  SELECT c.query_id, c.vec_id AS nn_id,
         round(list_sum(list_transform(generate_series(1, len(q.qv)),
               i -> (q.qv[i] - f.fv[i]) * (q.qv[i] - f.fv[i]))), 6) + 0
           AS l2_dist
  FROM cand c JOIN fullv f ON f.vec_id = c.vec_id
              JOIN qfull q ON q.query_id = c.query_id
), ranked AS (
  SELECT query_id, nn_id, l2_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY l2_dist, nn_id) AS INT)
           AS rank
  FROM scored
)
SELECT query_id, nn_id, l2_dist, rank FROM ranked WHERE rank <= {k}
"""


SQL_ANN_IVF = _sql_ann_ivf()


SPARK_QUERIES_EXT: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "asof_join": q_asof_join,
    "naive_forecast": q_naive_forecast,
    "forecast_metrics": q_forecast_metrics,
    "volatility_rmse": q_volatility_rmse,
    "sliding_windows": q_sliding_windows,
    "dedup_exact_docs": q_dedup_exact_docs,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_containment": q_dedup_containment,
    "dedup_embedding": q_dedup_embedding,
    "dedup_components": q_dedup_components,
    "embedding_centroids": q_embedding_centroids,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "knn_graph": q_knn_graph,
    "ann_ivf": q_ann_ivf,
    "kmeans_assign": q_kmeans_assign,
    "cluster_quality_profile": q_cluster_quality_profile,
    "semantic_dedup": q_semantic_dedup,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "source_cap": q_source_cap,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "repetition_score": q_repetition_score,
    "dedup_keep": q_dedup_keep,
    "dedup_keep_best": q_dedup_keep_best,
    "corpus_curation": q_corpus_curation,
    "model_score": q_model_score,
    "pq_encode": q_pq_encode,
    "ann_pq": q_ann_pq,
    "dedup_incremental": q_dedup_incremental,
    "doc_pagerank": q_doc_pagerank,
    "graph_triangles": q_graph_triangles,
    "graph_triangles_approx": q_graph_triangles_approx,
    "embedding_quantize": q_embedding_quantize,
    "ann_range_search": q_ann_range_search,
    "dedup_tfidf_cosine": q_dedup_tfidf_cosine,
    "ann_ivfpq": q_ann_ivfpq,
}

ORACLE_SQL_EXT: dict[str, str] = {
    "asof_join": SQL_ASOF_JOIN,
    "naive_forecast": SQL_NAIVE_FORECAST,
    "forecast_metrics": SQL_FORECAST_METRICS,
    "volatility_rmse": SQL_VOLATILITY_RMSE,
    "sliding_windows": SQL_SLIDING_WINDOWS,
    "dedup_exact_docs": SQL_DEDUP_EXACT,
    "dedup_minhash_lsh": _sql_minhash(),
    "dedup_simhash": _sql_simhash(),
    "dedup_simhash_pairs": _sql_simhash_pairs(),
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "dedup_embedding": SQL_DEDUP_EMBEDDING,
    "dedup_components": _sql_components(),
    "embedding_centroids": SQL_EMBEDDING_CENTROIDS,
    "ann_bruteforce": SQL_ANN_BRUTEFORCE,
    "ann_lsh": _sql_ann_lsh(),
    "knn_graph": _sql_knn_graph(),
    "kmeans_assign": SQL_KMEANS_ASSIGN,
    "cluster_quality_profile": SQL_CLUSTER_QUALITY,
    "semantic_dedup": _sql_semantic_dedup(),
    "lang_id": _sql_lang_id(),
    "quality_score": SQL_QUALITY,
    "source_cap": SQL_SOURCE_CAP,
    "token_count": SQL_TOKEN_COUNT,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "repetition_score": SQL_REPETITION,
    "dedup_keep": _sql_dedup_keep(),
    "dedup_keep_best": _sql_dedup_keep_best(),
    "corpus_curation": _sql_corpus_curation(),
    "model_score": _sql_model_score(),
    "pq_encode": SQL_PQ_ENCODE,
    "ann_pq": SQL_ANN_PQ,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "doc_pagerank": SQL_DOC_PAGERANK,
    "graph_triangles": SQL_GRAPH_TRIANGLES,
    "graph_triangles_approx": _sql_graph_triangles_approx(DOULION_P),
    "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
    "ann_range_search": SQL_ANN_RANGE_SEARCH,
    "dedup_tfidf_cosine": SQL_DEDUP_TFIDF_COSINE,
    "ann_ivfpq": SQL_ANN_IVFPQ,
    "ann_ivf": SQL_ANN_IVF,
}