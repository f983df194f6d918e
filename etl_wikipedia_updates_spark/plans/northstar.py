"""North-star queries Q23-Q28 + extended training-pipeline operators.

Q23-Q28 are the SURVEY.md §2.3 contract rows; the extra named queries
(minhash_lsh, simhash_pairs, lang_id, text_quality, token_stats,
doc_fingerprint, ann_ivf, cosine_neardup, multimodal_bytes) are the
first-class LLM-data-pipeline operator surface — each is a thin plan
over ``operators/`` with a DuckDB oracle.

Determinism: token->id mappings are the stateless char-fold hash
(operators.text.term_hash_col — map-side, no dictionary stage) and all
hashing is integer arithmetic with constants shared verbatim between
the Spark plans and the oracle SQL, so both engines compute identical
values. Vector math
folds sequentially with the same seed on both engines
(functions.arrays).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from etl_wikipedia_updates_spark.functions.arrays import (
    cosine_similarity,
    sql_cosine_similarity,
)
from etl_wikipedia_updates_spark.functions.deterministic import (
    dec_avg,
    dec_sum,
    det_round,
    money_sum,
    sql_dec_sum,
    sql_det_round,
    sql_money_sum,
)
from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import multimodal as M
from etl_wikipedia_updates_spark.operators import similarity as S
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.operators.text import HASH_P
from etl_wikipedia_updates_spark.caches import purge_stale
from etl_wikipedia_updates_spark.plans.base import DeclaredQuery, total_order
from etl_wikipedia_updates_spark.tables import load_table, spread

# --- shared oracle SQL fragments --------------------------------------------
SQL_TOK = (
    "SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term "
    "FROM documents"
)
SQL_DTOK = (
    "SELECT doc_id, lang, unnest(list_distinct(string_split(lower(text), ' '))) "
    "AS term FROM documents"
)
# Distinct 3-token shingles (w-shingling) — the near-dup representation.
SQL_SH = (
    "SELECT doc_id, lang, unnest(list_distinct(list_transform("
    "range(1, len(l) - 1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS term "
    "FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS l FROM documents)"
)

JACCARD_THRESHOLD = 0.5
COSINE_NEARDUP_THRESHOLD = 0.35

# Document-frequency cap for the near-dup shingle universe (q26,
# dedup_clusters/dedup_corpus via _q26_pairs, contamination). A shingle
# shared by more than this many documents carries no near-duplicate
# signal (it's boilerplate: "in the of ...", license headers) but makes
# the inverted-index self-join quadratic in its df — ONE ultra-common
# shingle at web scale produces a candidate block of df^2 pairs. Capping
# df bounds every shingle's pair contribution at CAP^2 and is the
# standard trade in production near-dup pipelines. Semantics: Jaccard
# over the df<=CAP shingle universe — the cap is applied identically in
# the oracle SQL (same constant, same anti-join), so both engines agree
# bit-for-bit. At the test tiers the cap never binds (max df at sf0.1 is
# 14), so results equal uncapped Jaccard there; at 100 TB it is the
# difference between a bounded join and a runaway stage.
SHINGLE_DF_CAP = 1000

# Hot-shingle exclusion CTE shared by the q26 family and contamination.
SQL_SH_CAPPED = (
    "SELECT s.doc_id, s.lang, s.term FROM sh s ANTI JOIN "
    f"(SELECT lang, term FROM sh GROUP BY lang, term "
    f"HAVING COUNT(*) > {SHINGLE_DF_CAP}) h USING (lang, term)"
)


def capped_shingles(sh: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``cap``.

    Count-over-window on (lang, term): ONE shuffle, no array build (a
    sort-based window spills, so even a pathological hot shingle can't
    blow an aggregation buffer), and no persist — shuffle files are
    disk-backed, strictly safer at 100 TB than pinning the exploded
    corpus in executor memory. Used by the two-corpus contamination
    join, whose downstream join keys match the window key. The q26
    family uses posting-list pair enumeration instead (_q26_pairs),
    where the cap is a size filter on the grouped posting array.
    (The earlier shape — groupBy df + anti-join — needed the raw
    explode twice and measured ~40% slower even with both sides
    persisted.)
    """
    w = W.partitionBy("lang", "term")
    return (
        sh.withColumn("__df", F.count("*").over(w))
        .filter(F.col("__df") <= cap)
        .drop("__df")
    )


# --- Q23: word count ---------------------------------------------------------
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 corpus terms. Explode -> two-phase count -> top-k; the
    final orderBy+limit is TakeOrderedAndProject over |vocab| rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        T.doc_tokens(docs)
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(20)
    )


Q23_SQL = f"""
WITH tok AS ({SQL_TOK})
SELECT term, COUNT(*) AS cnt FROM tok
GROUP BY term ORDER BY cnt DESC, term LIMIT 20
"""


# --- Q24: exact dedup (reference R10) ----------------------------------------
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-first dedup on the natural key, mirroring the
    reference's UNIQUE(event_timestamp, username, title) semantics
    (/root/reference/pipeline.py:216) on the events table."""
    events = load_table(spark, sf_dir, "events")
    kept = D.exact_dedup(
        events, keys=["user_id", "event_type", "ts"], order_by=["event_id"]
    )
    return kept.agg(
        F.count("*").alias("n_survivors"),
        F.sum("event_id").alias("id_checksum"),
    )


Q24_SQL = """
SELECT COUNT(*) AS n_survivors, CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM (
  SELECT event_id,
         row_number() OVER (PARTITION BY user_id, event_type, ts
                            ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""


# --- Q25: cosine top-k (brute force) -----------------------------------------
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors of vec_id=0. Query side is broadcast; the
    corpus is scanned once. Scale path: ann_ivf below (cell-probed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    out = S.cosine_topk(emb, queries, k=5)
    return out.select(
        "q_vec_id", F.col("rank").cast("bigint").alias("rk"), "vec_id", "cos_sim"
    ).transform(total_order, "q_vec_id", "rk")


Q25_SQL = f"""
WITH q AS (SELECT vec_id AS q_vec_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT q.q_vec_id, e.vec_id,
         {sql_cosine_similarity('q.qe', 'e.embedding')} AS cos
  FROM embeddings e, q WHERE e.vec_id != q.q_vec_id
)
SELECT q_vec_id,
       CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
       vec_id, (floor((cos) * 10000.0 + 0.5) / 10000.0) AS cos_sim
FROM pairs
QUALIFY rk <= 5
ORDER BY q_vec_id, rk
"""


# --- Q26: Jaccard near-dup ---------------------------------------------------
def _doc_ids_fit_u32(docs: DataFrame) -> bool:
    """One bounded agg job: True iff every doc_id sits in [0, 2^31)
    so a pair of ids packs losslessly into one signed long. An empty
    or all-NULL id column returns False (nothing to pack; the
    two-column path is trivially fine)."""
    row = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).collect()[0]
    mn, mx = row["mn"], row["mx"]
    return mn is not None and mn >= 0 and mx < (1 << 31)


def _q26_pairs(
    spark: SparkSession, sf_dir: str, prefilter_hot: bool | None = None
) -> DataFrame:
    """Unordered (doc_id, doc_id2, jaccard) pairs above threshold —
    shared by q26 (which adds rounding + total order) and
    dedup_clusters (which only needs the edges, so no sort).

    Shape: POSTING-LIST PAIR ENUMERATION, not a self-join. One
    aggregation groups the exploded shingles into a sorted per-(lang,
    term) doc list; the df cap is then a plain size filter, and the
    candidate pairs are enumerated JVM-side from each surviving list
    (nested transform over the sorted array — d1 < d2 by
    construction). Compared with the classic inverted-index self-join
    this computes the explode ONCE instead of once per join side
    (Catalyst's ReuseExchange does not unify the sides' subplans here
    — verified on the physical plan — and AQE stage reuse didn't
    either: 28 runtime stages for the join shape vs ~14 for this one;
    measured ~35% faster end-to-end, identical output).

    ``prefilter_hot``: the one-pass shape builds each posting array
    BEFORE the size filter can drop it, so a single pathological
    shingle (df in the tens of millions on raw web text) would
    materialize its full array in one aggregation buffer. True inserts
    a cheap count-prefilter (map-side partials, tiny hot set
    anti-joined away) so no over-cap array is ever built — the knob to
    flip on corpora with unknown df distribution; semantics identical
    (same cap, same oracle). Deployments flip it without code via
    ``SPARK_GRAFT_NEARDUP_PREFILTER=1`` (the None default reads the
    env), since the registered builders only pass (spark, sf_dir)."""
    if prefilter_hot is None:
        flag = os.environ.get("SPARK_GRAFT_NEARDUP_PREFILTER", "")
        prefilter_hot = flag.strip().lower() not in ("", "0", "false", "no", "off")
    # spread: see cosine_neardup — the shingle explode is the heavy
    # pre-shuffle compute (measured ~2x on this pipeline).
    docs = spread(load_table(spark, sf_dir, "documents"))
    # Pairs on raw shingle strings: a dense-id dictionary costs two
    # extra shuffles (the 100 TB swap to 8-byte keys is a map-side
    # xxhash64(term); operators.text.token_dictionary notes it). NULL
    # lang never pairs — (lang, term) is a JOIN key in the oracle SQL,
    # where NULL = NULL is false, but only a grouping key here.
    raw = T.doc_shingles(docs).filter(F.col("lang").isNotNull())
    if prefilter_hot:
        hot = (
            raw.groupBy("lang", "term")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > SHINGLE_DF_CAP)
            .select("lang", "term")
        )
        raw = raw.join(hot, ["lang", "term"], "left_anti")
    postings = (
        raw.groupBy("lang", "term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= SHINGLE_DF_CAP)
    )
    # Pair-count aggregation key: when every doc_id provably fits an
    # unsigned 32-bit slot, the two ids pack into ONE long
    # (x * 2^32 + y, injective and overflow-free for 0 <= id < 2^31)
    # — the aggregation and its exchange carry one 8-byte key instead
    # of two (UnsafeRow 16 -> 8 key bytes/row, one hash/compare
    # instead of two). Pair occurrences scatter across postings
    # partitions, so map-side partials collapse only ~4x before the
    # wire (r19 stage profile: ~431 MB of enumerated pair rows at the
    # 10x tier) — guide §2.3 "narrower types". Measured at the 10x
    # tier (adjacent pairs): 34.6 -> 24.3 s and 14.0 -> 6.6 s for the
    # pair pipeline. The gate is a memoized one-job (min, max) bound
    # probe — the fit-small pattern (incr_thr precedent); ids past
    # 2^31 (a 100 TB crawl with hash ids) keep the two-column key,
    # same results either way.
    ids_fit_32 = _memo_model(
        spark,
        sf_dir,
        "doc_id_bounds_u32",
        lambda: _doc_ids_fit_u32(load_table(spark, sf_dir, "documents")),
    )
    enum = D.enumerate_sorted_pairs(postings)
    if ids_fit_32:
        inter = (
            enum.select(
                (F.col("x") * F.lit(1 << 32).cast("long") + F.col("y")).alias(
                    "p"
                )
            )
            .groupBy("p")
            .agg(F.count("*").alias("i"))
            .select(
                F.shiftright("p", 32).alias("d1"),
                (F.col("p") % F.lit(1 << 32).cast("long")).alias("d2"),
                "i",
            )
        )
    else:
        inter = enum.groupBy(
            F.col("x").alias("d1"), F.col("y").alias("d2")
        ).agg(F.count("*").alias("i"))
    # per-doc set sizes over the SAME capped universe, from the postings
    sizes = (
        postings.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("i").cast("double") / (
        (F.col("n1") + F.col("n2") - F.col("i")).cast("double")
    )
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.col("d1").alias("doc_id"),
            F.col("d2").alias("doc_id2"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over distinct 3-token shingles via posting-list
    pair enumeration on (lang, shingle) — pair candidates only
    materialize where a shingle is shared, never a cross join
    (_q26_pairs documents the physical shape). Shingling (vs unigram
    token sets) is what keeps the index selective: with a small
    vocabulary every doc shares most tokens, but only true
    near-duplicates share token *sequences*. The sub-quadratic scale
    path is minhash_lsh below."""
    return (
        _q26_pairs(spark, sf_dir)
        .select("doc_id", "doc_id2", det_round(F.col("jaccard"), 4).alias("jaccard"))
        .transform(total_order, "doc_id", "doc_id2")
    )


Q26_SQL = f"""
WITH sh AS ({SQL_SH}),
shk AS ({SQL_SH_CAPPED}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shk GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM shk a JOIN shk b
    ON a.term = b.term AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1 AS doc_id, d2 AS doc_id2,
       (floor((CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc_id, doc_id2
"""


# --- Q27: label centroid distance --------------------------------------------
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid then mean member distance. Vectors fold in
    vec_id order with the first member as seed, so both engines perform
    the identical IEEE addition sequence; the final mean goes through
    an exact decimal sum (order-independent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    grouped = v.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("vs"),
        F.count("*").alias("n"),
    )
    seed = F.element_at("vs", 1).getField("v")
    rest = F.slice("vs", 2, F.greatest(F.size("vs") - 1, F.lit(0)))
    sumv = F.aggregate(
        rest, seed, lambda acc, s: F.zip_with(acc, s.getField("v"), lambda x, y: x + y)
    )
    centroids = grouped.select(
        "label",
        "n",
        F.transform(sumv, lambda x: x / F.col("n")).alias("c"),
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    member_dists = v.join(F.broadcast(centroids), "label").select(
        "label", dist.alias("dist")
    )
    return (
        member_dists.groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            det_round(
                dec_sum(F.col("dist"), scale=8) / F.count("dist"),
                4,
            ).alias("avg_dist"),
        )
        .transform(total_order, "label")
    )


Q27_SQL = f"""
WITH v AS (
  SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
agg AS (
  SELECT label, COUNT(*) AS n, list(v ORDER BY vec_id) AS vs
  FROM v GROUP BY label
),
cent AS (
  SELECT label, n,
         list_transform(
           list_reduce(vs, (acc, x) -> list_transform(list_zip(acc, x), p -> p[1] + p[2])),
           s -> s / n) AS c
  FROM agg
),
d AS (
  SELECT v.label,
         sqrt(list_reduce(
           list_prepend(0.0, list_transform(list_zip(v.v, cent.c),
                                            p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (acc, x) -> acc + x)) AS dist
  FROM v JOIN cent ON v.label = cent.label
)
SELECT label, COUNT(*) AS n_members,
       (floor(({sql_dec_sum('dist', scale=8)} / COUNT(dist)) * 10000.0 + 0.5) / 10000.0) AS avg_dist
FROM d GROUP BY label ORDER BY label
"""


# --- Q28: pandas_udf surface -------------------------------------------------
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanctioned pandas_udf example: two Arrow-batched scalar UDFs
    in a grouped plan. Everything around the UDFs (agg, ordering) stays
    JVM-side; only the column math crosses to Python, vectorized.
    (Defined in-function: pandas_udf type parsing needs a live session.)
    """

    @pandas_udf("long")
    def _key_diff(a: pd.Series, b: pd.Series) -> pd.Series:
        # R8 semantics (new - old, /root/reference/pipeline.py:116) as an
        # Arrow-batched scalar UDF: exact integer subtraction.
        return a - b

    @pandas_udf("double")
    def _disc_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        # price * (1 - discount), same IEEE op order as the SQL oracle.
        return price * (1.0 - discount)

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            _key_diff(F.col("l_partkey"), F.col("l_suppkey")).alias("kd"),
            _disc_price(F.col("l_extendedprice"), F.col("l_discount")).alias("dp"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("kd").alias("sum_key_diff"),
            money_sum(F.col("dp"), scale=6).alias("sum_disc_price"),
        )
        .transform(total_order, "l_returnflag")
    )


Q28_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(l_partkey - l_suppkey) AS BIGINT) AS sum_key_diff,
       {sql_money_sum('l_extendedprice * (1 - l_discount)', scale=6)} AS sum_disc_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- grouped_zscore: the grouped-map (applyInPandas) UDF surface -------------
def grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label z-score of the first embedding coordinate via
    ``applyInPandas`` — the grouped-map Python surface (Q28 covers
    scalar pandas_udf, multimodal_bytes covers mapInPandas). Each label
    group crosses to Python ONCE as an Arrow batch; group stats use
    exact scaled-long moments (integer sums are order-independent, so
    the nondeterministic row order inside the pandas group cannot
    change them), and the per-row (x-mean)/std is the same IEEE
    sequence the oracle's window form computes. At scale the shuffle is
    one hash partitioning on the group key; group size must fit an
    Arrow batch (labels here; salted sub-groups if a group outgrows
    memory)."""
    import math

    import numpy as np

    def _z(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype="float64")
        n = len(x)
        s1 = int(np.floor(x * 1e6 + 0.5).astype(np.int64).sum())
        mean = (float(s1) / 1e6) / n
        s2 = int(np.floor((x * x) * 1e6 + 0.5).astype(np.int64).sum())
        msq = (float(s2) / 1e6) / n
        var = msq - mean * mean
        std = math.sqrt(var) if var > 0 else 0.0
        z = (x - mean) / std if std != 0.0 else np.zeros_like(x)
        return pd.DataFrame(
            {"label": pdf["label"], "vec_id": pdf["vec_id"], "z": z}
        )

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", "vec_id", F.element_at("embedding", 1).cast("double").alias("x")
    )
    z = x.groupBy("label").applyInPandas(_z, "label int, vec_id long, z double")
    return (
        z.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            det_round(
                dec_sum(F.abs(F.col("z")), scale=6) / F.count("*"), 4
            ).alias("mean_abs_z"),
            det_round(F.max("z"), 4).alias("max_z"),
        )
        .transform(total_order, "label")
    )


GROUPED_ZSCORE_SQL = f"""
WITH x AS (
  SELECT label, vec_id, CAST(embedding[1] AS DOUBLE) AS x FROM embeddings
),
st AS (
  SELECT label,
         ((CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / COUNT(*)) AS mean,
         ((CAST(SUM(CAST(floor((x * x) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / COUNT(*)) AS msq
  FROM x GROUP BY label
),
sd AS (
  SELECT label, mean,
         CASE WHEN msq - mean * mean > 0 THEN sqrt(msq - mean * mean) ELSE 0.0 END AS std
  FROM st
),
z AS (
  SELECT x.label, x.vec_id,
         CASE WHEN sd.std = 0 THEN 0.0 ELSE (x.x - sd.mean) / sd.std END AS z
  FROM x JOIN sd USING (label)
)
SELECT label, COUNT(*) AS n,
       {sql_det_round(sql_dec_sum('abs(z)', scale=6) + ' / COUNT(*)', 4)} AS mean_abs_z,
       {sql_det_round('max(z)', 4)} AS max_z
FROM z GROUP BY label ORDER BY label
"""


# --- minhash_lsh: MinHash + LSH near-dup (scale path for Q26) -----------------
MINHASH_H = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4
MINHASH_PARAMS = D.hash_params(MINHASH_H)


def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full shingle->MinHash->LSH->verify pipeline: signatures in one
    grouped agg, banding turns the pair space into bucket equi-joins,
    candidates are verified with exact shingle-Jaccard. Sub-quadratic:
    only bucket-colliding docs ever pair up, and shingling keeps the
    buckets selective (SURVEY §4.3(3))."""
    docs = spread(load_table(spark, sf_dir, "documents"))  # see cosine_neardup
    # Shingle ids are the stateless char-fold hash (term_hash_col): a
    # map-side expression with no dictionary stage (distinct + global
    # sort + broadcast) — the contract path IS the 100 TB path.
    shingle_rows = T.doc_shingles(docs)
    dtok = shingle_rows.withColumn("tid", T.term_hash_col())
    # No persist: the posting-list pair shape consumes the signatures
    # exactly once (the old self-join read them twice).
    sig = D.minhash_signatures(
        dtok.select("doc_id", "lang", "tid"), MINHASH_PARAMS
    )
    cand = D.lsh_candidate_pairs(sig, MINHASH_BANDS, MINHASH_ROWS)
    # Verify on shingle IDS, not strings: the oracle's verify CTE
    # joins on tid, so a term-hash collision between two distinct
    # shingles inside a candidate pair (expected once per ~1e5
    # distinct shingles) would make a string-side verify disagree
    # with the oracle. Hashing inside the array (transform +
    # array_distinct) keeps the verify side map-side — no shuffle,
    # same sets as collect_set(tid) by construction.
    tok_arrays = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(T.shingles_col(), T.term_hash_fn)
            )
        ).alias("toks"),
    )
    verified = D.jaccard_verify(cand, tok_arrays, JACCARD_THRESHOLD)
    return verified.select(
        "doc_id", "doc_id2", det_round(F.col("jaccard"), 4).alias("jaccard")
    ).transform(total_order, "doc_id", "doc_id2")


def _minhash_sql() -> str:
    sig_cols = ", ".join(
        f"MIN(({a} * tid + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, lang, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key="||'_'||".join(
                f"CAST(h{b * MINHASH_ROWS + r} AS VARCHAR)"
                for r in range(MINHASH_ROWS)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH sh AS ({SQL_SH}),
dt AS (SELECT doc_id, lang, {T.sql_term_hash('term')} AS tid FROM sh),
sig AS (SELECT doc_id, lang, {sig_cols} FROM dt GROUP BY doc_id, lang),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
  FROM banded a JOIN banded c
    ON a.lang = c.lang AND a.band = c.band AND a.band_key = c.band_key
   AND a.doc_id < c.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
inter AS (
  SELECT cand.d1, cand.d2, COUNT(*) AS i
  FROM cand
  JOIN dt t1 ON t1.doc_id = cand.d1
  JOIN dt t2 ON t2.doc_id = cand.d2 AND t2.tid = t1.tid
  GROUP BY 1, 2
)
SELECT d1 AS doc_id, d2 AS doc_id2,
       (floor((CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc_id, doc_id2
"""


MINHASH_SQL = _minhash_sql()


# --- source_overlap: cross-source MinHash overlap matrix ----------------------
# The curation question the per-doc near-dup family doesn't answer:
# how much do the SOURCES themselves overlap (crawl A vs crawl B vs a
# curated subset)? Broder resemblance between source shingle SETS,
# estimated by per-source MinHash signatures — the standard audit
# before mixing corpora (a source pair with high resemblance double-
# counts its text under any mixing weights; run before source_mix /
# temperature_mix pick theirs).
#
# Scale shape — the best in the near-dup family: the corpus-scale
# shingle stream feeds ONE grouped aggregation keyed by source, whose
# H min-partials collapse map-side to |sources| x H longs per task
# (nothing corpus-sized ever crosses the wire — contrast minhash_lsh,
# which must shuffle per-DOC signatures). The pair join is over the
# aggregated |sources|-row frame (bounded like the q25 probe side:
# broadcast, never sort-merge), and both join branches hang off the
# SAME partial-aggregate exchange (ReusedExchange — the corpus is
# scanned and shingled ONCE; pinned in test_plans/explain_audit).
# Estimation error is ~1/sqrt(H) (Broder 1997): H=64 gives ~12% — an
# audit-grade resolution; the constants are plain literals so the
# DuckDB oracle replays the identical integer mins and the ESTIMATE
# (not just the true Jaccard) matches bit-for-bit.
SRC_OVERLAP_H = 64
SRC_OVERLAP_PARAMS = D.hash_params(SRC_OVERLAP_H, seed=11)


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level resemblance matrix: (source, source2,
    n_agree, est_jaccard) for every unordered source pair, where
    n_agree counts agreeing MinHash components (of SRC_OVERLAP_H) over
    each source's distinct-shingle set and est_jaccard = n_agree/H."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    dt = docs.select(
        "source", F.explode(T.shingles_col()).alias("term")
    ).select("source", T.term_hash_col().alias("tid"))
    sig = dt.groupBy("source").agg(
        *D.minhash_agg_exprs(SRC_OVERLAP_PARAMS)
    )
    agree = F.expr(
        " + ".join(
            f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
            for i in range(SRC_OVERLAP_H)
        )
    )
    pairs = sig.alias("a").join(
        F.broadcast(sig.alias("b")), F.col("a.source") < F.col("b.source")
    )
    return pairs.select(
        F.col("a.source").alias("source"),
        F.col("b.source").alias("source2"),
        agree.cast("bigint").alias("n_agree"),
        det_round(
            agree.cast("double") / float(SRC_OVERLAP_H), 4
        ).alias("est_jaccard"),
    ).transform(total_order, "source", "source2")


def _source_overlap_sql() -> str:
    sig_cols = ", ".join(
        f"MIN(({a} * tid + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(SRC_OVERLAP_PARAMS)
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(SRC_OVERLAP_H)
    )
    return f"""
WITH sh AS (
  SELECT source, unnest(list_distinct(list_transform(
    range(1, len(l) - 1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS term
  FROM (SELECT source, string_split(lower(text), ' ') AS l FROM documents)
),
dt AS (SELECT source, {T.sql_term_hash('term')} AS tid FROM sh),
sig AS (SELECT source, {sig_cols} FROM dt GROUP BY source),
pair AS (
  SELECT a.source AS source, b.source AS source2,
         CAST({agree} AS BIGINT) AS n_agree
  FROM sig a JOIN sig b ON a.source < b.source
)
SELECT source, source2, n_agree,
       {sql_det_round(f'CAST(n_agree AS DOUBLE) / {float(SRC_OVERLAP_H)}', 4)} AS est_jaccard
FROM pair
ORDER BY source, source2
"""


SOURCE_OVERLAP_SQL = _source_overlap_sql()


# --- simhash_pairs: SimHash near-dup ------------------------------------------
SIMHASH_MAX_HAMMING = 3


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash over shingle ids + pigeonhole-bucketed pair search
    (hamming <= 3 over 4 chunks => some chunk equal => candidates come
    from 4 equi-joins, never a cross join)."""
    docs = spread(load_table(spark, sf_dir, "documents"))  # see cosine_neardup
    # Shingle ids via the stateless char-fold hash — no dictionary
    # stage (see minhash_lsh).
    shingle_rows = T.doc_shingles(docs)
    dtok = shingle_rows.withColumn("tid", T.term_hash_col())
    # No persist: single consumer under the posting-list pair shape.
    fps = D.simhash_fingerprints(dtok.select("doc_id", "lang", "tid"))
    pairs = D.simhash_near_pairs(fps, SIMHASH_MAX_HAMMING)
    return pairs.transform(total_order, "doc_id", "doc_id2")


SIMHASH_SQL = f"""
WITH sh AS ({SQL_SH}),
dt AS (SELECT doc_id, lang, {T.sql_term_hash('term')} AS tid FROM sh),
bits AS (
  SELECT doc_id, lang, b.b,
         SUM(CASE WHEN ((({D.SIMHASH_A} * tid + {D.SIMHASH_B}) % {D.SIMHASH_MOD}) >> b.b) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM dt CROSS JOIN (SELECT unnest(range(0, {D.SIMHASH_BITS})) AS b) b
  GROUP BY doc_id, lang, b.b
),
fps AS (
  SELECT doc_id, lang,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id, lang
)
SELECT a.doc_id, b.doc_id AS doc_id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY 1, 2
"""


# --- lang_id / text_quality fitted-model memo ---------------------------------
# (applicationId, sf_dir, model-name) -> fitted model (a list/dict of a
# few dozen strings). Both fits are bit-deterministic single
# aggregations over the corpus, so the model is a pure function of
# (sf_dir, params) within a session — train once, serve every
# subsequent build (same pattern as plans/clustering._FIT_CACHE).
# Entries from stopped sessions are purged on insert.
_TEXT_MODEL_CACHE: dict[tuple[str, str, str], object] = {}


def _memo_model(spark: SparkSession, sf_dir: str, name: str, fit):
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    model = _TEXT_MODEL_CACHE.get(key)
    if model is None:
        purge_stale(_TEXT_MODEL_CACHE, app)
        model = fit()
        _TEXT_MODEL_CACHE[key] = model
    return model


# --- lang_id: language-ID by token profile ------------------------------------
LANG_PROFILE_N = 10


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of profile-overlap language-ID.

    Eager fit-then-score (same pattern as kmeans_clusters): the
    per-lang top-terms model is fitted in one count job at build time
    and inlined as literals, so the scorer is a pure map-side
    projection and the only shuffle left is the tiny confusion-matrix
    aggregation. The oracle (LANG_ID_SQL) computes the identical model
    in CTEs — same counts, same (cnt desc, term) tie-break."""
    # spread() only inside the memoized fit (the explode needs the
    # parallelism; its partition probe is a per-build py4j cost the
    # memo amortizes away). The scorer is one narrow map over the
    # scan — at scale the input arrives partitioned, and locally the
    # 5k-row projection doesn't repay a repartition exchange.
    docs = load_table(spark, sf_dir, "documents")
    profiles = _memo_model(
        spark,
        sf_dir,
        f"lang_profiles_{LANG_PROFILE_N}",
        lambda: T.fit_lang_profiles(spread(docs), LANG_PROFILE_N),
    )
    pred = T.predict_language(docs, profiles)
    return (
        pred.groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
        .transform(total_order, "lang", "predicted_lang")
    )


LANG_ID_SQL = f"""
WITH tok AS ({SQL_TOK}),
counts AS (SELECT lang, term, COUNT(*) AS cnt FROM tok
           WHERE lang IS NOT NULL GROUP BY lang, term),
prof AS (
  SELECT lang AS cand_lang, term
  FROM (SELECT lang, term,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
        FROM counts)
  WHERE rk <= {LANG_PROFILE_N}
),
dtok AS ({SQL_DTOK}),
ov AS (
  SELECT d.doc_id, p.cand_lang, COUNT(*) AS n_overlap
  FROM (SELECT DISTINCT doc_id, term FROM dtok) d
  JOIN prof p USING (term)
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, cand_lang
  FROM (SELECT doc_id, cand_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_overlap DESC, cand_lang) AS rk
        FROM ov)
  WHERE rk = 1
)
SELECT d.lang, COALESCE(b.cand_lang, 'unknown') AS predicted_lang, COUNT(*) AS n
FROM documents d LEFT JOIN best b USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- text_quality: per-doc quality features -----------------------------------
STOPWORD_N = 20


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eager fit-then-score: the top-20 stopword model is one
    TakeOrderedAndProject job at build time; scoring is a single
    map-side higher-order-function pass (see quality_features)."""
    # text IS NOT NULL on both engines: the oracle's explode drops a
    # NULL-text doc entirely, while size(split(NULL)) here would emit
    # a garbage feature row — the same parity guard token_stats /
    # corpus_stats / bm25_rank / seq_pack carry (identical results on
    # non-null corpora; IsNotNull(text) pushes into the parquet scan).
    # The fit side is unaffected either way: a NULL-text doc explodes
    # to zero token rows on both engines.
    # Same spread-inside-fit split as lang_id; the regex-heavy scorer
    # keeps spread (16-way beats one core on the per-token RLIKE pass,
    # measured), taken off the fitted frame's lineage-free parent.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    stop_terms = _memo_model(
        spark,
        sf_dir,
        f"stopwords_{STOPWORD_N}",
        lambda: T.fit_stopwords(spread(docs), STOPWORD_N),
    )
    return T.quality_features(spread(docs), stop_terms).transform(
        total_order, "doc_id"
    )


TEXT_QUALITY_SQL = f"""
WITH tok AS ({SQL_TOK}),
stop AS (
  SELECT term
  FROM (SELECT term, COUNT(*) AS cnt,
               row_number() OVER (ORDER BY COUNT(*) DESC, term) AS rk
        FROM tok GROUP BY term)
  WHERE rk <= {STOPWORD_N}
),
feat AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         COUNT(DISTINCT term) AS n_distinct,
         SUM(length(term)) AS sum_len,
         COUNT(CASE WHEN term IN (SELECT term FROM stop) THEN 1 END) AS n_stop,
         COUNT(CASE WHEN regexp_matches(term, '^[a-z]+$') THEN 1 END) AS n_alpha
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       (floor((CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000.0 + 0.5) / 1000.0) AS avg_token_len,
       (floor((CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000.0 + 0.5) / 1000.0) AS stop_ratio,
       (floor((CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000.0 + 0.5) / 1000.0) AS alpha_ratio,
       (floor((0.4 * (CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.3 * (1 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100)) * 1000.0 + 0.5) / 1000.0) AS quality_score
FROM feat ORDER BY doc_id
"""


# --- token_stats: corpus token accounting per source --------------------------
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + regex token counting (the BPE-ish pre-tokenizer
    pass of a training pipeline), aggregated per source. text IS NOT
    NULL on both engines — the size(NULL) = -1 parity guard bm25_rank
    and seq_pack carry (identical on non-null corpora)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per_doc = docs.select(
        "source",
        "doc_id",
        F.size(T.tokens_col()).cast("bigint").alias("nt"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[a-z]+")).cast("bigint").alias("nr"),
    )
    # Carry source through the explode instead of re-joining the token
    # rows back on doc_id — one shuffle (the countDistinct) instead of
    # a join shuffle plus an agg shuffle.
    distinct_terms = (
        docs.select("source", F.explode(T.tokens_col()).alias("term"))
        .groupBy("source")
        .agg(F.countDistinct("term").alias("n_distinct_terms"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum("nr").alias("n_alpha_runs"),
            det_round(
                F.sum("nt").cast("double") / F.count("*"), 3
            ).alias("avg_tokens_per_doc"),
        )
        .join(distinct_terms, "source")
        .select(
            "source", "n_docs", "n_tokens", "n_alpha_runs",
            "avg_tokens_per_doc", "n_distinct_terms",
        )
        .transform(total_order, "source")
    )


TOKEN_STATS_SQL = f"""
WITH per_doc AS (
  SELECT source, doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS nr
  FROM documents WHERE text IS NOT NULL
),
tok AS ({SQL_TOK}),
dterms AS (
  SELECT d.source, COUNT(DISTINCT t.term) AS n_distinct_terms
  FROM tok t JOIN documents d USING (doc_id) GROUP BY d.source
)
SELECT p.source, COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(SUM(nr) AS BIGINT) AS n_alpha_runs,
       (floor((CAST(SUM(nt) AS DOUBLE) / COUNT(*)) * 1000.0 + 0.5) / 1000.0) AS avg_tokens_per_doc,
       ANY_VALUE(d.n_distinct_terms) AS n_distinct_terms
FROM per_doc p JOIN dterms d ON p.source = d.source
GROUP BY p.source
ORDER BY p.source
"""


# --- doc_fingerprint: rolling-hash document fingerprints ----------------------
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.rolling_fingerprint(docs).transform(total_order, "doc_id")


DOC_FINGERPRINT_SQL = f"""
WITH pt AS (
  SELECT doc_id,
         unnest(string_split(lower(text), ' ')) AS term,
         unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS pos
  FROM documents
),
wi AS (SELECT doc_id, pos, {T.sql_term_hash('term')} AS tid FROM pt),
seqs AS (SELECT doc_id, list(tid ORDER BY pos) AS ids FROM wi GROUP BY doc_id)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), ids),
                   (acc, v) -> (acc * 131 + v) % {HASH_P}) AS fingerprint
FROM seqs ORDER BY doc_id
"""


# --- ann_ivf: IVF-style cell-probed top-k ------------------------------------
ANN_K = 3
ANN_N_QUERIES = 5


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for Q25: probe only the query's cell (label) — the
    candidate set is bounded by cell size, independent of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        "label",
    )
    out = S.cosine_topk_ivf(emb, queries, k=ANN_K, cell_col="label")
    return out.select(
        "q_vec_id", F.col("rank").cast("bigint").alias("rk"), "vec_id", "cos_sim"
    ).transform(total_order, "q_vec_id", "rk")


ANN_IVF_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_vec_id, embedding AS qe, label
  FROM embeddings WHERE vec_id < {ANN_N_QUERIES}
),
pairs AS (
  SELECT q.q_vec_id, e.vec_id,
         {sql_cosine_similarity('q.qe', 'e.embedding')} AS cos
  FROM embeddings e JOIN q ON e.label = q.label AND e.vec_id != q.q_vec_id
)
SELECT q_vec_id,
       CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
       vec_id, (floor((cos) * 10000.0 + 0.5) / 10000.0) AS cos_sim
FROM pairs
QUALIFY rk <= {ANN_K}
ORDER BY q_vec_id, rk
"""


# --- cosine_neardup: embedding near-dup pairs --------------------------------
def cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-pair zip_with folds (|cell|^2 x dim) run before
    # any shuffle, so an under-partitioned scan would serialize them on
    # one core (measured 3x on this query; spread is a measured LOSS on
    # cheap-per-row queries, so it is applied per-site, not blanket).
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return S.cosine_near_pairs(
        emb, COSINE_NEARDUP_THRESHOLD, cell_col="label"
    ).transform(total_order, "vec_id", "vec_id2")


COSINE_NEARDUP_SQL = f"""
WITH p AS (
  SELECT a.vec_id, b.vec_id AS vec_id2,
         {sql_cosine_similarity('a.embedding', 'b.embedding')} AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_id, vec_id2, (floor((cos) * 10000.0 + 0.5) / 10000.0) AS cos_sim
FROM p WHERE cos >= {COSINE_NEARDUP_THRESHOLD}
ORDER BY vec_id, vec_id2
"""


# --- ann_lsh: random-hyperplane LSH-bucketed top-k ----------------------------
# The label-free scale path: when no cluster assignment exists (ann_ivf
# needs one), sign-bit buckets from fixed pseudo-random hyperplanes give
# the same equi-join probe shape. Single-probe here; multi-probe = union
# of bit-flipped buckets.
ANN_LSH_PLANES = S.lsh_hyperplanes(n=4, dim=64)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn(
        "bucket", S.lsh_bucket_col("embedding", ANN_LSH_PLANES)
    )
    queries = bucketed.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("bucket").alias("label"),
    )
    out = S.cosine_topk_ivf(
        bucketed.withColumnRenamed("bucket", "lsh_cell"),
        queries.withColumnRenamed("label", "lsh_cell"),
        k=ANN_K,
        cell_col="lsh_cell",
    )
    return out.select(
        "q_vec_id", F.col("rank").cast("bigint").alias("rk"), "vec_id", "cos_sim"
    ).transform(total_order, "q_vec_id", "rk")


# Multi-probe masks: the query's own bucket plus every Hamming-1
# bit-flip neighbor. The nearest buckets to a query are exactly those
# whose sign differs on ONE hyperplane (the vector sits close to that
# plane), so Hamming<=1 probing is the standard LSH recall buy-back.
# The radius is the production dial (S.lsh_probe_masks; radius ==
# n_planes degenerates to exact brute force — equivalence pinned in
# test_lsh_full_radius_probe_is_exact).
ANN_LSH_FLIP_MASKS = S.lsh_probe_masks(len(ANN_LSH_PLANES), radius=1)


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_lsh's recall lever: probe the 5 Hamming<=1 sign buckets per
    query instead of 1. The r10 recall audit (tools/ann_recall.py)
    measured single-probe ann_lsh at recall@3 = 0.1333 at sf0.1 — the
    4-plane/16-bucket single-probe shape finds almost nothing;
    Hamming<=1 multi-probe re-measures at 0.3333 (2.5x) for ~5x the
    candidates (still bucket-bounded, corpus-size-independent; more
    planes + more flips is the production dial). Candidates from
    all probed buckets compete in one ranked window; the helper
    dedups (a corpus vector reachable through two probes must count
    once)."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn(
        "lsh_cell", S.lsh_bucket_col("embedding", ANN_LSH_PLANES)
    )
    probes = F.array(
        *[F.col("lsh_cell").bitwiseXOR(F.lit(m)) for m in ANN_LSH_FLIP_MASKS]
    )
    queries = bucketed.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        probes.alias("probe_cells"),
    )
    out = S.cosine_topk_multiprobe(
        bucketed, queries, k=ANN_K, cell_col="lsh_cell"
    )
    return out.select(
        "q_vec_id", F.col("rank").cast("bigint").alias("rk"), "vec_id", "cos_sim"
    ).transform(total_order, "q_vec_id", "rk")


def _ann_lsh_multiprobe_sql() -> str:
    bucket = S.sql_lsh_bucket("embedding", ANN_LSH_PLANES)
    probe_list = ", ".join(
        "q.bucket" if m == 0 else f"xor(q.bucket, {m})"
        for m in ANN_LSH_FLIP_MASKS
    )
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
q AS (SELECT vec_id AS q_vec_id, embedding AS qe, bucket FROM b WHERE vec_id < {ANN_N_QUERIES}),
pairs AS (
  SELECT q.q_vec_id, e.vec_id,
         {sql_cosine_similarity('q.qe', 'e.embedding')} AS cos
  FROM b e JOIN q ON e.vec_id != q.q_vec_id
   AND e.bucket IN ({probe_list})
)
SELECT q_vec_id,
       CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
       vec_id, (floor((cos) * 10000.0 + 0.5) / 10000.0) AS cos_sim
FROM pairs
QUALIFY rk <= {ANN_K}
ORDER BY q_vec_id, rk
"""


ANN_LSH_MULTIPROBE_SQL = _ann_lsh_multiprobe_sql()


def _ann_lsh_sql() -> str:
    bucket = S.sql_lsh_bucket("embedding", ANN_LSH_PLANES)
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
q AS (SELECT vec_id AS q_vec_id, embedding AS qe, bucket FROM b WHERE vec_id < {ANN_N_QUERIES}),
pairs AS (
  SELECT q.q_vec_id, e.vec_id,
         {sql_cosine_similarity('q.qe', 'e.embedding')} AS cos
  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id != q.q_vec_id
)
SELECT q_vec_id,
       CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
       vec_id, (floor((cos) * 10000.0 + 0.5) / 10000.0) AS cos_sim
FROM pairs
QUALIFY rk <= {ANN_K}
ORDER BY q_vec_id, rk
"""


# --- dedup_clusters: connected components over the near-dup graph -------------
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor-selection step of a dedup pipeline: connected
    components over the exact shingle-Jaccard pair graph (q26), cluster
    id = min doc_id (the canonical keeper). The CC operator picks its
    physical strategy by edge count (operators.dedup
    .connected_components): driver union-find under the bound, else
    iterative min-label propagation — the one genuinely iterative
    declared operator; the oracle is a recursive CTE computing the same
    closure either way."""
    pairs = _q26_pairs(spark, sf_dir).select("doc_id", "doc_id2")
    cc = D.connected_components(pairs)
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("doc_id").alias("member_checksum"),
        )
        .transform(total_order, "cluster_id")
    )


# Shared recursive-CTE closure over the near-dup pair graph
# (dedup_clusters, dedup_corpus, corpus_release): cluster_id = min
# label reachable from each doc.
_CC_CTES = f"""p AS (SELECT doc_id AS src, doc_id2 AS dst FROM ({Q26_SQL})),
edges AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
r AS (
  SELECT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label FROM r JOIN edges e ON e.src = r.doc_id
),
cc AS (SELECT doc_id, MIN(label) AS cluster_id FROM r GROUP BY doc_id)"""

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_CC_CTES}
SELECT cluster_id, COUNT(*) AS n_members,
       CAST(SUM(doc_id) AS BIGINT) AS member_checksum
FROM cc GROUP BY cluster_id ORDER BY cluster_id
"""


# --- dedup_corpus: the deduplicated corpus itself -----------------------------
def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end output a dedup pipeline exists for: the corpus
    with non-canonical near-duplicates REMOVED. A doc is dropped iff its
    connected-component label is a different (smaller) doc_id; every
    unclustered doc survives untouched. One summary row per source:
    docs in, docs kept, docs dropped, kept-id checksum — the audit
    numbers a corpus release records next to the filtered data. Scale
    shape: CC labels are |clustered docs| rows; the drop set anti-joins
    against the full corpus with NO forced broadcast — at a web-corpus
    dup rate (30-80%) the drop set is corpus-scale and a broadcast hint
    would OOM the executors. AQE broadcasts it at runtime when it
    measures small; the shuffle anti-join is the safe default."""
    pairs = _q26_pairs(spark, sf_dir).select("doc_id", "doc_id2")
    labels = D.connected_components(pairs)
    dropped = labels.filter(F.col("cluster_id") != F.col("doc_id")).select(
        "doc_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    kept = docs.join(dropped, "doc_id", "left_anti")
    n_in = docs.groupBy("source").agg(F.count("*").alias("docs_in"))
    # n_in is the base of the audit join (LEFT, zeros coalesced): a
    # source whose every doc was dropped must still report its
    # docs_in/docs_dropped row — an inner join from kept would
    # silently erase exactly the source the drop audit exists to
    # surface (the no-silent-zero-counts rule source_mix follows).
    return (
        n_in.join(
            kept.groupBy("source").agg(
                F.count("*").alias("docs_kept"),
                F.sum("doc_id").alias("kept_checksum"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "docs_in",
            F.coalesce(F.col("docs_kept"), F.lit(0)).alias("docs_kept"),
            (
                F.col("docs_in")
                - F.coalesce(F.col("docs_kept"), F.lit(0))
            ).alias("docs_dropped"),
            F.coalesce(F.col("kept_checksum").cast("bigint"), F.lit(0)).alias(
                "kept_checksum"
            ),
        )
        .transform(total_order, "source")
    )


DEDUP_CORPUS_SQL = f"""
WITH RECURSIVE {_CC_CTES},
dropped AS (SELECT doc_id FROM cc WHERE cluster_id != doc_id),
kept AS (
  SELECT d.source, d.doc_id FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
),
ka AS (
  SELECT source, COUNT(*) AS docs_kept,
         CAST(SUM(doc_id) AS BIGINT) AS kept_checksum
  FROM kept GROUP BY source
),
di AS (SELECT source, COUNT(*) AS docs_in FROM documents GROUP BY source)
SELECT di.source, di.docs_in,
       COALESCE(ka.docs_kept, 0) AS docs_kept,
       di.docs_in - COALESCE(ka.docs_kept, 0) AS docs_dropped,
       COALESCE(ka.kept_checksum, 0) AS kept_checksum
FROM di LEFT JOIN ka USING (source) ORDER BY di.source
"""


# --- sample_hash: deterministic hash split (train/test) -----------------------
# Universal integer hash on the stable doc key: reproducible across runs,
# engines, and cluster sizes (stateless per-row math — no shuffle until the
# final audit agg, no RNG). The 100 TB path is the same expression; only
# the audit aggregation shuffles, on (source, split).
SAMPLE_A = 1_103_515_245
SAMPLE_B = 12_345
SAMPLE_BUCKETS = 1_000
SAMPLE_TEST_BUCKETS = 100  # 10% eval holdout


def ubucket_col(a: int, b: int, buckets: int) -> "F.Column":
    """THE universal-hash bucket, (doc_id*a + b) mod HASH_P mod
    buckets, computed as ((doc_id mod HASH_P)*a + b) mod HASH_P — the
    same value for every doc_id by modular identity, but the
    intermediate product stays under 2^62 for ANY int64 id, where the
    naive form overflows int64 once doc_id exceeds ~8.4e9 (Spark with
    ANSI off would wrap silently to a garbage bucket while the DuckDB
    twin raises an overflow error — divergent membership AND a
    crashing oracle at the id scale 100 TB implies). Shared by
    split_col, mix_keep_cond and stratified_sample; sql_ubucket is
    the character-identical oracle twin."""
    d = F.col("doc_id").cast("long") % F.lit(HASH_P)
    return (d * F.lit(a) + F.lit(b)) % F.lit(HASH_P) % F.lit(buckets)


def sql_ubucket(a: int, b: int, buckets: int, col: str = "doc_id") -> str:
    """DuckDB twin of ubucket_col — identical arithmetic sequence."""
    return f"(({col} % {HASH_P}) * {a} + {b}) % {HASH_P} % {buckets}"


def split_col() -> "F.Column":
    """The train/test hash-split verdict for the current row's doc_id —
    THE split rule, shared by sample_hash and release_members so the
    composed release and the standalone splitter can never diverge."""
    bucket = ubucket_col(SAMPLE_A, SAMPLE_B, SAMPLE_BUCKETS)
    return F.when(bucket < SAMPLE_TEST_BUCKETS, "test").otherwise("train")


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", split_col().alias("split"), "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .transform(total_order, "source", "split")
    )


SAMPLE_HASH_SQL = f"""
SELECT source,
       CASE WHEN {sql_ubucket(SAMPLE_A, SAMPLE_B, SAMPLE_BUCKETS)}
                 < {SAMPLE_TEST_BUCKETS}
            THEN 'test' ELSE 'train' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
GROUP BY 1, 2
ORDER BY source, split
"""


# --- tfidf_topterms: TF-IDF term relevance ------------------------------------
TFIDF_N_DOCS = 20
TFIDF_K = 3


def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most distinctive terms per document by TF-IDF. The
    contract form uses the exact rational idf (tf * N / df — one double
    division with an exact integer numerator, bit-identical across
    engines); a deployment swaps in log-idf, which only rescales the
    ranking monotonically for fixed tf. Corpus stats (df, N) come from
    the FULL corpus; only the reported documents are filtered. Scale
    shape: df's per-doc DISTINCT happens INSIDE the token array
    (array_distinct, map-side) so the only corpus-wide shuffle is the
    vocabulary-sized term partials — never the exploded (doc_id, term)
    pairs (measured −30% at sf0.1 vs aggregating tf corpus-wide first;
    at 100 TB the difference is a corpus-scale shuffle vs a
    vocab-scale one); tf aggregates only the REPORTED docs (the
    doc_id filter sits below the tokenize); top-k = ranked window per
    doc. Broadcast DIRECTION matters at scale: the tf side is bounded
    by the doc_id < TFIDF_N_DOCS filter (a handful of docs' terms),
    while the df side is the FULL VOCABULARY — 1e8-1e9 terms at
    web scale, unbroadcastable — so tf broadcasts onto the streamed
    df branch, never the reverse."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        T.doc_tokens(docs.filter(F.col("doc_id") < TFIDF_N_DOCS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = (
        T.doc_tokens(docs, distinct=True)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    # n_docs rides the TINY tf side (bounded by the doc_id filter)
    # before the broadcast, so the streamed vocabulary branch sees ONE
    # BroadcastHashJoin instead of hash-join + nested-loop-join — at
    # corpus scale the full-vocab df side pays one broadcast probe per
    # term, not two (r20; §2.4/§3 of the optimization guide). The n
    # subtree itself is planned once either way, and its scan reads
    # ZERO columns (count-only), so it is not a third full text pass.
    scored = (
        df_t.join(F.broadcast(tf.crossJoin(n)), "term")
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("df").cast("double")
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_K)
        .select(
            "doc_id",
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            det_round(F.col("score"), 4).alias("tfidf"),
        )
        .transform(total_order, "doc_id", "rk")
    )


TFIDF_SQL = f"""
WITH tok AS ({SQL_TOK}),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
df_t AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df_t.df AS DOUBLE) AS score
  FROM tf JOIN df_t USING (term) CROSS JOIN n
  WHERE tf.doc_id < {TFIDF_N_DOCS}
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk,
       term, {sql_det_round('score', 4)} AS tfidf
FROM scored
QUALIFY rk <= {TFIDF_K}
ORDER BY doc_id, rk
"""


# --- stratified_sample: per-stratum deterministic sampling --------------------
# Different keep-rates per language stratum (the "rebalance the corpus
# mix" operation of a training pipeline), same universal-hash bucketing
# as sample_hash so membership is stateless and reproducible at any
# scale / row order.
# The five corpus languages get explicit peer rates (the fixture's
# lang set is {de,en,es,fr,zh} — an entry for a language the corpus
# doesn't carry would be dead weight masking an omission, which is
# exactly what the earlier 'it' entry did while zh silently fell to
# the long-tail default).
STRATA_BUCKETS = {"en": 500, "de": 250, "fr": 250, "es": 125, "zh": 125}
STRATA_DEFAULT_BUCKETS = 50  # long-tail languages: 5%


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = ubucket_col(SAMPLE_A, SAMPLE_B, SAMPLE_BUCKETS)
    keep_buckets = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(b))
            for lang, b in STRATA_BUCKETS.items()
        ],
        F.lit(STRATA_DEFAULT_BUCKETS),
    )
    kept = docs.filter(bucket < keep_buckets)
    pop = docs.groupBy("lang").agg(F.count("*").alias("n_pop"))
    samp = kept.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.sum("doc_id").alias("id_checksum"),
    )
    return (
        pop.join(samp, "lang", "left")
        .select(
            "lang",
            "n_pop",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("id_checksum", F.lit(0)).alias("id_checksum"),
        )
        .transform(total_order, "lang")
    )


def _strata_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {b}" for lang, b in STRATA_BUCKETS.items()
    )
    return f"CASE {whens} ELSE {STRATA_DEFAULT_BUCKETS} END"


STRATIFIED_SAMPLE_SQL = f"""
WITH kept AS (
  SELECT lang, doc_id FROM documents
  WHERE {sql_ubucket(SAMPLE_A, SAMPLE_B, SAMPLE_BUCKETS)}
        < {_strata_case()}
),
pop AS (SELECT lang, COUNT(*) AS n_pop FROM documents GROUP BY lang),
samp AS (
  SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
  FROM kept GROUP BY lang
)
SELECT pop.lang, pop.n_pop,
       coalesce(samp.n_sampled, 0) AS n_sampled,
       coalesce(samp.id_checksum, 0) AS id_checksum
FROM pop LEFT JOIN samp USING (lang)
ORDER BY lang
"""


# --- quantize_embeddings: int8 symmetric quantization -------------------------
def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the 4x storage/IO
    compression a 100 TB vector corpus ships with (float32 -> int8 +
    one float scale per vector). scale = 127/max|x|; q_i =
    floor(x_i*scale + 0.5). All JVM-side folds; the per-row scale is
    bound once via the single-element-array lambda trick (Catalyst does
    not CSE into lambda bodies — binding prevents re-evaluating the
    max|x| fold per element). Output: per label, the quantized-value
    checksum (exact integer) and the mean squared reconstruction error
    (exact scaled-long mean)."""
    emb = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding")
    absmax = F.aggregate(
        F.transform(arr, lambda v: F.abs(v.cast("double"))),
        F.lit(0.0),
        lambda a, v: F.greatest(a, v),
    )
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))

    def _per_row(s):
        qsum = F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda a, v: a
            + F.floor(v.cast("double") * s + F.lit(0.5)).cast("long"),
        )
        def _err(v):
            d = v.cast("double") - F.floor(v.cast("double") * s + F.lit(0.5)) / s
            return d * d
        sse = F.when(
            s > 0,
            F.aggregate(arr, F.lit(0.0), lambda a, v: a + _err(v)),
        ).otherwise(F.lit(0.0))
        return F.struct(qsum.alias("qsum"), sse.alias("sse"))

    per_row = F.element_at(F.transform(F.array(scale), _per_row), 1)
    rows = emb.select(
        "label",
        per_row.getField("qsum").alias("qsum"),
        per_row.getField("sse").alias("sse"),
    )
    return (
        rows.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("qsum").alias("q_checksum"),
            det_round(
                dec_sum(F.col("sse"), scale=8) / F.count("*"), 6
            ).alias("mean_sse"),
        )
        .transform(total_order, "label")
    )


_QE_Q = "CAST(floor(CAST(v AS DOUBLE) * s + 0.5) AS BIGINT)"
_QE_D = "(CAST(v AS DOUBLE) - floor(CAST(v AS DOUBLE) * s + 0.5) / s)"

QUANTIZE_SQL = f"""
WITH sc AS (
  SELECT label, embedding,
         CASE WHEN am > 0 THEN 127.0 / am ELSE 0.0 END AS s
  FROM (
    SELECT label, embedding,
           list_reduce(list_prepend(0.0, list_transform(embedding,
             v -> abs(CAST(v AS DOUBLE)))), (a, v) -> greatest(a, v)) AS am
    FROM embeddings
  )
),
q AS (
  SELECT label,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(embedding,
           v -> {_QE_Q})), (a, v) -> a + v) AS qsum,
         CASE WHEN s = 0 THEN 0.0
              ELSE list_reduce(list_prepend(0.0, list_transform(embedding,
                v -> {_QE_D} * {_QE_D})), (a, v) -> a + v)
         END AS sse
  FROM sc
)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(qsum) AS BIGINT) AS q_checksum,
       {sql_det_round(sql_dec_sum('sse', scale=8) + ' / COUNT(*)', 6)} AS mean_sse
FROM q GROUP BY label ORDER BY label
"""


# --- text_normalize: cleaning pass (URL scrub + whitespace collapse) ----------
URL_RE = r"https?://\S+"
WS_RE = r"\s+"


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pre-tokenization cleaning pass: lowercase, URL
    scrub, whitespace collapse, trim — all JVM regex expressions (Java
    and RE2 agree on these patterns), verified cross-engine by an md5 of
    every normalized document. Stateless per-row → embarrassingly
    parallel at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), URL_RE, " "), WS_RE, " "
        )
    )
    return (
        docs.select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars_raw"),
            F.length(norm).cast("bigint").alias("n_chars_norm"),
            F.regexp_count(F.col("text"), F.lit(URL_RE)).cast("bigint").alias("n_urls"),
            F.md5(F.encode(norm, "UTF-8")).alias("norm_md5"),
        )
        .transform(total_order, "doc_id")
    )


TEXT_NORMALIZE_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '{URL_RE}', ' ', 'g'), '{WS_RE}', ' ', 'g'))) AS BIGINT) AS n_chars_norm,
       CAST(len(regexp_extract_all(text, '{URL_RE}')) AS BIGINT) AS n_urls,
       md5(trim(regexp_replace(regexp_replace(lower(text), '{URL_RE}', ' ', 'g'), '{WS_RE}', ' ', 'g'))) AS norm_md5
FROM documents ORDER BY doc_id
"""


# --- contamination: cross-corpus n-gram overlap --------------------------------
# Benchmark-contamination check: training docs sharing >= K distinct
# shingles with any doc of the held-out corpus (source 'src0' plays the
# benchmark). Same inverted-index shape as q26, but a two-corpus join —
# candidates only materialize on shared shingles, never a cross join.
CONTAM_BENCH_SOURCE = "src0"
CONTAM_MIN_SHARED = 3


def contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: shingle construction (k concat_ws per token position) is
    # the heavy pre-shuffle compute here; measured win (see
    # cosine_neardup note on why spread is per-site).
    docs = spread(load_table(spark, sf_dir, "documents"))
    # Join on raw shingle strings (same reasoning as _q26_pairs: the
    # dense-id dictionary costs two extra shuffles; the 100 TB 8-byte
    # key is map-side xxhash64). The tiny (doc_id, source) side is
    # broadcast onto the exploded shingles. The shingle universe is
    # df-capped (SHINGLE_DF_CAP) exactly like the q26 family — a
    # benchmark-boilerplate shingle would otherwise multiply the
    # train×bench join quadratically. No persist: both corpus branches
    # reuse capped_shingles' (lang, term) exchange (its docstring), and
    # the broadcast attach is map-side, so re-running it per branch is
    # cheaper than pinning the exploded corpus in memory.
    raw = T.doc_shingles(docs)
    sh = capped_shingles(raw)
    ids = sh.join(F.broadcast(docs.select("doc_id", "source")), "doc_id").select(
        "doc_id", "lang", "term", "source"
    )
    bench = ids.filter(F.col("source") == CONTAM_BENCH_SOURCE).select(
        "lang", "term", F.col("doc_id").alias("bench_doc")
    )
    train = ids.filter(F.col("source") != CONTAM_BENCH_SOURCE).select(
        "lang", "term", F.col("doc_id").alias("train_doc")
    )
    counts = (
        train.join(bench, ["lang", "term"])
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= CONTAM_MIN_SHARED)
    )
    w = W.partitionBy("train_doc").orderBy(
        F.col("shared").desc(), F.col("bench_doc")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("train_doc").alias("doc_id"),
            F.col("bench_doc"),
            F.col("shared"),
        )
        .transform(total_order, "doc_id")
    )


CONTAMINATION_SQL = f"""
WITH sh AS ({SQL_SH}),
shk AS ({SQL_SH_CAPPED}),
ids AS (SELECT s.doc_id, s.lang, s.term, d.source
        FROM shk s JOIN documents d USING (doc_id)),
counts AS (
  SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc, COUNT(*) AS shared
  FROM ids t JOIN ids b ON t.term = b.term AND t.lang = b.lang
  WHERE t.source != '{CONTAM_BENCH_SOURCE}' AND b.source = '{CONTAM_BENCH_SOURCE}'
  GROUP BY 1, 2
  HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
)
SELECT train_doc AS doc_id, bench_doc, shared
FROM (SELECT *, row_number() OVER (PARTITION BY train_doc
                                   ORDER BY shared DESC, bench_doc) AS rk
      FROM counts)
WHERE rk = 1
ORDER BY doc_id
"""


# --- multimodal_bytes: opaque binary payload + mapInPandas features -----------
def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + Arrow-batched byte feature extraction —
    the multimodal plumbing proof (schema, batching, partition
    parallelism) with a deterministic extractor. The corpus is ASCII, so
    byte features match the oracle's character functions exactly."""
    docs = load_table(spark, sf_dir, "documents")
    payload = M.with_binary_payload(docs)
    return M.byte_features(payload).transform(total_order, "doc_id")


MULTIMODAL_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(ord(substr(text, 1, 1)) AS BIGINT) AS first_byte,
       CAST(ord(substr(text, length(text), 1)) AS BIGINT) AS last_byte,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space
FROM documents ORDER BY doc_id
"""


# --- grouped_agg_udf: the pandas_udf GROUPED-AGG surface ----------------------
def grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the Python-UDF surface matrix: pandas_udf as a grouped
    AGGREGATE (q28 = scalar, grouped_zscore = grouped-map applyInPandas,
    multimodal_bytes = mapInPandas, streaming.stateful =
    applyInPandasWithState). The UDAF receives each group's column as
    one Arrow-backed pandas Series and returns one scalar; integer
    accumulation (scaled-long sum) makes the result independent of row
    order within the group — the same property the JVM-side dec_sum
    relies on, proven here across the Python boundary."""
    import numpy as np

    @pandas_udf("double")
    def scaled_mean(x: pd.Series) -> float:
        v = x.to_numpy(dtype="float64")
        s = int(np.floor(v * 1e6 + 0.5).astype(np.int64).sum())
        return (float(s) / 1e6) / len(v)

    # Spark forbids mixing grouped-agg pandas UDFs with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the group count is
    # a pandas UDAF too.
    @pandas_udf("long")
    def group_count(x: pd.Series) -> int:
        return len(x)

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.element_at("embedding", 2).cast("double").alias("x")
    )
    return (
        x.groupBy("label")
        .agg(
            group_count(F.col("x")).alias("n"),
            det_round(scaled_mean(F.col("x")), 4).alias("scaled_mean_x"),
        )
        .transform(total_order, "label")
    )


GROUPED_AGG_UDF_SQL = f"""
SELECT label, COUNT(*) AS n,
       {sql_det_round(
           "((CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
           " / 1000000.0) / COUNT(*))", 4)} AS scaled_mean_x
FROM (SELECT label, CAST(embedding[2] AS DOUBLE) AS x FROM embeddings)
GROUP BY label ORDER BY label
"""


# --- ann_sq8: quantized-scan + exact-rescore top-k ----------------------------
ANN_SQ8_K = 3
ANN_SQ8_OVERFETCH = 10
ANN_SQ8_N_QUERIES = 5

# Symmetric int8 dequantized corpus vector (same math as
# quantize_embeddings): s = 127/max|x|, dq_i = floor(x_i*s + 0.5)/s.
# The absmax fold binds as a lambda variable via the 1-element-array
# trick (Catalyst does not CSE into lambda bodies), and the whole
# expression is one JVM-parsed SQL string (py4j build cost).
_SQ8_DQ = (
    "element_at(transform(array("
    "aggregate(transform(embedding, v -> abs(CAST(v AS DOUBLE))), 0.0D, "
    "(a, v) -> greatest(a, v))"
    "), am -> IF(am > 0.0D, "
    "transform(embedding, v -> floor(CAST(v AS DOUBLE) * (127.0D / am) + 0.5D)"
    " / (127.0D / am)), "
    "transform(embedding, v -> 0.0D))), 1)"
)


def ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 vector-index pattern: scan the int8-DEQUANTIZED corpus
    for cheap approximate cosine, overfetch candidates, then rescore
    only those against the exact float vectors. At 100 TB the
    quantized copy is what lives hot (4x smaller scan, here: the dq
    column); exact vectors are touched for |queries| x overfetch rows
    only. Output keeps both scores so the audit (approx vs exact) is
    visible per neighbor. Deterministic end to end: quantization is
    integer math, both cosines follow the shared fold conventions, and
    both rank cuts tie-break on vec_id."""
    from etl_wikipedia_updates_spark.functions.arrays import (
        dot_product,
        l2_norm,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    base = emb.select(
        "vec_id", "embedding", F.expr(_SQ8_DQ).alias("dq")
    ).withColumn("dqn", l2_norm(F.col("dq")))
    # Query side reads the UNSPREAD table: it keeps |queries| rows, so
    # the spread repartition would add an exchange+stage just to
    # scatter 5 rows before the broadcast collects them again (A/B:
    # measured neutral-to-slightly-better without it; dropping the
    # BASE side's spread instead measured ~0.15s WORSE — the dq fold
    # is the heavy pre-shuffle compute spread exists for).
    q = F.broadcast(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < ANN_SQ8_N_QUERIES)
        .select(
            F.col("vec_id").alias("q_vec_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("qe"),
        )
        .withColumn("qn", l2_norm(F.col("qe")))
    )
    cand = base.crossJoin(q).filter(F.col("vec_id") != F.col("q_vec_id"))
    approx = dot_product(F.col("qe"), F.col("dq")) / (
        F.col("qn") * F.col("dqn")
    )
    wa = W.partitionBy("q_vec_id").orderBy(
        F.col("approx").desc(), F.col("vec_id")
    )
    cut = (
        cand.select("q_vec_id", "vec_id", "embedding", "qe", "qn", approx.alias("approx"))
        .withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= ANN_SQ8_OVERFETCH)
    )
    ed = F.transform("embedding", lambda x: x.cast("double"))
    exact = dot_product(F.col("qe"), ed) / (F.col("qn") * l2_norm(ed))
    wr = W.partitionBy("q_vec_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cut.select("q_vec_id", "vec_id", "approx", exact.alias("cos"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= ANN_SQ8_K)
        .select(
            "q_vec_id",
            F.col("rk").cast("bigint").alias("rk"),
            "vec_id",
            det_round(F.col("approx"), 4).alias("approx_sim"),
            det_round(F.col("cos"), 4).alias("cos_sim"),
        )
        .transform(total_order, "q_vec_id", "rk")
    )


def _ann_sq8_sql() -> str:
    from etl_wikipedia_updates_spark.functions.arrays import (
        sql_dot_product,
        sql_l2_norm,
    )

    approx = (
        f"({sql_dot_product('q.qe', 'e.dq')} / "
        f"({sql_l2_norm('q.qe')} * {sql_l2_norm('e.dq')}))"
    )
    exact = (
        f"({sql_dot_product('qe', 'embedding')} / "
        f"({sql_l2_norm('qe')} * {sql_l2_norm('embedding')}))"
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         list_reduce(list_prepend(0.0, list_transform(embedding,
           v -> abs(CAST(v AS DOUBLE)))), (a, v) -> greatest(a, v)) AS am
  FROM embeddings
),
bq AS (
  SELECT vec_id, embedding,
         CASE WHEN am > 0.0 THEN list_transform(embedding,
                v -> floor(CAST(v AS DOUBLE) * (127.0 / am) + 0.5) / (127.0 / am))
              ELSE list_transform(embedding, v -> 0.0) END AS dq
  FROM b
),
q AS (SELECT vec_id AS q_vec_id, embedding AS qe FROM embeddings
      WHERE vec_id < {ANN_SQ8_N_QUERIES}),
cand AS (
  SELECT q.q_vec_id, e.vec_id, e.embedding, q.qe, {approx} AS approx
  FROM bq e CROSS JOIN q WHERE e.vec_id != q.q_vec_id
),
cut AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_vec_id
                                 ORDER BY approx DESC, vec_id) AS arn
    FROM cand) WHERE arn <= {ANN_SQ8_OVERFETCH}
)
SELECT q_vec_id,
       CAST(row_number() OVER (PARTITION BY q_vec_id
                               ORDER BY {exact} DESC, vec_id) AS BIGINT) AS rk,
       vec_id,
       {sql_det_round('approx', 4)} AS approx_sim,
       {sql_det_round(exact, 4)} AS cos_sim
FROM cut
QUALIFY rk <= {ANN_SQ8_K}
ORDER BY q_vec_id, rk
"""


ANN_SQ8_SQL = _ann_sq8_sql()


# --- lang_id_chargram: language-ID over character trigrams --------------------
CHARGRAM_PROFILE_N = 40

# Lowered text is bound as a lambda variable (transform over a 1-element
# array) so it is evaluated once per row — referencing lower(text) from
# inside the per-position lambda would re-evaluate it per trigram
# (operators.text.shingles_col documents the same Catalyst behavior).
_CHARGRAM_EXPR = (
    "CASE WHEN length(text) >= 3 THEN "
    "element_at(transform(array(lower(text)), s -> "
    "transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))), 1) "
    "ELSE array() END"
)


def _fit_chargram_profiles(docs: DataFrame, n: int) -> dict[str, list[str]]:
    """Fit the per-language top-n trigram model eagerly: one count job
    over the per-character explode (the shared fit_term_profiles
    contract, with trigrams as the term representation)."""
    return T.fit_term_profiles(
        docs.select("lang", F.explode(F.expr(_CHARGRAM_EXPR)).alias("term")), n
    )


def lang_id_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by CHARACTER-trigram profile overlap — the classic
    n-gram heuristic (token-free, so it works on unsegmented scripts),
    beside the token-profile variant (lang_id). Model = top-N trigrams
    per language; same eager fit-then-score shape as lang_id: the
    model is fitted in one count job (memoized) and inlined as
    literals, scoring is a map-side projection over each doc's
    distinct-trigram array (the old plan re-ran the per-character
    explode for the per-doc stage and shuffled the overlap frame on
    doc_id twice: groupBy + window), and the only shuffle left is the
    tiny confusion-matrix aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    profiles = _memo_model(
        spark,
        sf_dir,
        f"chargram_profiles_{CHARGRAM_PROFILE_N}",
        lambda: _fit_chargram_profiles(spread(docs), CHARGRAM_PROFILE_N),
    )
    pred = T.predict_language(
        # spread for the scorer too: ~n_chars substrings per row is the
        # heaviest per-row projection in the suite (measured win).
        spread(docs),
        profiles,
        terms_expr=f"array_distinct({_CHARGRAM_EXPR})",
    )
    return (
        pred.groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
        .transform(total_order, "lang", "predicted_lang")
    )


LANG_ID_CHARGRAM_SQL = f"""
WITH cg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, greatest(len(lower(text)) - 1, 1)),
                               i -> substr(lower(text), i, 3))) AS term
  FROM documents
),
counts AS (SELECT lang, term, COUNT(*) AS cnt FROM cg
           WHERE lang IS NOT NULL GROUP BY lang, term),
prof AS (
  SELECT lang AS cand_lang, term
  FROM (SELECT lang, term,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
        FROM counts)
  WHERE rk <= {CHARGRAM_PROFILE_N}
),
ov AS (
  SELECT d.doc_id, p.cand_lang, COUNT(*) AS n_overlap
  FROM (SELECT DISTINCT doc_id, term FROM cg) d
  JOIN prof p USING (term)
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, cand_lang
  FROM (SELECT doc_id, cand_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_overlap DESC, cand_lang) AS rk
        FROM ov)
  WHERE rk = 1
)
SELECT d.lang, COALESCE(b.cand_lang, 'unknown') AS predicted_lang, COUNT(*) AS n
FROM documents d LEFT JOIN best b USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- corpus_stats: the per-(source, lang) dataset card -----------------------
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus profile: doc count, char/token totals,
    char-length extremes, mean tokens/doc — the dataset-card numbers a
    corpus release ships with. One scan, one small-key shuffle; the
    token count is size(split(...)), computed map-side without an
    explode. text IS NOT NULL on both engines — the size(NULL) = -1
    parity guard (identical on non-null corpora)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(T.tokens_col()).alias("n_tokens"),
    )
    return (
        per.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            det_round(
                F.sum(F.col("n_tokens").cast("long")).cast("double")
                / F.count("*"),
                3,
            ).alias("avg_tokens"),
        )
        .transform(total_order, "source", "lang")
    )


CORPUS_STATS_SQL = f"""
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       {sql_det_round("CAST(SUM(len(string_split(lower(text), ' '))) AS DOUBLE) / COUNT(*)", 3)} AS avg_tokens
FROM documents WHERE text IS NOT NULL
GROUP BY source, lang ORDER BY source, lang
"""


# --- bm25_rank: query-term document ranking -----------------------------------
BM25_TERMS = ("hash", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_K1P1 = BM25_K1 + 1.0
BM25_1MB = 1.0 - BM25_B
BM25_TOPK = 10
BM25_SCALE = 6


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents for a fixed query-term set under BM25 with the
    exact *rational* idf, (N - df + 0.5) / (df + 0.5) — log-free so
    every arithmetic step is plain IEEE doubles shared with the oracle
    (same reasoning as tfidf_topterms; log-idf is a monotone rescale a
    deployment can swap in). Per-term contributions round to scaled
    longs before summing, so the per-doc score is an exact integer —
    ranking ties cannot flip across engines.

    Scale shape — ONE corpus scan, ONE narrow shuffle. The query-term
    set is a small fixed list, so everything per-doc happens inside
    the token ARRAY on the map side: dl = size(tokens) (no explode),
    per-term tf = size(filter(tokens, = term)). The corpus stats
    (total length, N, per-term df) and the per-doc scoring rows both
    derive from that SAME (doc_id, dl, tf_*) projection, shared
    through one explicit repartition exchange (~40 bytes/doc — r18;
    previously each branch scanned and tokenized the corpus
    separately, 2x the dominant cost) with stats broadcast back as a
    single row. The old explode -> groupBy(doc_id) / groupBy(doc_id,
    term) forms shuffled corpus-scale TOKEN rows for what a per-row
    array expression computes in place; only docs matching >= 1 query
    term reach the final sort+limit top-k (TakeOrderedAndProject —
    see the inline note).

    PRECONDITION (r18 advice): doc_id must be UNIQUE in documents.
    The matched-docs filter sums tf over a Window partitioned by
    doc_id (so the predicate cannot push below the shared exchange and
    split the reuse); with duplicated doc_ids a zero-match row sharing
    an id with a matching row would survive with score 0 and could pad
    the top-k on sparse corpora. The engine's documents table is
    keyed by doc_id (pinned in tests/test_plans.py::
    test_documents_doc_id_unique); a deployment replaying ids must
    dedup upstream (q24 / dedup_corpus) first."""
    # The oracle derives every corpus stat (n_docs, total_len, df)
    # from exploded tokens, so a NULL-text doc contributes nothing
    # there; size(NULL)=-1 under this session's legacy sizeOfNull
    # would instead poison total_len and keep the doc in n_docs.
    # Filtering upfront is exact parity and pushes IsNotNull(text)
    # into the parquet scan. Identical on non-null corpora.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = T.tokens_col()
    nterms = len(BM25_TERMS)

    def eq(t):
        # one-arg lambda on purpose: a two-arg lambda would be read by
        # F.filter as (element, index)
        return lambda x: x == F.lit(t)

    # r17 replan of the hot projection: one isin-filter pass extracts
    # the query-term occurrences (qt, a <=tf-sized array), then the
    # per-term counts run over THAT instead of each taking its own
    # full-array filter pass with a same-sized allocation. Same total
    # comparisons, one array traversal + one small allocation instead
    # of nterms of each: 1.99 -> 1.11s on the 10x tier (min-of-3,
    # noop sink). Measured-and-rejected alternatives (same session,
    # same protocol — don't retry): per-term aggregate() counters
    # 2.48s (HOF per-element overhead), one packed-aggregate pass
    # 1.26s, padded-string replace/length counting 3.25s (exact but
    # the space-doubling replace copies dominate), an instr()
    # containment pre-gate prunes nothing (96% of docs match some
    # term as a substring). r18 additions to the falsified list:
    # regexp_count with case-insensitive token-boundary lookarounds
    # 5.9s vs 2.9s (2x WORSE — JVM regex per doc loses to the array
    # filter), and an Arrow mapInPandas tokenize+count (pandas
    # str.count, the bpe-encoder precedent) measured at exact parity
    # (2.93s vs 2.93s hot projection at the 100x tier) — the Python
    # boundary buys nothing here, so the plan stays JVM-side.
    #
    # r18 replan of the SCAN: one corpus scan instead of two. The
    # prior shape's two branches (corpus stats; per-doc tf
    # projection) each scanned AND tokenized the corpus — 2x the
    # dominant cost. Both branches now hang off ONE shared projection
    # (doc_id, dl, tf_0..n) behind an explicit repartition("doc_id"),
    # the _seq_pack_cum shuffle-stage-reuse pattern: the exchange
    # carries ~40 bytes/doc where the second scan re-read and
    # re-tokenized the full text column — at 100 TB that halves the
    # query's corpus I/O. AQE-off plans a ReusedExchange (pinned in
    # test_plans.py); measured 4.1-4.8 -> 3.9-4.4s at the 100x
    # documents tier. The matched-docs filter must NOT push below the
    # exchange (stats needs ALL docs, so a pushed filter would split
    # the copies and resurrect the second scan): it filters on a
    # WINDOW output — predicates cannot cross a Window — partitioned
    # on the exchange key doc_id (unique: single-row partitions, no
    # skew, no extra exchange).
    qt = F.filter(toks, lambda x: x.isin(*BM25_TERMS))
    proj = docs.select(
        "doc_id", F.size(toks).alias("dl"), qt.alias("qt")
    ).select(
        "doc_id",
        "dl",
        *[
            F.size(F.filter(F.col("qt"), eq(t))).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    rep = proj.repartition("doc_id")
    stats = rep.agg(
        F.sum("dl").alias("total_len"),
        F.count("*").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(nterms)
        ],
    )
    per = (
        rep.withColumn(
            "tfs",
            F.sum(sum(F.col(f"tf_{i}") for i in range(nterms))).over(
                W.partitionBy("doc_id")
            ),
        )
        .filter(F.col("tfs") > 0)
        .drop("tfs")
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")

    def contrib(i: int):
        idf = (
            F.col("n_docs").cast("double")
            - F.col(f"df_{i}").cast("double")
            + F.lit(0.5)
        ) / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        denom = F.col(f"tf_{i}").cast("double") + F.lit(BM25_K1) * (
            F.lit(BM25_1MB)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
        c = idf * (F.col(f"tf_{i}").cast("double") * F.lit(BM25_K1P1)) / denom
        scaled = F.floor(c * F.lit(float(10**BM25_SCALE)) + F.lit(0.5)).cast(
            "long"
        )
        # a term absent from the doc contributes nothing (the old form
        # had no (doc, term) row at all); without the guard the scaled
        # floor(0 + 0.5) would add 0 anyway, but only for exact-zero c
        # — the when() states the semantics instead of leaning on it
        return F.when(F.col(f"tf_{i}") > 0, scaled).otherwise(F.lit(0))

    per_doc = per.crossJoin(F.broadcast(stats)).select(
        "doc_id", sum(contrib(i) for i in range(nterms)).alias("s")
    )
    # Top-k via orderBy+limit -> TakeOrderedAndProject (per-partition
    # heaps + driver merge), NOT a partition-less row_number window:
    # at 100 TB a common query term makes the matched set corpus-scale,
    # and an unpartitioned window funnels all of it through ONE task.
    # The rank is derived AFTER the limit, over <= BM25_TOPK surviving
    # rows (TakeOrderedAndProject's output is a single already-bounded
    # partition, so the window adds no exchange and sorts K rows).
    topk = per_doc.orderBy(F.col("s").desc(), F.col("doc_id")).limit(
        BM25_TOPK
    )
    w = W.orderBy(F.col("s").desc(), F.col("doc_id"))
    return (
        topk.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "doc_id",
            (F.col("s").cast("double") / float(10**BM25_SCALE)).alias("bm25"),
        )
        .transform(total_order, "rk")
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    s = float(10**BM25_SCALE)
    avgdl = "(CAST(st.total_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE))"
    idf = (
        "((CAST(st.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) "
        "/ (CAST(d.df AS DOUBLE) + 0.5))"
    )
    denom = (
        f"(CAST(t.tf AS DOUBLE) + {BM25_K1!r} * ({BM25_1MB!r} + {BM25_B!r} "
        f"* (CAST(l.dl AS DOUBLE) / {avgdl})))"
    )
    contrib = f"{idf} * (CAST(t.tf AS DOUBLE) * {BM25_K1P1!r}) / {denom}"
    return f"""
WITH tok AS ({SQL_TOK}),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
st AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_len, COUNT(*) AS n_docs FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ({terms}) GROUP BY doc_id, term),
dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE term IN ({terms}) GROUP BY term),
sums AS (
  SELECT t.doc_id,
         SUM(CAST(floor(({contrib}) * {s} + 0.5) AS BIGINT)) AS s
  FROM tf t JOIN dft d USING (term) JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN st
  GROUP BY t.doc_id
)
SELECT rk, doc_id, bm25 FROM (
  SELECT CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rk,
         doc_id, CAST(s AS DOUBLE) / {s} AS bm25
  FROM sums
) WHERE rk <= {BM25_TOPK} ORDER BY rk
"""


BM25_SQL = _bm25_sql()


# --- rep_filter: repetition-based quality filter (Gopher-style) ---------------
# Per-doc repetition signals over words and word-bigrams, then a
# keep/drop verdict — the filter family Gopher/MassiveText popularized
# (duplicate-word fraction, most-common-word fraction, most-common-
# 2-gram fraction). Thresholds are tuned to this corpus's synthetic
# vocabulary so both classes are populated; a deployment retunes them
# per corpus, the plan is threshold-independent.
REP_TOPW_MAX = 0.125  # most-common word may cover at most 12.5% of words
REP_TOPB_MAX = 0.05  # most-common bigram at most 5% of bigrams
REP_DUP_MAX = 0.65  # at most 65% of word occurrences may be repeats

def _run_max_sql(arr_sql: str) -> str:
    """Max multiplicity of any element in array expression ``arr_sql``
    (0 on empty): sort, then one fold tracking (prev, current run,
    best run) — the map-side replacement for a count-shuffle + MAX.
    `a.prev = x` is NULL on the first element, so the CASE falls to
    the ELSE and the first run correctly starts at 1."""
    return (
        f"aggregate(array_sort({arr_sql}), "
        "named_struct('prev', CAST(NULL AS STRING), "
        "'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
        "(a, x) -> named_struct('prev', x, "
        "'run', CASE WHEN a.prev = x THEN a.run + 1 "
        "ELSE CAST(1 AS BIGINT) END, "
        "'best', greatest(a.best, CASE WHEN a.prev = x THEN a.run + 1 "
        "ELSE CAST(1 AS BIGINT) END)), "
        "a -> a.best)"
    )


# Per-doc repetition counts as ONE map-side struct (r14 replan — the
# previous shape exploded a tagged word+bigram array into a corpus-wide
# (doc_id, term) count shuffle plus a per-doc re-aggregation; measured
# 2.0-2.5x the oracle three rounds running at sf0.1, and at 100 TB it
# shuffled ~2x the corpus's token stream twice. This form computes the
# same five counts inside one whole-stage-codegen projection — no
# explode, no shuffle — via array_sort + run-max folds; quality_features
# pioneered the shape). The token array is bound as a lambda variable
# (1-element-array trick, see shingles_col) so split() runs once per
# row; bigrams join words with a space, which no token can contain.
_REP_BIGRAMS = (
    "transform(slice(t, 1, size(t) - 1), "
    "(w, i) -> concat(w, ' ', element_at(t, i + 2)))"
)
_REP_COUNTS = (
    "element_at(transform(array(split(lower(text), ' ')), t -> named_struct("
    "'n_words', CAST(size(t) AS BIGINT), "
    "'n_distinct', CAST(size(array_distinct(t)) AS BIGINT), "
    f"'top_w', {_run_max_sql('t')}, "
    "'n_bigrams', CAST(size(t) - 1 AS BIGINT), "
    "'top_b', CASE WHEN size(t) > 1 THEN "
    f"{_run_max_sql(_REP_BIGRAMS)} END"
    ")), 1)"
)


def _rep_signals(r):
    """(dup, topw, topb) from a _REP_COUNTS struct column — the single
    statement of the signal math, shared by the audit projection and
    the join-free quality_keep filter. Single-word docs have no
    bigrams (top_b NULL) — repetition evidence absent, so the bigram
    signal contributes 0, not a drop (the NULL-division coalesce,
    matching the oracle's NULL n_bigrams aggregate)."""
    nw = r["n_words"].cast("double")
    dup = F.lit(1) - r["n_distinct"] / nw
    topw = r["top_w"] / nw
    topb = F.coalesce(
        r["top_b"] / r["n_bigrams"].cast("double"), F.lit(0.0)
    )
    return dup, topw, topb


def _rep_keep_cond(r):
    """The keep verdict as a boolean Column over a _REP_COUNTS struct
    — the single statement both the audit's verdict column and
    quality_keep's filter evaluate. ``r`` must be a REAL column (an
    alias or a lambda variable), never the raw _REP_COUNTS expression:
    the condition extracts six fields, and Catalyst inlines a raw
    expression once PER EXTRACT (measured as a 6x fold blowup —
    use rep_keep_col() when no aliased column exists)."""
    dup, topw, topb = _rep_signals(r)
    return (
        (topw <= REP_TOPW_MAX)
        & (topb <= REP_TOPB_MAX)
        & (dup <= REP_DUP_MAX)
    )


def eval_here(cond: "F.Column") -> "F.Column":
    """Pushdown barrier for an EXPENSIVE predicate — the JVM-expression
    analog of guide-§4.4's ``udf.asNondeterministic()``: PushDownPredicates
    only relocates *deterministic* conditions, so OR-ing the verdict with
    an always-FALSE nondeterministic disjunct (``spark_partition_id() <
    0``) pins the filter where it is written while leaving its value
    bit-equal under 3-valued logic. Without it, Catalyst substitutes
    the verdict's defining expressions through the projection chain and
    pushes the result below spread()'s round-robin exchange onto the
    parquet scan — where (a) the single-row-group test file gives it ONE
    task (measured: 3 x ~0.7 s single-threaded stages in corpus_release)
    and (b) alias substitution re-inlines the _REP_COUNTS fold once per
    extracted field (the 6x blowup _rep_keep_cond documents). At 100 TB
    the scan is already parallel, so keeping the filter one exchange
    above it costs nothing — the rows dropped still never reach a
    shuffle. An OR disjunct with an always-false nondeterministic term,
    NOT an AND conjunct and NOT a WHEN branch: SplitConjunctivePredicates
    peels a deterministic conjunct off and pushes it anyway,
    SimplifyConditionalsInPredicate rewrites ``WHEN c THEN cond`` in
    predicate position into ``c AND cond``, and ``rand() < -1`` is
    constant-folded away by the 4.x out-of-range-rand rule (all three
    measured — each form left the filter at the scan).
    ``spark_partition_id() < 0`` is always false (so ``cond OR it`` is
    bit-equal to ``cond``), costs one int comparison, and is flagged
    nondeterministic, which no current rule folds through."""
    return cond | (F.spark_partition_id() < F.lit(0))


def rep_keep_col() -> "F.Column":
    """The keep verdict as a self-contained Column over ``text``, with
    the counts struct bound ONCE via the 1-element-array trick (the
    lambda variable plays the aliased-column role _rep_keep_cond
    requires), so the six signal extracts read one evaluation instead
    of inlining six copies of the fold."""
    return F.element_at(
        F.transform(F.array(F.expr(_REP_COUNTS)), _rep_keep_cond), 1
    )


def _rep_per_doc(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals + keep/drop verdict over a documents
    frame — shared by rep_filter (which aggregates the audit) and
    corpus_release (which uses the verdict as its quality gate).
    Carries n_chars through (functionally dependent on doc_id) so
    downstream budget math needs no extra join against documents.

    Scale shape (r14): entirely map-side — one projection computes the
    _REP_COUNTS struct per row (the struct lands in a child projection
    so the signal expressions don't re-run the folds; CollapseProject
    keeps non-cheap aliases referenced more than once in their own
    project, the quality_features precedent). No explode, no shuffle:
    the first exchange a consumer pays is its own aggregation. All
    per-doc math is integer counts + one double division,
    deterministic cross-engine.

    NULL-text docs are filtered EXPLICITLY: the r13 explode shape
    dropped them naturally (explode of a NULL array yields no rows)
    and the oracle's unnest does the same, but a map-side projection
    would emit them as drop-verdict rows with NULL signals — the
    bm25-family latent parity trap (caught by r14 self-review; no
    corpus tier currently has NULL text, which is why the oracle gate
    couldn't see it)."""
    per_doc = docs.filter(F.col("text").isNotNull()).selectExpr(
        "doc_id", "source", "n_chars", f"{_REP_COUNTS} AS r"
    )
    dup, topw, topb = _rep_signals(F.col("r"))
    verdict = F.when(
        _rep_keep_cond(F.col("r")), F.lit("keep")
    ).otherwise(F.lit("drop"))
    return per_doc.select(
        "source",
        "doc_id",
        "n_chars",
        verdict.alias("verdict"),
        dup.alias("dup"),
        topw.alias("topw"),
        topb.alias("topb"),
    )


def quality_keep(docs: DataFrame) -> DataFrame:
    """``docs`` restricted to the rows the repetition quality gate
    keeps — THE single statement of "quality keep" that every gated
    pipeline stage (the streaming quality/curation ingests and their
    batch twins) routes through, so a change to the verdict contract
    cannot desynchronize streamed sinks from their batch references.
    With the r14 map-side _REP_COUNTS this is a plain filter — no
    self-join on doc_id, no shuffle; the r13 form semi-joined the doc
    frame against its own exploded-count aggregation."""
    return docs.filter(rep_keep_col())


def rep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter: per-source audit of how many
    docs a Gopher-style repetition rule keeps vs drops, with the mean
    signal values per class (class means use the scaled-long exact sum,
    functions.deterministic; plan shape documented on _rep_per_doc)."""
    return (
        _rep_per_doc(spread(load_table(spark, sf_dir, "documents")))
        .groupBy("source", "verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
            det_round(dec_avg(F.col("topw"), 6), 4).alias("mean_top_word_frac"),
            det_round(dec_avg(F.col("dup"), 6), 4).alias("mean_dup_word_frac"),
            det_round(dec_avg(F.col("topb"), 6), 4).alias(
                "mean_top_bigram_frac"
            ),
        )
        .transform(total_order, "source", "verdict")
    )


def _rep_avg_sql(expr: str) -> str:
    return sql_det_round(f"({sql_dec_sum(expr, 6)} / COUNT({expr}))", 4)


# Shared CTE body (rep_filter + corpus_release): per-doc repetition
# signals, mirroring _rep_per_doc. m ends with one row per doc.
_REP_PER_DOC_CTES = """w AS (
  SELECT doc_id, source, n_chars, string_split(lower(text), ' ') AS ws
  FROM documents
),
tok AS (
  SELECT doc_id, source, n_chars, unnest(list_concat(
    list_transform(ws, x -> 'w ' || x),
    list_transform(range(1, len(ws)), i -> 'b ' || ws[i] || ' ' || ws[i+1])
  )) AS term FROM w
),
cnt AS (
  SELECT doc_id, source, n_chars, term, substr(term, 1, 1) AS kind,
         COUNT(*) AS c
  FROM tok GROUP BY doc_id, source, n_chars, term
),
per_doc AS (
  SELECT doc_id, source, n_chars,
    SUM(CASE WHEN kind = 'w' THEN c END) AS n_words,
    COUNT(CASE WHEN kind = 'w' THEN 1 END) AS n_distinct,
    MAX(CASE WHEN kind = 'w' THEN c END) AS top_w,
    SUM(CASE WHEN kind = 'b' THEN c END) AS n_bigrams,
    MAX(CASE WHEN kind = 'b' THEN c END) AS top_b
  FROM cnt GROUP BY doc_id, source, n_chars
),
m AS (
  SELECT source, doc_id, n_chars,
    (1 - n_distinct / CAST(n_words AS DOUBLE)) AS dup,
    (top_w / CAST(n_words AS DOUBLE)) AS topw,
    COALESCE(top_b / CAST(n_bigrams AS DOUBLE), CAST(0 AS DOUBLE)) AS topb
  FROM per_doc
)"""

_REP_KEEP_COND = (
    f"topw <= CAST({REP_TOPW_MAX} AS DOUBLE)"
    f" AND topb <= CAST({REP_TOPB_MAX} AS DOUBLE)"
    f" AND dup <= CAST({REP_DUP_MAX} AS DOUBLE)"
)

REP_FILTER_SQL = f"""
WITH {_REP_PER_DOC_CTES}
SELECT source,
  CASE WHEN {_REP_KEEP_COND} THEN 'keep' ELSE 'drop' END AS verdict,
  COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
  {_rep_avg_sql('topw')} AS mean_top_word_frac,
  {_rep_avg_sql('dup')} AS mean_dup_word_frac,
  {_rep_avg_sql('topb')} AS mean_top_bigram_frac
FROM m GROUP BY 1, 2 ORDER BY source, verdict
"""


# --- source_mix: token-budget-balanced data mixing ----------------------------
# Deterministic downsampling that equalizes the per-source CHARACTER
# budget (the mixing knob a training run actually balances — token
# share, not document count). rate_s = min_source_chars / chars_s;
# membership is the stateless hash-bucket rule, compared in pure
# integer arithmetic (bucket * chars_s < min_chars * BUCKETS) so no
# floating-point rate ever decides a row. Different LCG constants from
# sample_hash so the two samples are uncorrelated.
MIX_A = 69_069
MIX_B = 1
MIX_BUCKETS = 1_000


def mix_keep_cond(budget_col: str, floor_col: str) -> "F.Column":
    """The all-integer mixing membership rule — keep the row iff
    bucket(doc_id) * budget < floor * BUCKETS. THE rule, shared by
    source_mix and release_members so the composed release and the
    standalone mixer can never diverge."""
    # ubucket_col carries both wrap defenses: the long cast (an int32
    # doc_id column would wrap at 32 bits under ANSI off) and the
    # pre-mod reduction (an int64 id above ~8.4e9 would overflow the
    # naive product) — see its docstring.
    bucket = ubucket_col(MIX_A, MIX_B, MIX_BUCKETS)
    return bucket * F.col(budget_col) < F.col(floor_col) * MIX_BUCKETS


# Temperature mixing law (alpha = 0.5): rate_s = (floor/chars_s)^(1-a)
# = sqrt(floor/chars_s) — the mT5/XLM-R small-source upweighting rule.
# THE rule shared by plans.corpus.temperature_mix and
# release_members(mix_alpha=0.5), kept here beside mix_keep_cond for
# the same never-diverge reason. Only the a=0.5 instantiation is in
# the contract: sqrt/divide/multiply/floor are IEEE-correctly-rounded
# in both engines, so the per-source integer ppm threshold is
# bit-identical cross-engine with zero libm in the membership path (a
# deployment choosing another alpha swaps in pow() and accepts
# engine-local determinism only).
TEMP_ALPHA = 0.5
TEMP_BUCKETS = 1_000_000  # ppm resolution on the keep rate
TEMP_A = 22_695_477  # Borland LCG — public constants, a stream
TEMP_B = 1  # uncorrelated with sample_hash/source_mix


def temp_rate_ppm(chars_col: str, floor_col: str) -> "F.Column":
    """floor(sqrt(floor/chars) * BUCKETS) as an integer ppm threshold;
    0 for a zero-char stratum (nothing to balance toward)."""
    rate = F.sqrt(
        F.col(floor_col).cast("double") / F.col(chars_col).cast("double")
    )
    return (
        F.when(
            F.col(chars_col) > 0,
            F.floor(rate * F.lit(float(TEMP_BUCKETS))).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("rate_ppm")
    )


def temp_keep_cond() -> "F.Column":
    """Per-row temperature membership: integer bucket < the stratum's
    precomputed integer rate_ppm column."""
    return ubucket_col(TEMP_A, TEMP_B, TEMP_BUCKETS) < F.col("rate_ppm")


def sql_temp_rate_ppm(chars: str, floor: str) -> str:
    """DuckDB twin of temp_rate_ppm — identical IEEE op sequence."""
    return (
        f"CASE WHEN {chars} > 0 THEN CAST(floor(sqrt(CAST({floor} AS DOUBLE)"
        f" / CAST({chars} AS DOUBLE)) * CAST({TEMP_BUCKETS} AS DOUBLE))"
        f" AS BIGINT) ELSE 0 END"
    )


def temp_rates(budgets: DataFrame) -> DataFrame:
    """(source, chars_q, rate_ppm) from a per-source budgets frame —
    THE temperature model, shared verbatim by release_members
    (mix_alpha=TEMP_ALPHA), the batch temperature_mix rule, and the
    stream-static ingest stage, so no consumer can diverge. The floor
    is the min over strata that HAVE characters (a zero-char stratum
    would otherwise zero every ppm threshold and silently empty the
    whole output).

    The floor rides an unpartitioned WINDOW over the budgets frame,
    not a crossJoin(broadcast(budgets.agg(min))): the agg form plans
    the budgets subtree TWICE (once under the broadcast, once as the
    join's left side), and budgets usually hangs off a full corpus
    scan — in corpus_release_temp the duplicate was a whole extra
    quality-filter pass (r19 optimization round, measured). The
    window's input is the POST-aggregation |sources|-row frame — a
    source catalog, never corpus-scale — so the single-task window is
    a no-op at any SF (declared in UNPARTITIONED_WINDOW_ALLOWLIST).
    min(when(chars_q > 0)) ignores the zero-char strata exactly like
    the old filtered aggregate; on an all-zero frame both forms yield
    a NULL floor and rate 0."""
    floor_w = F.min(
        F.when(F.col("chars_q") > 0, F.col("chars_q"))
    ).over(W.partitionBy())
    return budgets.withColumn("min_chars", floor_w).withColumn(
        "rate_ppm", temp_rate_ppm("chars_q", "min_chars")
    )


def static_temp_rates(docs: DataFrame) -> DataFrame:
    """(source, rate_ppm) fit from a STATIC (source, n_chars) frame —
    the stream-static temperature model for ingest-time mixing. The
    budgets MUST come from a declared static corpus (a prior release
    snapshot, the fixture table) rather than the unbounded stream
    itself: per-row membership is stateless integer math against
    these precomputed thresholds, so every micro-batch applies the
    identical rule no matter how the stream is chopped.

    The fit is MATERIALIZED here — the |sources| result rows are
    collected once and rebuilt as a local DataFrame — so the returned
    frame carries no lineage back to the static corpus. Returning the
    lazy plan instead would re-execute the full static-table
    scan+aggregation inside EVERY foreachBatch broadcast (at 100 TB, a
    whole prior-snapshot scan per micro-batch) while claiming to be
    'fit once'."""
    fitted = temp_rates(
        docs.groupBy("source").agg(F.sum("n_chars").alias("chars_q"))
    ).select("source", "rate_ppm")
    rows = fitted.collect()
    return docs.sparkSession.createDataFrame(
        rows, "source string, rate_ppm long"
    )


def temp_membership(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """Filter ``docs`` to temperature members against a precomputed
    (source, rate_ppm) frame; returns docs' own columns. The rates
    side is |sources| rows — always broadcast.

    A doc whose source is ABSENT from the static model fails loudly
    (raise_error) instead of joining to nothing: with an inner join a
    new crawl source arriving mid-stream would silently vanish from
    the sink — 100% loss for that source with no signal — violating
    the engine's apply-or-fail-loudly rule for curation controls. The
    deployment response is to refit the static model to cover the new
    source, not to guess a rate for it."""
    joined = docs.join(
        F.broadcast(rates.select("source", "rate_ppm")), "source", "left"
    ).withColumn(
        "rate_ppm",
        F.when(F.col("rate_ppm").isNotNull(), F.col("rate_ppm")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "temp_membership: source absent from the static "
                        "temperature model: "
                    ),
                    F.col("source"),
                )
            ).cast("long")
        ),
    )
    return joined.filter(temp_keep_cond()).select(*docs.columns)


def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: per-source audit of a deterministic downsample to
    the smallest source's character budget."""
    return _source_mix(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
    )


def mix_budgets(docs: DataFrame) -> list[tuple]:
    """The mixing model: per-source (source, docs_in, chars_in) rows,
    collected — bounded at |sources| (a source CATALOG, not corpus
    data; the static_temp_rates / lang_id fit-small precedent). Split
    out so source_mix_subword can memoize it per (session, sf_dir):
    its budget column is the full BPE encode, and re-aggregating it
    per build would re-pay a corpus encode pass for an answer that is
    a pure function of (sf_dir, merge table)."""
    return [
        (r["source"], r["docs_in"], r["chars_in"])
        for r in docs.groupBy("source")
        .agg(
            F.count("*").alias("docs_in"),
            F.sum("n_chars").cast("bigint").alias("chars_in"),
        )
        .collect()
    ]


def _source_mix(
    docs: DataFrame, budget_rows: list[tuple] | None = None
) -> DataFrame:
    """The mixing audit over a (doc_id, source, n_chars) frame.

    Scale shape: the budget pass is one map-side-combined tiny agg
    (|sources| rows) broadcast back onto the corpus; membership is
    stateless per-row integer math (reproducible on any cluster size,
    no RNG state); only the final audit agg shuffles, on source. The
    corpus is scanned twice (budget + filter) — both scans prune to
    3 columns, and at 100 TB the first is a cheap partial-agg pass,
    strictly better than shuffling the corpus once on a skewed
    source key to window it.

    With ``budget_rows`` (mix_budgets output, typically memoized) the
    budget pass is REPLACED by a local |sources|-row rates frame: the
    corpus is then scanned exactly once and the whole audit is ONE
    job. The membership rule, audit aggregate, and output expressions
    below the rates frame are the same code on both paths, so the two
    denominations (and the fused/declarative forms) cannot diverge in
    mixing math."""
    if budget_rows is not None:
        spark = docs.sparkSession
        # VALUES (not createDataFrame): plans as a LocalRelation /
        # LocalTableScan instead of a python-RDD scan — stays inside
        # whole-stage codegen and ships no py4j-pickled RDD
        # NULL-safe literal rendering (r15 advice): a NULL source group
        # key must stay NULL (not the string 'None'), and a NULL
        # chars_in aggregate (every n_chars in the source NULL) must
        # not TypeError int() — both match what the computed-budget
        # path's aggregate frame would carry for the same input.
        def _lit_str(v):
            return (
                "CAST(NULL AS STRING)"
                if v is None
                else T.sql_str_lit(str(v))
            )

        def _lit_long(v):
            return "CAST(NULL AS BIGINT)" if v is None else f"{int(v)}L"

        min_chars = min(
            (int(r[2]) for r in budget_rows if r[2] is not None), default=0
        )
        values = ", ".join(
            f"({_lit_str(r[0])}, {_lit_long(r[1])}, {_lit_long(r[2])})"
            for r in budget_rows
        ) or "(CAST(NULL AS STRING), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))"
        rates = spark.sql(
            f"SELECT * FROM (VALUES {values}) AS "
            "t(source, docs_in, chars_in)"
            + ("" if budget_rows else " WHERE FALSE")
        ).withColumn("min_chars", F.lit(min_chars).cast("bigint"))
    else:
        budgets = docs.groupBy("source").agg(
            F.count("*").alias("docs_in"),
            F.sum("n_chars").alias("chars_in"),
        )
        # window floor, not crossJoin(broadcast(agg)): the agg form
        # plans the budgets subtree (a full docs aggregation) once per
        # consumer — see temp_rates for the measured rationale; the
        # window input is the |sources|-row post-agg frame
        rates = budgets.withColumn(
            "min_chars", F.min("chars_in").over(W.partitionBy())
        )
    kept = docs.join(F.broadcast(rates), "source").filter(
        mix_keep_cond("chars_in", "min_chars")
    )
    out = kept.groupBy("source").agg(
        F.count("*").alias("docs_kept"),
        F.sum("n_chars").alias("chars_kept"),
        F.sum("doc_id").alias("kept_checksum"),
    )
    # Both sides of the audit join are |sources|-row aggregates; hint
    # the kept side so the static plan is a broadcast join rather than
    # sorting two tiny frames (AQE would convert it anyway at runtime).
    return (
        rates.join(F.broadcast(out), "source", "left")
        .select(
            "source",
            "docs_in",
            F.col("chars_in").cast("bigint").alias("chars_in"),
            det_round(
                F.col("min_chars").cast("double") / F.col("chars_in"), 4
            ).alias("mix_rate"),
            F.coalesce(F.col("docs_kept"), F.lit(0)).alias("docs_kept"),
            F.coalesce(F.col("chars_kept").cast("bigint"), F.lit(0)).alias(
                "chars_kept"
            ),
            F.coalesce(F.col("kept_checksum").cast("bigint"), F.lit(0)).alias(
                "kept_checksum"
            ),
        )
        .transform(total_order, "source")
    )


SOURCE_MIX_SQL = f"""
WITH budgets AS (
  SELECT source, COUNT(*) AS docs_in, CAST(SUM(n_chars) AS BIGINT) AS chars_in
  FROM documents GROUP BY source
),
floor_b AS (SELECT MIN(chars_in) AS min_chars FROM budgets),
kept AS (
  SELECT d.source, d.doc_id, d.n_chars
  FROM documents d JOIN budgets b USING (source) CROSS JOIN floor_b f
  WHERE ({sql_ubucket(MIX_A, MIX_B, MIX_BUCKETS, 'd.doc_id')}) * b.chars_in
        < f.min_chars * {MIX_BUCKETS}
),
agg AS (
  SELECT source, COUNT(*) AS docs_kept,
         CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
         CAST(SUM(doc_id) AS BIGINT) AS kept_checksum
  FROM kept GROUP BY source
)
SELECT b.source, b.docs_in, b.chars_in,
       {sql_det_round("(CAST(f.min_chars AS DOUBLE) / b.chars_in)", 4)} AS mix_rate,
       COALESCE(a.docs_kept, 0) AS docs_kept,
       COALESCE(a.chars_kept, 0) AS chars_kept,
       COALESCE(a.kept_checksum, 0) AS kept_checksum
FROM budgets b CROSS JOIN floor_b f LEFT JOIN agg a USING (source)
ORDER BY source
"""


# --- seq_pack: GPT-style sequence-packing audit -------------------------------
# Concat-then-chunk packing (the standard pretraining shape): per
# source, documents concatenate in doc_id order and the token stream
# chunks into fixed SEQ_LEN sequences — no padding except the final
# partial sequence, docs may span a boundary. The audit reports, per
# source, how many sequences the corpus packs into, how many docs get
# split across a boundary, and the fill fraction — the numbers a
# training run sizes its dataloader with.
SEQ_LEN = 512
# Sub-octave bits for the two-phase prefix sum's range bucketing.
# Purely a parallelism knob: the cumulative offsets are exact, so the
# audit's integers are invariant to it. The bucket is
# (bit_length(doc_id), top SUB_BITS+1 bits) — monotone in doc_id with
# NO bounds scan needed (no data-dependent range), at most
# 64 * 2^(SUB_BITS+1) buckets (so the offsets frame stays trivially
# broadcastable at any corpus size), and for dense ids the largest
# bucket holds ~2^-(SUB_BITS+1) of the corpus (~0.1% at 9 bits) —
# thousands of independent tasks for the corpus-side window.
SEQ_PACK_SUB_BITS = 9


def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing audit over the documents table.

    Scale shape — a TWO-PHASE DISTRIBUTED PREFIX SUM. Packing is
    inherently sequential per stream (source), but a single window
    partitioned on source would funnel the whole corpus's count stream
    into |sources| single-stream tasks — a full shuffle onto a tiny,
    skewed key. Instead: (1) docs range-bucket on doc_id (monotone, so
    bucket order == doc order); per-(bucket, source) token subtotals
    are ONE tiny map-side-combined aggregate (buckets x sources rows);
    the exclusive running offsets over that frame are a window over
    thousands of rows, not the corpus. (2) The offsets broadcast back
    and the intra-bucket running sum is a window on the COMPOSITE
    (bucket, source) key — the corpus's one shuffle lands on
    buckets x sources keys, parallel and skew-free; cum = offset +
    intra-bucket sum, bit-identical to the single-stream total. Token
    counts are map-side size(split()) projections (no explode); the
    report is a map-side per-source aggregate; every quantity is
    integer arithmetic until the final rounded fill fraction —
    hash-exact across engines.

    One scan, one shuffle: BOTH phases hang off the SAME explicit
    repartition(bkt, source) exchange — the subtotal branch is a
    co-located hash aggregate directly over the exchange output (the
    explicit repartition stops Catalyst from pushing the partial agg
    below it, which would split the exchange in two and force a
    second scan), so at runtime AQE wires it as a ReusedExchange
    consumer: the corpus is scanned, tokenized, and shuffled exactly
    once, and the bucket is stateless per-row bit math (no bounds
    pass, no sampling job)."""
    # text IS NOT NULL in both engines: size(NULL)=-1 under this
    # session's legacy sizeOfNull would poison the token totals while
    # the oracle's len(string_split(NULL)) yields NULL (sum-skipped
    # but counted in n_docs) — the same latent parity trap bm25_rank
    # closed. Identical on non-null corpora; pushes to the scan.
    return _seq_pack(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.size(T.tokens_col()).alias("n_tok"))
    )


def _seq_pack_cum(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok, cum) — each document's EXCLUSIVE-END
    running token total within its source's doc_id-ordered stream, via
    the two-phase distributed prefix sum. The shared core of _seq_pack
    (which aggregates it into the audit card) and pack_assignments
    (which emits the per-doc sequence map a dataloader consumes), so
    the audit and the assignments can never disagree on packing
    math."""
    # Range-bucket on doc_id via (bit_length, top bits): monotone in
    # doc_id, so per-source concatenation order is preserved across
    # bucket boundaries — see SEQ_PACK_SUB_BITS. bin()/shiftright are
    # exact integer ops (floor(log2()) would wobble a ULP at exact
    # powers of two). Negative ids: bin() is 64-bit two's complement,
    # so every negative lands in octave 64 with a sign-extended
    # (negative, still monotone) top — subtracting a constant larger
    # than any positive bucket value places the whole negative range
    # BELOW the positives while preserving its internal order.
    _w = SEQ_PACK_SUB_BITS + 1
    raw_bkt = F.length(F.bin(F.col("doc_id"))).cast("long") * F.lit(
        1 << _w
    ) + F.expr(
        f"shiftright(doc_id, greatest(length(bin(doc_id)) - {_w}, 0))"
    )
    b = docs.withColumn(
        "bkt",
        F.when(
            F.col("doc_id") < 0, raw_bkt - F.lit(1 << (_w + 8))
        ).otherwise(raw_bkt),
    )
    rep = b.repartition("bkt", "source")
    # subtotal branch: grouping keys == exchange partitioning, so this
    # plans as a co-located aggregate with no further exchange.
    #
    # SHUFFLE-STAGE REUSE (r16): the logical plan holds `rep` as two
    # independent subtree copies (one per branch), so without help the
    # optimizer narrows THIS branch's copy — column pruning drops
    # doc_id (and toks, in packed_sequences) below the exchange, and
    # the probe branch's join pushes an isnotnull(bkt, source) filter
    # the subtotal copy lacks. The copies then canonicalize UNEQUAL
    # and the shuffle — and everything under it: the parquet scan,
    # and in the subword variant the whole BPE encode — runs TWICE
    # per execution. Matching the filter explicitly (output-neutral:
    # null-key groups were never consumed — the probe side's inner
    # join drops those rows anyway) and folding a provably-zero,
    # non-foldable term over each otherwise-pruned column into the
    # subtotal keeps both copies identical, and AQE's stage cache
    # materializes the exchange once. Interleaved A/B at sf0.1 on the
    # encode-carrying variant: 0.85-0.99s -> 0.62-0.72s (min-of-4,
    # both orders). The zero terms: least(0, shiftright(id,63)+1) is
    # 0 for every non-null long; the array term wraps size() in
    # coalesce(·, 0) so it stays exactly 0 for NULL arrays under ANY
    # sizeOfNull/ANSI setting (r16 advice: bare size(a)-size(a) is
    # only zero under legacy sizeOfNull) — neither is constant-folded
    # (a simple coalesce(id,0)*0 WAS folded away, measured r16).
    # TRIPWIRE: tests/test_plans.py::test_prefix_sum_exchange_is_reused
    # pins "ReusedExchange" in the AQE-off plan for every consumer —
    # if a future Spark version constant-folds these guards the copies
    # drift, the pin fails loudly, and the scan/encode would otherwise
    # silently run twice.
    repA = rep.filter(
        F.col("bkt").isNotNull() & F.col("source").isNotNull()
    )
    guard = F.least(
        F.lit(0).cast("long"), F.shiftright(F.col("doc_id"), 63) + F.lit(1)
    )
    for c in docs.columns:
        if c not in ("doc_id", "source", "n_tok"):
            _sz = F.coalesce(F.size(F.col(c)), F.lit(0))
            guard = guard + F.least(F.lit(0), _sz - _sz)
    sub = repA.groupBy("bkt", "source").agg(
        F.sum(F.col("n_tok") + guard).alias("sub")
    )
    wo = (
        W.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # The window's exchange(source) is the right price here, NOT a
    # coalesce(1): coalesce is a NARROW dependency, so placing it above
    # sub would pull the corpus-scale subtotal AGGREGATION itself into
    # one task (sub's OUTPUT is |buckets x sources| rows, but its input
    # is every per-doc row in rep). Measured r14 and reverted the same
    # round by self-review: the ~0.1s barrier saving at sf0.1 is not
    # worth single-tasking a full-corpus aggregate at scale.
    off = sub.select(
        "bkt",
        "source",
        F.coalesce(F.sum("sub").over(wo), F.lit(0)).alias("off"),
    )
    # probe branch: broadcast join preserves the streamed side's
    # partitioning, so the intra-bucket window needs only a sort
    wi = W.partitionBy("bkt", "source").orderBy("doc_id")
    return (
        rep.join(F.broadcast(off), ["bkt", "source"])
        .select(
            # every input column rides through (packed_sequences needs
            # the token array beside the prefix sum; _seq_pack and
            # pack_assignments pass exactly (doc_id, source, n_tok))
            *docs.columns,
            (F.col("off") + F.sum("n_tok").over(wi)).alias("cum"),
        )
    )


def _seq_pack(docs: DataFrame) -> DataFrame:
    """The packing audit over a (doc_id, source, n_tok) frame — split
    out so tests can drive it with synthetic id distributions (e.g.
    negative ids) against the single-stream reference."""
    per = _seq_pack_cum(docs)
    # split flag and fill fraction fold INTO the aggregate (r15: each
    # extra DataFrame op re-analyzes the whole child tree — two fewer
    # ops measured ~0.05-0.1s off every eager rebuild of the subword
    # variant; the arithmetic is unchanged: a doc is SPLIT when its
    # first and last token land in different chunks, floor((cum-1)/L)
    # > floor((cum-n_tok)/L))
    n_seqs = F.floor(
        (F.max("cum") + F.lit(SEQ_LEN - 1)) / F.lit(SEQ_LEN)
    ).cast("bigint")
    split = (
        F.floor((F.col("cum") - 1) / F.lit(SEQ_LEN))
        > F.floor((F.col("cum") - F.col("n_tok")) / F.lit(SEQ_LEN))
    ).cast("bigint")
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            n_seqs.alias("n_seqs"),
            F.sum(split).cast("bigint").alias("n_split_docs"),
            det_round(
                F.sum("n_tok").cast("double")
                / (n_seqs * F.lit(SEQ_LEN)).cast("double"),
                4,
            ).alias("fill_frac"),
        )
        .transform(total_order, "source")
    )


def seq_pack_sql_from(base_sql: str, prelude: str = "") -> str:
    """The seq_pack window-chain oracle over ANY (doc_id, source,
    n_tok) base query — shared with plans.bpe.seq_pack_subword, which
    prepends its BPE-fit CTE chain via ``prelude`` and swaps the base
    for subword counts. Keeping one copy of the window chain means the
    whitespace and subword audits can never diverge in packing math."""
    return f"""
WITH {prelude}base AS ({base_sql}),
per AS (
  SELECT source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
),
marked AS (
  SELECT source, n_tok, cum,
         CASE WHEN floor(CAST(cum - 1 AS DOUBLE) / {SEQ_LEN})
                 > floor(CAST(cum - n_tok AS DOUBLE) / {SEQ_LEN})
              THEN 1 ELSE 0 END AS split
  FROM per
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(floor(CAST(MAX(cum) + {SEQ_LEN - 1} AS DOUBLE) / {SEQ_LEN}) AS BIGINT) AS n_seqs,
       CAST(SUM(split) AS BIGINT) AS n_split_docs,
       {sql_det_round(f"CAST(SUM(n_tok) AS DOUBLE) / (floor(CAST(MAX(cum) + {SEQ_LEN - 1} AS DOUBLE) / {SEQ_LEN}) * {SEQ_LEN})", 4)} AS fill_frac
FROM marked GROUP BY source ORDER BY source
"""


SEQ_PACK_SQL = seq_pack_sql_from(
    """
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
"""
)


def pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSUMABLE half of seq_pack: per document, which fixed-
    SEQ_LEN training sequence of its source's stream the doc starts in
    (seq_first), ends in (seq_last — greater means the doc is split
    across a boundary), and at what token offset it begins
    (tok_offset) — the (doc -> sequence, offset) map a dataloader or
    packed-materialization writer actually consumes; seq_pack's audit
    card is this frame's aggregate. All integer arithmetic over the
    SAME _seq_pack_cum prefix sum (shared code, so the audit and the
    assignments cannot disagree); integer `div`/`%` on both engines,
    so the map is hash-exact. Scale shape: identical to seq_pack (the
    one (bkt, source) shuffle + tiny offsets broadcast) with NO extra
    shuffle — the per-doc projection is map-side over the window
    output; the total order by doc_id is the contract artifact (a
    production writer would repartition by (source, seq_first div
    SEQS_PER_FILE) instead — operators.layout's job)."""
    per = _seq_pack_cum(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.size(T.tokens_col()).alias("n_tok"))
    )
    return per.selectExpr(
        "doc_id",
        "source",
        "CAST(n_tok AS BIGINT) AS n_tok",
        f"CAST((cum - n_tok) div {SEQ_LEN} AS BIGINT) AS seq_first",
        f"CAST((cum - 1) div {SEQ_LEN} AS BIGINT) AS seq_last",
        f"CAST((cum - n_tok) % {SEQ_LEN} AS BIGINT) AS tok_offset",
    ).transform(total_order, "doc_id")


def packed_sequences(docs: DataFrame) -> DataFrame:
    """MATERIALIZE the packed stream: one row per fixed-SEQ_LEN
    training sequence — (source, seq_id, n_tokens, text) with text the
    sequence's space-joined tokens in corpus order. The end of the
    packing story: seq_pack audits it, pack_assignments maps docs into
    it, this emits the sequences a dataloader reads (write with
    ``df.write.partitionBy("source")`` or operators.layout's sharded
    writer). Only each source's final sequence may carry fewer than
    SEQ_LEN tokens.

    Scale shape — FRAGMENT-level, never token-level: each doc emits
    one row per sequence it overlaps (ceil(n_tok/SEQ_LEN) + 1 worst
    case, i.e. ~n_tok/SEQ_LEN rows per doc instead of n_tok), carrying
    the doc-relative token SLICE map-side (the token array rides the
    prefix-sum exchange as a materialized column, so slicing reads it
    without re-splitting text). The assembly shuffle is keyed on
    (source, seq_id) — high-cardinality and skew-free by construction
    (every group holds <= SEQ_LEN tokens across a handful of
    fragments) — and each sequence concatenates its fragments by
    their global start offset (array_sort on the struct's leading
    field). So the corpus text crosses the wire exactly once, in
    fragments, and no single task ever holds more than a sequence.
    Pytest-verified (round-trip + exact-length properties in
    tests/test_plans.py) AND registered with a token-level DuckDB twin
    (packed_sequences_q / PACKED_SEQUENCES_SQL) since r16, so the gate
    hash-certifies the sequence text bodies alongside the packing
    counts seq_pack/pack_assignments certify."""
    per = _seq_pack_cum(
        docs.filter(F.col("text").isNotNull()).select(
            "doc_id",
            "source",
            F.size(T.tokens_col()).alias("n_tok"),
            T.tokens_col().alias("toks"),
        )
    )
    L = SEQ_LEN
    # each fragment leaves the map side as ONE STRING (array_join of
    # the token slice) plus its token count — not a token array. The
    # assembly shuffle then carries flat strings (no per-element array
    # offsets) and the aggregate sorts/joins a handful of strings per
    # sequence instead of flattening token arrays: measured 1.03 ->
    # 0.79s at sf0.1, bit-identical output (r16 A/B)
    frags = (
        f"transform(sequence((cum - n_tok) div {L}, (cum - 1) div {L}), "
        f"k -> named_struct("
        f"'seq_id', k, "
        f"'fp', greatest(k * {L}, cum - n_tok), "
        f"'nt', CAST(least((k + 1) * {L}, cum) "
        f"- greatest(k * {L}, cum - n_tok) AS BIGINT), "
        f"'frag', array_join(slice(toks, "
        f"CAST(greatest(k * {L} - (cum - n_tok), 0) + 1 AS INT), "
        f"CAST(least((k + 1) * {L}, cum) "
        f"- greatest(k * {L}, cum - n_tok) AS INT)), ' ')))"
    )
    ex = per.select(
        "source", F.explode(F.expr(frags)).alias("f")
    ).select(
        "source",
        F.col("f.seq_id").alias("seq_id"),
        F.col("f.fp").alias("fp"),
        F.col("f.nt").alias("nt"),
        F.col("f.frag").alias("frag"),
    )
    return ex.groupBy("source", "seq_id").agg(
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("fp"), F.col("frag")))
                ),
                lambda s: s["frag"],
            ),
            " ",
        ).alias("text"),
    )


def packed_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered form of packed_sequences — the documents table
    through the fragment-level materializer, totally ordered on
    (source, seq_id) per the oracle contract. The twin
    (PACKED_SEQUENCES_SQL below) replays the same prefix sum at
    token level (unnest + string_agg ORDER BY pos), so the hash
    certifies the sequence TEXT BODIES, not just the packing counts
    seq_pack/pack_assignments already certify."""
    return packed_sequences(
        spread(load_table(spark, sf_dir, "documents"))
    ).transform(total_order, "source", "seq_id")


# DuckDB twin of packed_sequences — registered in r16 (the r15 window
# was full; the freshness test caps never-certified additions at the
# head slots available). Token-level unnest is fine HERE (the oracle
# is a single-node reference, not the scale path); string_agg with
# ORDER BY pos makes the per-sequence text deterministic.
PACKED_SEQUENCES_SQL = f"""
WITH base AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS toks,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
),
per AS (
  SELECT source, toks, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
),
tok AS (
  SELECT source, cum - n_tok + u.i AS pos, toks[u.i + 1] AS t
  FROM per, unnest(range(n_tok)) AS u(i)
)
SELECT source, CAST(pos // {SEQ_LEN} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       string_agg(t, ' ' ORDER BY pos) AS text
FROM tok GROUP BY source, seq_id ORDER BY source, seq_id
"""


PACK_ASSIGNMENTS_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
),
per AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
)
SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
       CAST((cum - n_tok) // {SEQ_LEN} AS BIGINT) AS seq_first,
       CAST((cum - 1) // {SEQ_LEN} AS BIGINT) AS seq_last,
       CAST((cum - n_tok) % {SEQ_LEN} AS BIGINT) AS tok_offset
FROM per ORDER BY doc_id
"""


# --- span_dedup: substring-level duplicated-span audit ------------------------
# Substring-level dedup (the "duplicated 50-token span" operator of
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better") targets what shingle-Jaccard misses: two mostly-different
# docs sharing one long verbatim run (boilerplate, quoted passages,
# licence blocks). The suffix-array formulation is inherently serial;
# the Spark-scale shape is HASHED FIXED-WIDTH TOKEN WINDOWS at a
# stride: every HOP-aligned SPAN_W-token window hashes to one 64-bit
# ID (polynomial fold over the stateless per-token term hashes — the
# exact chain the oracle replays), and a window occurrence is
# DUPLICATED iff the same hash occurs in at least one OTHER document.
# The stride trades alignment sensitivity for an explode of n/HOP
# rows per doc instead of n; the audit (per source: span totals, dup
# fraction, affected docs) is what sizes a substring-dedup pass.
SPAN_W = 16  # span width in tokens (Lee et al. use 50; test docs are short)
SPAN_HOP = 8  # window stride


def _span_occurrences(docs: DataFrame) -> DataFrame:
    """(doc_id, source, p, h): one row per HOP-aligned SPAN_W-token
    window of each document — ``p`` the 0-based start offset, ``h``
    the polynomial hash of the window's token-id slice. The shared
    core of span_dedup (audit) and span_removal (excision).

    Scale shape: token->tid hashing and the per-window polynomial
    fold happen INSIDE the token array (transform + aggregate over
    slices — map-side, no per-token explode); the ONE Generate emits
    n_tok/HOP span rows per doc. The tids array is bound as a lambda
    variable (transform over a 1-element array, the shingles_col
    idiom) so the per-token hash runs ONCE per row — referencing a
    tids projection from inside the span lambda would be inlined back
    by CollapseProject and re-hash the whole doc per span position
    (measured ~3x slower at the whole-query level, 2.08 -> 0.71s at
    sf0.1). Docs shorter than SPAN_W carry no spans and are absent
    from the output on both engines."""
    tid = (
        f"aggregate(split(t, ''), 0L, "
        f"(a, c) -> (a * {T.TERM_HASH_BASE} + ascii(c)) % {HASH_P})"
    )
    with_toks = docs.select(
        "doc_id", "source", T.tokens_col().alias("toks")
    ).filter(F.size("toks") >= SPAN_W)
    return with_toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(array(transform(toks, t -> {tid})), tids -> "
                f"transform(sequence(0, size(tids) - {SPAN_W}, {SPAN_HOP}), "
                f"p -> named_struct("
                f"'p', p, "
                f"'h', aggregate(slice(tids, p + 1, {SPAN_W}), 0L, "
                f"(h, x) -> (h * {T.TERM_HASH_BASE} + x) % {HASH_P}))))[0]"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "source",
        F.col("s.p").alias("p"),
        F.col("s.h").alias("h"),
    )


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-span audit.

    Scale shape: token->tid hashing and the per-window polynomial
    fold happen INSIDE the token array (transform + aggregate over
    slices — map-side, no per-token explode); the one Generate emits
    n_tok/HOP span rows per doc. Downstream is ONE shuffle on the
    high-cardinality span hash (a min/max window marks cross-doc
    sharing — the capped_shingles window shape: sort-based, spills,
    no collected arrays), then per-doc and per-source aggregates
    over strictly shrinking frames. Docs shorter than SPAN_W carry
    no spans and drop out identically in both engines.
    """
    spans = _span_occurrences(
        spread(load_table(spark, sf_dir, "documents"))
    ).select("doc_id", "source", "h")
    # cross-doc duplication in ONE shuffle: an occurrence is dup iff
    # its hash is seen under >= 2 distinct docs, i.e. min(doc_id) !=
    # max(doc_id) over the h-window (a per-(h, doc) pre-aggregate +
    # second h-shuffle + count window computes the same flag one
    # exchange slower; sort windows spill, so a hot boilerplate hash
    # can't blow a buffer)
    wh = W.partitionBy("h")
    marked = spans.select(
        "doc_id",
        "source",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh))
        .cast("long")
        .alias("dup"),
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count("*").alias("spans_doc"),
        F.sum("dup").alias("dup_doc"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("spans_doc").cast("bigint").alias("total_spans"),
            F.sum("dup_doc").cast("bigint").alias("dup_spans"),
            F.sum((F.col("dup_doc") > 0).cast("bigint"))
            .cast("bigint")
            .alias("docs_affected"),
        )
        .withColumn(
            "dup_frac",
            det_round(
                F.col("dup_spans").cast("double")
                / F.col("total_spans").cast("double"),
                4,
            ),
        )
        .transform(total_order, "source")
    )


SPAN_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS l FROM documents
),
tid AS (
  SELECT doc_id, source,
         list_transform(l, t -> {T.sql_term_hash('t')}) AS tids,
         len(l) AS n
  FROM t WHERE len(l) >= {SPAN_W}
),
sp AS (
  SELECT doc_id, source,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_slice(tids, p + 1, p + {SPAN_W})),
           (h, x) -> (h * {T.TERM_HASH_BASE} + x) % {HASH_P}) AS h
  FROM tid, unnest(range(0, n - {SPAN_W} + 1, {SPAN_HOP})) AS u(p)
),
occ AS (
  SELECT h, doc_id, source, COUNT(*) AS n_occ FROM sp GROUP BY 1, 2, 3
),
marked AS (
  SELECT *, COUNT(*) OVER (PARTITION BY h) AS nd FROM occ
),
pd AS (
  SELECT doc_id, source, SUM(n_occ) AS spans_doc,
         SUM(CASE WHEN nd >= 2 THEN n_occ ELSE 0 END) AS dup_doc
  FROM marked GROUP BY 1, 2
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(spans_doc) AS BIGINT) AS total_spans,
       CAST(SUM(dup_doc) AS BIGINT) AS dup_spans,
       CAST(SUM(CASE WHEN dup_doc > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_affected,
       {sql_det_round("CAST(SUM(dup_doc) AS DOUBLE) / CAST(SUM(spans_doc) AS DOUBLE)", 4)}
         AS dup_frac
FROM pd GROUP BY source ORDER BY source
"""


# --- span_removal: excise duplicated spans, keep one canonical copy ----------
def _span_removed_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, rmpos): per doc, the sorted array of 0-based token
    positions covered by at least one REMOVED span occurrence. An
    occurrence is removed iff its hash appears in a smaller doc_id
    anywhere in the corpus (min(doc_id) over the h-window < doc_id):
    the minimum-id doc is the canonical owner and keeps its copy —
    including all its internal repeats — every other doc loses the
    span (Lee et al. 2021's train-data dedup, at span rather than doc
    granularity; SURVEY §2.3).

    Scale shape: the h-window is the SAME single corpus shuffle
    span_dedup uses (sort-based, spills); the removed starts then
    shuffle ONCE more on doc_id into a per-doc array whose covered-
    position union is computed map-side inside the array (flatten +
    array_distinct over <= n_tok/HOP starts x SPAN_W offsets per doc
    — bounded by 2x the doc's token count at the default W/HOP).
    Only docs that LOSE at least one span appear in the output."""
    occ = _span_occurrences(docs)
    wh = W.partitionBy("h")
    removed = occ.select(
        "doc_id",
        "p",
        (F.min("doc_id").over(wh) < F.col("doc_id")).alias("rm"),
    ).filter(F.col("rm"))
    return (
        removed.groupBy("doc_id")
        .agg(F.collect_set("p").alias("ps"))
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            "ps",
                            lambda p: F.sequence(
                                p, p + F.lit(SPAN_W - 1)
                            ),
                        )
                    )
                )
            ).alias("rmpos"),
        )
    )


def span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc span-removal extents: how many tokens each document
    loses to cross-doc duplicated spans and how many it keeps. The
    per-doc statement of span_dedup's per-source audit — the frame a
    cleaned corpus view (remove_dup_spans) materializes from, and the
    optional corpus_release stage's accounting.

    Joining the removed-position frame back to the corpus is one
    doc_id shuffle join with NO broadcast assumption (at web scale
    the affected-doc set is corpus-sized; AQE broadcasts it when it
    measures small)."""
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id",
        "source",
        F.size(T.tokens_col()).cast("bigint").alias("n_tokens"),
    )
    rm = _span_removed_positions(docs)
    return (
        base.join(rm, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            # size(NULL) is -1 under this session's legacy sizeOfNull,
            # so guard on the ARRAY's nullness, not the size's
            F.when(F.col("rmpos").isNull(), F.lit(0))
            .otherwise(F.size("rmpos"))
            .cast("bigint")
            .alias("n_removed"),
        )
        .withColumn("n_kept", F.col("n_tokens") - F.col("n_removed"))
        .transform(total_order, "doc_id")
    )


def remove_dup_spans(docs: DataFrame) -> DataFrame:
    """The cleaned corpus VIEW: every input column, plus text_clean =
    the document's kept tokens rejoined (removed-span tokens excised,
    canonical copies retained). Pure per-row array work after the one
    doc_id join, and LINEAR in the doc: rmpos (sorted distinct
    positions) collapses to its consecutive runs via two vectorized
    neighbor scans (element_at peeks, no fold), the runs complement
    into kept gaps, and text_clean is the gap slices flattened and
    rejoined. An array_contains-per-token filter here would be
    O(n_tok x |rmpos|) — quadratic for a long heavily-duplicated doc
    (a 100k-token boilerplate page is ~10^10 comparisons); the run
    walk is O(n_tok + |rmpos|). The token array is bound ONCE as a
    lambda variable (the shingles_col idiom) so the gap slices read a
    materialized array instead of re-splitting text per gap; rmpos
    needs no such binding (a join attribute, not a recomputed
    expression). No second explode, no per-token shuffle."""
    with_text = docs.filter(F.col("text").isNotNull())
    rm = _span_removed_positions(with_text)
    joined = with_text.join(rm, "doc_id", "left")
    rmp = F.col("rmpos")
    # run boundaries: x at 0-based index i starts a run iff i == 0 or
    # its predecessor isn't x - 1 (element_at is 1-based, so the
    # predecessor of 0-based i is element_at(rmp, i); the greatest()
    # keeps the probe in bounds on the i == 0 branch, whose value the
    # OR ignores). A run ends where the successor peek (element_at at
    # i + 2) is NULL (past the end, ANSI off) or isn't x + 1.
    run_starts = F.filter(
        rmp,
        lambda x, i: (i == 0)
        | (x != F.element_at(rmp, F.greatest(i, F.lit(1))) + 1),
    )
    run_ends = F.filter(
        rmp,
        lambda x, i: F.element_at(rmp, i + 2).isNull()
        | (F.element_at(rmp, i + 2) != x + 1),
    )

    def excised(tk):
        # kept gaps: [0, first_run_start), between-run gaps, and
        # [last_run_end + 1, n_tok) — zipped starts/ends are equal
        # length by construction (runs are disjoint and sorted), and
        # an empty gap slices to an empty array (length clamped >= 0).
        gap_starts = F.concat(
            F.array(F.lit(0)), F.transform(run_ends, lambda e: e + 1)
        )
        gap_ends = F.concat(run_starts, F.array(F.size(tk)))
        return F.array_join(
            F.flatten(
                F.zip_with(
                    gap_starts,
                    gap_ends,
                    lambda a, b: F.slice(
                        tk, a + 1, F.greatest(b - a, F.lit(0))
                    ),
                )
            ),
            " ",
        )

    cleaned = F.when(rmp.isNull(), F.col("text")).otherwise(
        F.transform(F.array(T.tokens_col()), excised)[0]
    )
    return joined.withColumn("text_clean", cleaned).drop("rmpos")


def _span_removal_sql() -> str:
    tid = T.sql_term_hash("t")
    return f"""
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS l
  FROM documents WHERE text IS NOT NULL
),
tid AS (
  SELECT doc_id, list_transform(l, t -> {tid}) AS tids, len(l) AS n
  FROM t WHERE len(l) >= {SPAN_W}
),
sp AS (
  SELECT doc_id, p,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_slice(tids, p + 1, p + {SPAN_W})),
           (h, x) -> (h * {T.TERM_HASH_BASE} + x) % {HASH_P}) AS h
  FROM tid, unnest(range(0, n - {SPAN_W} + 1, {SPAN_HOP})) AS u(p)
),
mk AS (
  SELECT doc_id, p, min(doc_id) OVER (PARTITION BY h) AS own FROM sp
),
rm AS (
  SELECT doc_id, COUNT(DISTINCT q) AS n_removed
  FROM mk, unnest(range(p, p + {SPAN_W})) AS v(q)
  WHERE own < doc_id GROUP BY doc_id
)
SELECT b.doc_id, b.source,
       CAST(len(b.l) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(len(b.l) - COALESCE(r.n_removed, 0) AS BIGINT) AS n_kept
FROM t b LEFT JOIN rm r USING (doc_id)
ORDER BY b.doc_id
"""


SPAN_REMOVAL_SQL = _span_removal_sql()


# --- span_decontam: exact-substring benchmark decontamination ----------------
def span_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination audit (NEW r16): per TRAIN
    source, how much of the corpus verbatim-overlaps the held-out
    benchmark set — the span-level complement of `contamination`
    (which pairs docs on shingle-OVERLAP counts; this flags any doc
    carrying even ONE SPAN_W-token run that appears verbatim in a
    benchmark doc, the leakage mode n-gram overlap thresholds miss
    and the one GPT-3/PaLM-style decontamination actually removes).
    The benchmark set is the CONTAM_BENCH_SOURCE stratum (same
    convention as `contamination`); spans are the HOP-aligned
    SPAN_W-token polynomial hashes of _span_occurrences — shared code
    with span_dedup/span_removal, so the three span operators cannot
    disagree on what a span is.

    Scale shape — the decontamination asymmetry is the whole design:
    a benchmark corpus is MBs-to-GBs while the train corpus is the
    100 TB side, so the distinct bench span-hash set (8-byte hashes)
    is broadcast and the train side is ONE map-side scan: Generate
    span rows at stride, probe the broadcast set, partial-agg per
    (doc, source) where span rows of a doc are partition-local by
    construction (they come from one Generate parent row), then the
    tiny |sources| audit agg. No train-side pre-agg shuffle, no
    h-keyed corpus exchange (span_dedup needs one because BOTH sides
    are corpus-scale; here the bench side is bounded). Past broadcast
    reach (a multi-TB bench set — not a benchmark anymore) the same
    plan degrades to an h-keyed shuffle join. The ingest-time
    counterpart (streaming/decontam.py) vetoes on shingle OVERLAP —
    the `contamination` rule; this operator is the exact-substring
    complement, and its broadcast span set drops into the same
    stream-static join shape (dedup-ingest --decontam-mode spans)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # the bench branch re-runs the span Generate over the UN-spread
    # table: its source filter pushes to the parquet scan, so it only
    # tokenizes the benchmark stratum, and a spread() repartition of
    # that small stratum would buy nothing while costing an exchange
    # plus a stage of task scheduling (measured 1.02 -> 0.73s at
    # sf0.1 whole-query). At production scale the bench set is its
    # own small table and this branch is a dictionary read.
    return span_decontam_audit(
        docs.filter(F.col("source") != CONTAM_BENCH_SOURCE),
        load_table(spark, sf_dir, "documents").filter(
            F.col("source") == CONTAM_BENCH_SOURCE
        ),
    )


def span_decontam_audit(
    train_docs: DataFrame, bench_docs: DataFrame
) -> DataFrame:
    """The frame-level core of span_decontam (the registered query
    binds the CONTAM_BENCH_SOURCE stratum split; callers with an
    external benchmark table pass it here directly): per train
    source, the exact-substring contamination audit against
    bench_docs' distinct span-hash set."""
    bench_h = (
        _span_occurrences(bench_docs)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    marked = (
        _span_occurrences(train_docs)
        .select("doc_id", "source", "h")
        .join(F.broadcast(bench_h), "h", "left")
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count("*").alias("spans_doc"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("contam_doc"),
    )
    contaminated = F.col("contam_doc") > 0
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("spans_doc").cast("bigint").alias("total_spans"),
            F.sum("contam_doc").cast("bigint").alias("contam_spans"),
            F.sum(contaminated.cast("long"))
            .cast("bigint")
            .alias("contam_docs"),
            F.sum(F.when(contaminated, F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("contam_checksum"),
        )
        .withColumn(
            "contam_frac",
            det_round(
                F.col("contam_spans").cast("double")
                / F.col("total_spans").cast("double"),
                4,
            ),
        )
        .transform(total_order, "source")
    )


def _span_decontam_sql() -> str:
    """Oracle: the span_dedup sp chain with source kept, bench hashes
    deduplicated, train occurrences LEFT-joined to the bench set."""
    tid = T.sql_term_hash("t")
    return f"""
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS l FROM documents
),
tid AS (
  SELECT doc_id, source,
         list_transform(l, t -> {tid}) AS tids,
         len(l) AS n
  FROM t WHERE len(l) >= {SPAN_W}
),
sp AS (
  SELECT doc_id, source,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_slice(tids, p + 1, p + {SPAN_W})),
           (h, x) -> (h * {T.TERM_HASH_BASE} + x) % {HASH_P}) AS h
  FROM tid, unnest(range(0, n - {SPAN_W} + 1, {SPAN_HOP})) AS u(p)
),
bench AS (
  SELECT DISTINCT h FROM sp WHERE source = '{CONTAM_BENCH_SOURCE}'
),
pd AS (
  SELECT s.doc_id, s.source, COUNT(*) AS spans_doc,
         SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS contam_doc
  FROM sp s LEFT JOIN bench b USING (h)
  WHERE s.source != '{CONTAM_BENCH_SOURCE}'
  GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(spans_doc) AS BIGINT) AS total_spans,
       CAST(SUM(contam_doc) AS BIGINT) AS contam_spans,
       CAST(SUM(CASE WHEN contam_doc > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS contam_docs,
       CAST(SUM(CASE WHEN contam_doc > 0 THEN doc_id ELSE 0 END) AS BIGINT)
         AS contam_checksum,
       {sql_det_round("CAST(SUM(contam_doc) AS DOUBLE) / CAST(SUM(spans_doc) AS DOUBLE)", 4)}
         AS contam_frac
FROM pd GROUP BY source ORDER BY source
"""


SPAN_DECONTAM_SQL = _span_decontam_sql()


# --- corpus_release: the end-to-end training-data release -------------------
def release_members(
    spark: SparkSession,
    sf_dir: str,
    mix_alpha: float | None = None,
    quality_classifier: bool = False,
    decontam_spans: bool = False,
) -> DataFrame:
    """The released doc set — (source, split, doc_id, n_chars), one row
    per surviving document. Shared by corpus_release (which aggregates
    the audit card) and release.write_release (which joins text back on
    and materializes the corpus through SnapshotTable).

    ``mix_alpha`` selects the mixing law: None (default) is the
    all-integer character-budget equalization (source_mix's rule,
    alpha = 0); 0.5 is the temperature law (temperature_mix's rule —
    small sources upweighted, the sqrt form whose integer ppm
    threshold is bit-portable cross-engine). Other alphas are refused:
    their pow() thresholds are engine-local (see temp_rate_ppm).

    ``quality_classifier=True`` composes the hashed-n-gram classifier
    (plans.corpus.ngram_doc_scores — the ngram_quality query's exact
    fit+score core) into the quality gate as a STRICT second stage:
    docs scoring below NGQ_HI_PPM are dropped after the repetition
    verdict and before dedup survivorship + mixing, so the budgets and
    splits recompute over the classifier-surviving set (the audit card
    stays internally consistent by construction). Docs with no bigram
    features carry no classifier evidence and pass (anti-join on the
    LOW scorers, not semi-join on the high). Off by default — the
    registered corpus_release contract is unchanged.

    ``decontam_spans=True`` composes exact-substring benchmark
    decontamination (the span_decontam rule: one verbatim SPAN_W-token
    run shared with the CONTAM_BENCH_SOURCE stratum drops the doc)
    into the same pre-mixing stage, so budgets and splits recompute
    over the decontaminated set. The bench stratum itself is not
    touched (release membership for the held-out slice is the
    caller's policy, not this filter's). Off by default."""
    pairs = _q26_pairs(spark, sf_dir).select("doc_id", "doc_id2")
    labels = D.connected_components(pairs)
    dropped = labels.filter(F.col("cluster_id") != F.col("doc_id")).select(
        "doc_id"
    )
    docs = spread(load_table(spark, sf_dir, "documents"))
    # The quality gate as a DIRECT filter on rep_keep_col() — identical
    # verdict to _rep_per_doc + filter(verdict == 'keep') (same counts
    # struct, same keep condition, same NULL handling: a NULL verdict
    # and a NULL filter both drop) — wrapped in eval_here so the
    # expensive predicate is evaluated ONCE, above spread()'s exchange.
    # The r18 shape filtered on the projected `verdict` column, and
    # predicate pushdown substituted it through the projection chain
    # down to the single-partition scan, re-inlining the _REP_COUNTS
    # fold once per extracted field: 6 fold copies x 1 task x 3 plan
    # branches (measured ~0.7 s single-threaded per branch at sf0.1).
    # rep_keep_col binds the struct once (1 fold copy, verified in the
    # plan) and the barrier keeps it on the 16-way-spread side.
    kept = (
        docs.filter(F.col("text").isNotNull())
        .filter(eval_here(rep_keep_col()))
        .select("source", "doc_id", "n_chars")
        .join(dropped, "doc_id", "left_anti")
    )
    if quality_classifier:
        # local import: corpus.py imports this module at top level
        from etl_wikipedia_updates_spark.plans.corpus import (
            NGQ_BUCKETS,
            NGQ_HI_PPM,
            fit_ngram_weights,
            ngram_doc_scores,
        )

        scored = docs.filter(F.col("text").isNotNull())
        # fetch the classifier weights through the SAME memo key
        # ngram_quality uses (r15 advice): the fit is a pure function
        # of (sf_dir, bucket count), so a session that builds both
        # pays it once, and this builder stays lazy on a warm cache
        # instead of collecting the full-corpus fit at plan-BUILD time
        weights = _memo_model(
            spark,
            sf_dir,
            f"ngq_weights_{NGQ_BUCKETS}",
            lambda: fit_ngram_weights(scored),
        )
        low = (
            ngram_doc_scores(scored, weights)
            .filter(F.col("score_ppm") < NGQ_HI_PPM)
            .select("doc_id")
        )
        kept = kept.join(low, "doc_id", "left_anti")
    if decontam_spans:
        # contaminated = any train doc sharing >= 1 exact span with
        # the bench stratum (span_decontam's contam_doc > 0 set); the
        # bench span set is bounded, so the probe broadcasts and the
        # corpus side stays map-side — same asymmetry as the audit
        bench_h = (
            _span_occurrences(
                docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
            )
            .select("h")
            .distinct()
        )
        contaminated = (
            _span_occurrences(
                docs.filter(F.col("source") != CONTAM_BENCH_SOURCE)
            )
            .join(F.broadcast(bench_h), "h")
            .select("doc_id")
            .distinct()
        )
        kept = kept.join(contaminated, "doc_id", "left_anti")
    budgets = kept.groupBy("source").agg(F.sum("n_chars").alias("chars_q"))
    if mix_alpha is None:
        # window floor over the |sources|-row budgets frame — the agg
        # + crossJoin(broadcast) form planned the budgets subtree (and
        # with it the whole quality-filter scan) TWICE; see temp_rates
        rates = budgets.withColumn(
            "min_chars", F.min("chars_q").over(W.partitionBy())
        )
        mixed = kept.join(F.broadcast(rates), "source").filter(
            mix_keep_cond("chars_q", "min_chars")
        )
    elif mix_alpha == TEMP_ALPHA:
        # the shared temperature model (zero-char-stratum guard
        # included) — the same temp_rates the ingest-time stage fits
        # from a static frame, so release and stream cannot diverge
        mixed = kept.join(F.broadcast(temp_rates(budgets)), "source").filter(
            temp_keep_cond()
        )
    else:
        raise ValueError(
            f"mix_alpha={mix_alpha!r}: only None (budget equalization) "
            f"and {TEMP_ALPHA} (bit-portable temperature law) are "
            "contract mixing rules"
        )
    return mixed.select(
        "source", split_col().alias("split"), "doc_id", "n_chars"
    )


def corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition: the full release pipeline a training
    run consumes, as ONE declarative plan — near-dup removal (connected
    components over the exact shingle-Jaccard graph, non-canonical
    members dropped), Gopher-style repetition quality filter,
    token-budget mixing to the smallest surviving source, and the
    deterministic train/test hash split — ending in the audit card a
    release ships with (per source x split: docs, chars, id checksum).

    Every stage reuses a certified operator's exact logic
    (_q26_pairs + connected_components, _rep_per_doc, source_mix's
    integer membership rule, sample_hash's split rule), so Catalyst
    sees one DAG: the dedup and quality branches each scan the
    column-pruned documents table once (two parquet scans, no
    intermediate tables materialized between stages), the budget frame
    is |sources| rows broadcast back, and membership/split are
    stateless per-row integer math. At 100 TB nothing new materializes
    beyond what the component queries already shuffle — the
    composition adds one anti-join (labels are |clustered docs| rows,
    no forced broadcast: web-corpus dup rates make that frame
    corpus-scale, AQE broadcasts it when it measures small) and one
    broadcast join."""
    return release_audit(release_members(spark, sf_dir))


def release_audit(members: DataFrame) -> DataFrame:
    """The audit card over a (source, split, doc_id, n_chars) member
    frame — split out so release.write_release can aggregate the SAME
    (persisted) members it materializes instead of rebuilding the
    pipeline twice."""
    return (
        members.groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .transform(total_order, "source", "split")
    )


def _corpus_release_sql(temperature: bool) -> str:
    """The release oracle with the mixing CTE selected by law: the
    all-integer budget rule, or the temperature ppm threshold (the
    sql_temp_rate_ppm twin of release_members' mix_alpha=0.5 path)."""
    if temperature:
        mix_where = (
            f"({sql_ubucket(TEMP_A, TEMP_B, TEMP_BUCKETS, 'k.doc_id')})"
            f" < {sql_temp_rate_ppm('b.chars_q', 'f.min_chars')}"
        )
        # the zero-char-stratum guard, mirroring release_members'
        # temperature path (and temperature_mix's floor)
        floor_sel = (
            "SELECT MIN(chars_q) AS min_chars FROM budgets WHERE chars_q > 0"
        )
    else:
        mix_where = (
            f"({sql_ubucket(MIX_A, MIX_B, MIX_BUCKETS, 'k.doc_id')})"
            f" * b.chars_q < f.min_chars * {MIX_BUCKETS}"
        )
        floor_sel = "SELECT MIN(chars_q) AS min_chars FROM budgets"
    return f"""
WITH RECURSIVE {_CC_CTES},
dropped AS (SELECT doc_id FROM cc WHERE cluster_id != doc_id),
{_REP_PER_DOC_CTES},
keptq AS (
  SELECT source, doc_id, n_chars FROM m
  WHERE {_REP_KEEP_COND}
    AND doc_id NOT IN (SELECT doc_id FROM dropped)
),
budgets AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars_q
  FROM keptq GROUP BY source
),
floor_b AS ({floor_sel}),
mixed AS (
  SELECT k.source, k.doc_id, k.n_chars
  FROM keptq k JOIN budgets b USING (source) CROSS JOIN floor_b f
  WHERE {mix_where}
)
SELECT source,
  CASE WHEN {sql_ubucket(SAMPLE_A, SAMPLE_B, SAMPLE_BUCKETS)}
            < {SAMPLE_TEST_BUCKETS} THEN 'test' ELSE 'train' END AS split,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM mixed GROUP BY 1, 2 ORDER BY source, split
"""


CORPUS_RELEASE_SQL = _corpus_release_sql(temperature=False)
CORPUS_RELEASE_TEMP_SQL = _corpus_release_sql(temperature=True)


def corpus_release_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_release under the temperature mixing law (mix_alpha=0.5):
    the identical dedup/quality/split stages, with small sources
    upweighted instead of every source clamped to the smallest
    character budget. Same scale shape as corpus_release — the law
    only changes the per-source integer threshold computed on the
    |sources|-row broadcast frame."""
    return release_audit(release_members(spark, sf_dir, mix_alpha=TEMP_ALPHA))


NORTHSTAR_QUERIES: list[DeclaredQuery] = [
    DeclaredQuery(
        "corpus_stats", corpus_stats, CORPUS_STATS_SQL, "per-(source,lang) dataset card"
    ),
    DeclaredQuery(
        "bm25_rank", bm25_rank, BM25_SQL, "BM25 ranking (rational idf)"
    ),
    DeclaredQuery(
        "span_dedup",
        span_dedup,
        SPAN_DEDUP_SQL,
        "substring-level duplicated-span audit (hashed token windows)",
    ),
    DeclaredQuery(
        "span_removal",
        span_removal,
        SPAN_REMOVAL_SQL,
        "per-doc duplicated-span excision extents (canonical copy kept)",
    ),
    DeclaredQuery(
        "span_decontam",
        span_decontam,
        SPAN_DECONTAM_SQL,
        "exact-substring benchmark decontamination audit (broadcast span probe)",
    ),
    DeclaredQuery("q23", q23, Q23_SQL, "word count (text analysis)"),
    DeclaredQuery("q24", q24, Q24_SQL, "exact dedup (R10)"),
    DeclaredQuery("q25", q25, Q25_SQL, "cosine top-k (brute force)"),
    DeclaredQuery("q26", q26, Q26_SQL, "Jaccard near-dup (inverted index)"),
    DeclaredQuery("q27", q27, Q27_SQL, "label centroid distance"),
    DeclaredQuery("q28", q28, Q28_SQL, "pandas_udf surface"),
    DeclaredQuery(
        "grouped_zscore",
        grouped_zscore,
        GROUPED_ZSCORE_SQL,
        "applyInPandas grouped-map surface",
    ),
    DeclaredQuery("minhash_lsh", minhash_lsh, MINHASH_SQL, "MinHash+LSH near-dup"),
    DeclaredQuery(
        "source_overlap",
        source_overlap,
        SOURCE_OVERLAP_SQL,
        "cross-source MinHash resemblance matrix (pre-mixing overlap audit)",
    ),
    DeclaredQuery("simhash_pairs", simhash_pairs, SIMHASH_SQL, "SimHash near-dup"),
    DeclaredQuery(
        "lang_id",
        lang_id,
        LANG_ID_SQL,
        "language-ID confusion matrix",
        eager=True,  # lang-profile model fit runs a job at build time
    ),
    DeclaredQuery(
        "lang_id_chargram",
        lang_id_chargram,
        LANG_ID_CHARGRAM_SQL,
        "language-ID via char-trigram profiles",
        eager=True,  # trigram-profile model fit runs a job at build time
    ),
    DeclaredQuery(
        "ann_sq8",
        ann_sq8,
        ANN_SQ8_SQL,
        "int8-quantized scan + exact rescore top-k",
    ),
    DeclaredQuery(
        "grouped_agg_udf",
        grouped_agg_udf,
        GROUPED_AGG_UDF_SQL,
        "pandas_udf grouped-aggregate surface",
    ),
    DeclaredQuery(
        "text_quality",
        text_quality,
        TEXT_QUALITY_SQL,
        "quality scoring",
        eager=True,  # stopword-model fit runs a job at build time
    ),
    DeclaredQuery("token_stats", token_stats, TOKEN_STATS_SQL, "token counting"),
    DeclaredQuery(
        "doc_fingerprint", doc_fingerprint, DOC_FINGERPRINT_SQL, "rolling-hash fingerprint"
    ),
    DeclaredQuery("ann_ivf", ann_ivf, ANN_IVF_SQL, "IVF cell-probed top-k"),
    DeclaredQuery("sample_hash", sample_hash, SAMPLE_HASH_SQL, "deterministic hash split"),
    DeclaredQuery(
        "stratified_sample",
        stratified_sample,
        STRATIFIED_SAMPLE_SQL,
        "per-stratum deterministic sampling",
    ),
    DeclaredQuery(
        "tfidf_topterms",
        tfidf_topterms,
        TFIDF_SQL,
        "TF-IDF top terms per document",
    ),
    DeclaredQuery(
        "quantize_embeddings",
        quantize_embeddings,
        QUANTIZE_SQL,
        "int8 symmetric quantization",
    ),
    DeclaredQuery("ann_lsh", ann_lsh, _ann_lsh_sql(), "LSH-bucketed top-k"),
    DeclaredQuery(
        "ann_lsh_multiprobe",
        ann_lsh_multiprobe,
        ANN_LSH_MULTIPROBE_SQL,
        "multi-probe LSH top-k (Hamming<=1 buckets, the recall lever)",
    ),
    DeclaredQuery(
        "text_normalize", text_normalize, TEXT_NORMALIZE_SQL, "cleaning pass"
    ),
    DeclaredQuery(
        "contamination",
        contamination,
        CONTAMINATION_SQL,
        "cross-corpus shingle overlap",
    ),
    DeclaredQuery(
        "dedup_clusters",
        dedup_clusters,
        DEDUP_CLUSTERS_SQL,
        "connected components over near-dup pairs",
        eager=True,  # CC strategy probe runs jobs at build time
    ),
    DeclaredQuery(
        "dedup_corpus",
        dedup_corpus,
        DEDUP_CORPUS_SQL,
        "end-to-end dedup: corpus minus non-canonical near-dups",
        eager=True,  # CC strategy probe runs jobs at build time
    ),
    DeclaredQuery("cosine_neardup", cosine_neardup, COSINE_NEARDUP_SQL, "cosine near-dup"),
    DeclaredQuery("multimodal_bytes", multimodal_bytes, MULTIMODAL_SQL, "binary payload features"),
    DeclaredQuery(
        "rep_filter",
        rep_filter,
        REP_FILTER_SQL,
        "repetition-based quality filter (Gopher-style)",
    ),
    DeclaredQuery(
        "source_mix",
        source_mix,
        SOURCE_MIX_SQL,
        "token-budget-balanced deterministic data mixing",
    ),
    DeclaredQuery(
        "corpus_release",
        corpus_release,
        CORPUS_RELEASE_SQL,
        "end-to-end release: dedup + quality filter + mix + split",
        eager=True,  # CC strategy probe runs jobs at build time
    ),
    DeclaredQuery(
        "corpus_release_temp",
        corpus_release_temp,
        CORPUS_RELEASE_TEMP_SQL,
        "the release under the temperature (alpha=0.5) mixing law",
        eager=True,  # CC strategy probe runs jobs at build time
    ),
    DeclaredQuery(
        "seq_pack",
        seq_pack,
        SEQ_PACK_SQL,
        "GPT-style sequence-packing audit (concat-then-chunk)",
    ),
    DeclaredQuery(
        "pack_assignments",
        pack_assignments,
        PACK_ASSIGNMENTS_SQL,
        "per-doc (sequence, offset) packing map — seq_pack's consumable half",
    ),
    DeclaredQuery(
        "packed_sequences",
        packed_sequences_q,
        PACKED_SEQUENCES_SQL,
        "materialized packed training sequences (fragment-level assembly)",
    ),
]
