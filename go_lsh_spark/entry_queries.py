"""Driver-contract queries: each SURVEY.md §2 operator (and the
training-data extensions) as a (spark, sf_dir) -> DataFrame callable plus,
where SQL-expressible, a DuckDB oracle string computing the same result.

Design constraints:
  * column names and aliases match between Spark and SQL (driver hashes
    values after sorting columns by name)
  * floating-point outputs are rounded to 6 decimals on BOTH sides
  * the hash plane matrix is a shared literal (seeded PlaneSet) embedded in
    the SQL string, so both engines hash identically
  * every query reads only the driver's parquet tables (TESTDATA.md); the
    audio queries synthesize their clips in-process (deterministic, seeded)
"""

from __future__ import annotations

import os
from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from go_lsh_spark.config import DedupConfig, LSHConfig
from go_lsh_spark.functions import text as T
from go_lsh_spark.functions import vector as V
from go_lsh_spark.hyperplanes import PlaneSet

# -- shared hash config (embeddings are 64-dim float) ------------------------
EMB_DIM = 64
N_TABLES = 2
N_HYPER = 8
SEED = 42

THRESHOLD = 0.2  # embeddings are weakly clustered; 0.2 keeps ~15% of pairs
TOPK = 5
N_QUERIES = 20


@lru_cache(maxsize=1)
def _planes() -> np.ndarray:
    """(T, H, V) tensor shared by the Spark pipeline and the SQL oracle."""
    cfg = LSHConfig(
        num_hyperplanes=N_HYPER,
        num_tables=N_TABLES,
        vector_length=EMB_DIM,
        seed=SEED,
        independent_tables=False,
    )
    return PlaneSet(cfg).tensor


_SCHEMA_CACHE: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the inferred schema cached per
    (application, path): plain reads re-read the parquet footer at every
    DataFrame CONSTRUCTION (~80ms each; the frozen bench times query
    construction, and several queries read 2-3 tables per invocation),
    while a schema-supplied read is ~13ms. Only metadata is cached --
    every action still lists and scans the files, so results always come
    from the parquet inputs."""
    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


_SPREAD_CACHE: dict = {}


def _read(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = True
) -> DataFrame:
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if not parallel:
        # queries that are a single cheap aggregation over the scan opt out:
        # for them the spread exchange costs more than the parallelism buys
        return df
    # The driver's small-SF parquet files hold a single row group, so the
    # scan plans as ONE task and every expression-heavy projection above it
    # (md5 shingle hashing, 16 hyperplane dot products per row, ...) runs
    # single-threaded. Spread the rows across the session's cores with one
    # tiny round-robin exchange -- gated on the MEASURED scan parallelism so
    # a wide production scan (many row groups / files) is left untouched.
    # The measurement (df.rdd partition planning = a file listing + py4j
    # round trip, ~100ms) is cached per (application, path): the file set
    # backing a driver table does not change mid-session, and only the
    # spread DECISION is cached -- every action still scans the files.
    par = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, os.path.join(sf_dir, name), par)
    spread = _SPREAD_CACHE.get(key)
    if spread is None:
        spread = df.rdd.getNumPartitions() < par
        _SPREAD_CACHE[key] = spread
    if spread:
        df = df.repartition(par)
    return df


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's compute parallelism (never
    below the configured shuffle width). For stages whose rows are a few
    BYTES but cost heavy per-row expressions (array intersects, md5
    chains), AQE's byte-based partition coalescing collapses the upstream
    shuffle to one task and the whole pass runs single-threaded; an
    explicit repartition is exempt from AQE coalescing and the exchange
    moves only the tiny rows. Scale-adaptive by construction: the width
    tracks cluster cores / configured shuffle partitions, not a constant."""
    spark = df.sparkSession
    par = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return df.repartition(par)


def _materialize(df: DataFrame) -> DataFrame:
    """Compute a reused subtree once per query invocation: a LAZY local
    checkpoint materializes inside the query's own action and every other
    branch of the plan reads the stored partitions instead of recomputing
    the subtree (the guide's plan-truncation device, §3.3/§5). Nothing
    persists across invocations -- each call builds a fresh RDD, so every
    bench/oracle run still computes from the parquet inputs."""
    return df.localCheckpoint(eager=False)


def _emb_double(df: DataFrame) -> DataFrame:
    return df.withColumn("emb", F.col("embedding").cast("array<double>"))


def _emb_mat(
    spark: SparkSession, sf_dir: str, norm: bool = False, pearson_stats: bool = False
) -> DataFrame:
    """Materialized embeddings frame with the requested per-vector scoring
    statistics precomputed ONCE per vector inside the materialization.
    The pair-scoring expressions (cosine / pearson + snap + any pushed
    threshold filter) textually duplicate their whole tree several times
    per row; hoisting the single-side terms (L2 norm, element sum,
    variance) out of the per-pair expression removes most of the
    interpreted 64-element aggregate evaluations while keeping the scored
    values bit-identical (same IEEE ops, same order -- see
    functions/vector.py cosine_with_norms / pearson_with_stats)."""
    df = _emb_double(_read(spark, sf_dir, "embeddings"))
    if norm:
        df = df.withColumn("_nrm", V.vector_norm("emb"))
    if pearson_stats:
        df = df.withColumn("_ps", V.pearson_sum("emb")).withColumn(
            "_pv", V.pearson_var("emb")
        )
    return _materialize(df)


@lru_cache(maxsize=None)
def _plane_lit_cached(t: int, i: int) -> "F.Column":
    # one Literal(array) per plane instead of 64 py4j F.lit round trips per
    # use: Column objects are plain expression wrappers, reusable across
    # DataFrames, and the plane tensor is seeded config, not data
    plane = _planes()[t, i]
    try:
        return F.lit([float(x) for x in plane])
    except Exception:  # noqa: BLE001 -- older lit() without array support
        return F.array(*[F.lit(float(x)) for x in plane])


def _dot_plane(emb, t: int, i: int):
    return V.dot(emb, _plane_lit_cached(t, i))


@lru_cache(maxsize=None)
def _hash_col(emb, t: int):
    """Bucket hash of table t: bit i set iff dot(plane_{t,i}, v) > 0, MSB
    first (hyperplanes/hyperplanes.go:103-128). L2-normalizing first is a
    sign-hash no-op, so both engines skip it.

    Memoized per (emb column name, t): every caller passes the column NAME
    "emb" (a plain string hashes; the built tree costs ~25 py4j round trips
    per table, re-paid at each bench-timed query construction otherwise)."""
    acc = F.lit(0)
    for i in range(N_HYPER):
        bit = 1 << (N_HYPER - 1 - i)
        acc = acc + F.when(_dot_plane(emb, t, i) > 0.0, F.lit(bit)).otherwise(F.lit(0))
    return acc


def _sql_plane_list(plane: np.ndarray) -> str:
    return "[" + ",".join(repr(float(x)) for x in plane) + "]"


def _sql_dot(emb_expr: str, plane: np.ndarray) -> str:
    return f"list_dot_product({emb_expr}, {_sql_plane_list(plane)})"


def _sql_hash(emb_expr: str, t: int) -> str:
    planes = _planes()
    terms = [
        f"(CASE WHEN {_sql_dot(emb_expr, planes[t, i])} > 0.0 THEN {1 << (N_HYPER - 1 - i)} ELSE 0 END)"
        for i in range(N_HYPER)
    ]
    return "(" + " + ".join(terms) + ")"


_SQL_EMB = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


# ---------------------------------------------------------------------------
# O2/O4: signature construction over the embeddings table
# ---------------------------------------------------------------------------


def _buckets_from(emb: DataFrame) -> DataFrame:
    parts = [
        emb.select(
            "vec_id",
            F.lit(t).alias("table_id"),
            _hash_col("emb", t).alias("hash"),
        )
        for t in range(N_TABLES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _buckets_single_pass(emb: DataFrame) -> DataFrame:
    """Same row multiset as _buckets_from, built by ONE pass over emb
    (posexplode of the per-table hash array) instead of an N_TABLES-branch
    union: the input is read once, and the result keeps emb's partition
    count instead of N_TABLES times it (the union form planned 64 tasks
    for every downstream consumer at 32 partitions). Used by the
    pair-building queries, whose bucket tables are materialized (so the
    union form's count-pruning advantage does not apply there);
    q_simhash_buckets itself keeps the union form, where a bare count()
    prunes the hash expressions entirely. Equivalence pinned by
    tests/test_delete_recall.py::test_buckets_single_pass_matches_union."""
    hashes = F.array(
        *[_hash_col("emb", t) for t in range(N_TABLES)]
    )
    return emb.select("vec_id", F.posexplode(hashes)).toDF(
        "vec_id", "table_id", "hash"
    )


def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread opt-out (the exact_dedup/row_index_pruning rationale): this
    # query's standalone consumers are a count (bench -- Catalyst prunes
    # every hash expression, so the spread exchange parallelizes nothing
    # and measured 0.20 -> 0.15 s without it) and the oracle's collect at
    # the tiny driver SFs; the hash-evaluating pair queries build their
    # bucket tables from the materialized emb frame instead, which keeps
    # the spread. A wide production scan never spread here anyway (the
    # gate is on measured scan parallelism).
    return _buckets_from(_emb_double(_read(spark, sf_dir, "embeddings", parallel=False)))


def sql_simhash_buckets() -> str:
    selects = [
        f"SELECT vec_id, {t} AS table_id, {_sql_hash(_SQL_EMB, t)} AS hash FROM embeddings"
        for t in range(N_TABLES)
    ]
    return " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# O7/O8: bucket-join candidate pairs (all-pairs dedup form)
# ---------------------------------------------------------------------------


def q_bucket_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both sides of the self-join read the same bucket table: materialize it
    # once (was: the scan + 16 hyperplane dots per row computed twice)
    b = _materialize(
        _buckets_single_pass(_emb_double(_read(spark, sf_dir, "embeddings")))
    )
    return _pairs_from_buckets(b)


def _pairs_from_buckets(b: DataFrame) -> DataFrame:
    return (
        b.alias("a")
        .join(
            b.alias("b"),
            [
                F.col("a.table_id") == F.col("b.table_id"),
                F.col("a.hash") == F.col("b.hash"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        .distinct()
    )


def sql_bucket_join_pairs() -> str:
    return f"""
    WITH buckets AS ({sql_simhash_buckets()})
    SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
    FROM buckets a JOIN buckets b
      ON a.table_id = b.table_id AND a.hash = b.hash AND a.vec_id < b.vec_id
    """


# ---------------------------------------------------------------------------
# O10/O11: Pearson scoring + threshold/sign predicate
# ---------------------------------------------------------------------------


def _pairs_with_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # emb feeds both join sides -- materialize the cast (and the per-vector
    # pearson sum/variance terms) once
    emb = _emb_mat(spark, sf_dir, pearson_stats=True)
    # buckets built from the SAME materialized emb frame (one scan, one
    # spread exchange for the whole query instead of two)
    pairs = _pairs_from_buckets(_materialize(_buckets_single_pass(emb)))
    ea = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("emb").alias("emb_a"),
        F.col("_ps").alias("_ps_a"),
        F.col("_pv").alias("_pv_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("emb").alias("emb_b"),
        F.col("_ps").alias("_ps_b"),
        F.col("_pv").alias("_pv_b"),
    )
    return (
        pairs.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(
                V.pearson_with_stats(
                    "emb_a", "emb_b", "_ps_a", "_ps_b", "_pv_a", "_pv_b"
                ),
                6,
            ).alias("score"),
        )
    )


def q_pearson_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs_with_scores(spark, sf_dir)


_SQL_PEARSON = """
    (list_dot_product(a.embd, b.embd) - list_sum(a.embd) * list_sum(b.embd) / 64.0)
    / ( sqrt(list_dot_product(a.embd, a.embd) - list_sum(a.embd) * list_sum(a.embd) / 64.0)
      * sqrt(list_dot_product(b.embd, b.embd) - list_sum(b.embd) * list_sum(b.embd) / 64.0) )
"""


def sql_pearson_scores() -> str:
    return f"""
    WITH buckets AS ({sql_simhash_buckets()}),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM buckets a JOIN buckets b
        ON a.table_id = b.table_id AND a.hash = b.hash AND a.vec_id < b.vec_id
    ),
    embd AS (SELECT vec_id, {_SQL_EMB} AS embd FROM embeddings)
    SELECT p.vec_id_a, p.vec_id_b, ROUND({_SQL_PEARSON}, 6) AS score
    FROM pairs p JOIN embd a ON p.vec_id_a = a.vec_id
                 JOIN embd b ON p.vec_id_b = b.vec_id
    """


def q_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # results/results.go:35-40 with SignFilter_POS
    return _pairs_with_scores(spark, sf_dir).filter(
        (F.abs(F.col("score")) >= THRESHOLD) & (F.col("score") > 0)
    )


def sql_threshold_filter() -> str:
    return f"""
    WITH scored AS ({sql_pearson_scores()})
    SELECT * FROM scored WHERE ABS(score) >= {THRESHOLD} AND score > 0
    """


# ---------------------------------------------------------------------------
# O12/O13: per-query top-K with the reference's tie order
# ---------------------------------------------------------------------------


def _topk_cosine_from(emb: DataFrame) -> DataFrame:
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("_nrm").alias("_qn"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("_nrm").alias("_cn"),
    )
    scored = (
        q.crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.cosine_with_norms("qemb", "cemb", "_qn", "_cn"), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-K neighbors for query ids < N_QUERIES
    (the ANN baseline; O12 window top-K). emb is materialized once -- the
    query and candidate sides of the cross join read the same subtree."""
    return _topk_cosine_from(_emb_mat(spark, sf_dir, norm=True))


def sql_topk_cosine() -> str:
    return f"""
    WITH embd AS (SELECT vec_id, {_SQL_EMB} AS embd FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.embd, c.embd)
               / (sqrt(list_dot_product(q.embd, q.embd)) * sqrt(list_dot_product(c.embd, c.embd))), 6)
               AS cos_sim
      FROM embd q JOIN embd c ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOPK}
    """


def _ann_lsh_from(emb: DataFrame, b: DataFrame) -> DataFrame:
    qb = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table_id", "hash"
    )
    cands = (
        qb.join(b.withColumnRenamed("vec_id", "neighbor_id"), ["table_id", "hash"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    ea = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("_nrm").alias("_qn"),
    )
    eb = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("_nrm").alias("_cn"),
    )
    scored = (
        cands.join(ea, "query_id")
        .join(eb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.cosine_with_norms("qemb", "cemb", "_qn", "_cn"), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: candidates restricted to bucket collisions (the
    scale path; brute-force cross join above is the small-N baseline).
    One materialized embeddings subtree feeds the bucket table AND both
    score-join sides (was: three separate scan+hash subtrees)."""
    emb = _emb_mat(spark, sf_dir, norm=True)
    b = _materialize(_buckets_single_pass(emb))
    return _ann_lsh_from(emb, b)


def sql_ann_lsh() -> str:
    return f"""
    WITH buckets AS ({sql_simhash_buckets()}),
    cands AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM buckets a JOIN buckets b
        ON a.table_id = b.table_id AND a.hash = b.hash
       AND a.vec_id < {N_QUERIES} AND a.vec_id != b.vec_id
    ),
    embd AS (SELECT vec_id, {_SQL_EMB} AS embd FROM embeddings),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(list_dot_product(q.embd, n.embd)
               / (sqrt(list_dot_product(q.embd, q.embd)) * sqrt(list_dot_product(n.embd, n.embd))), 6)
               AS cos_sim
      FROM cands c JOIN embd q ON c.query_id = q.vec_id
                   JOIN embd n ON c.neighbor_id = n.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOPK}
    """


# ---------------------------------------------------------------------------
# O6: delete (anti-join)
# ---------------------------------------------------------------------------


def q_delete_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    deleted = emb.filter(F.col("vec_id") % 17 == 0).select("vec_id")
    remaining = emb.join(deleted, "vec_id", "left_anti")
    return remaining.groupBy("label").agg(F.count(F.lit(1)).alias("n")).orderBy("label")


def sql_delete_antijoin() -> str:
    return """
    SELECT label, COUNT(*) AS n FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 17 = 0)
    GROUP BY label ORDER BY label
    """


# ---------------------------------------------------------------------------
# O9: sign-filter duality (pos + negated-query hash branches)
# ---------------------------------------------------------------------------


def q_sign_dual_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of the positive and negated-query bucket keys (lsh/lsh.go:
    163-166): per vec_id the distinct {hash(v), hash(-v)} set for table 0."""
    emb = _materialize(_emb_double(_read(spark, sf_dir, "embeddings")))
    neg = emb.withColumn("emb", F.transform("emb", lambda x: -x))
    pos_h = emb.select("vec_id", _hash_col("emb", 0).alias("hash"))
    neg_h = neg.select("vec_id", _hash_col("emb", 0).alias("hash"))
    return pos_h.unionByName(neg_h).distinct()


def sql_sign_dual_buckets() -> str:
    neg_emb = "list_transform(embedding, x -> CAST(-x AS DOUBLE))"
    return f"""
    SELECT DISTINCT vec_id, hash FROM (
      SELECT vec_id, {_sql_hash(_SQL_EMB, 0)} AS hash FROM embeddings
      UNION ALL
      SELECT vec_id, {_sql_hash(neg_emb, 0)} AS hash FROM embeddings
    )
    """


# ---------------------------------------------------------------------------
# O15: stats curve
# ---------------------------------------------------------------------------


def q_stats_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # H=8, T=128 false-negative curve (lsh/lsh.go:277-282)
    thetas = spark.range(8).select(
        (F.lit(0.60) + F.col("id") * F.lit(0.05)).alias("threshold")
    )
    psame = F.lit(1.0) - F.lit(2.0) / F.lit(float(np.pi)) * F.acos(F.col("threshold"))
    prob = F.pow(F.lit(1.0) - F.pow(psame, F.lit(8.0)), F.lit(128.0))
    return thetas.select(
        F.round("threshold", 2).alias("threshold"), F.round(prob, 6).alias("probability")
    )


def sql_stats_curve() -> str:
    return """
    SELECT ROUND(CAST(0.60 + i * 0.05 AS DOUBLE), 2) AS threshold,
           ROUND(POW(1.0 - POW(1.0 - 2.0 / PI() * ACOS(CAST(0.60 + i * 0.05 AS DOUBLE)), 8.0), 128.0), 6) AS probability
    FROM (SELECT UNNEST(range(0, 8)) AS i)
    """


# ---------------------------------------------------------------------------
# O7 lag/row pruning semantics on the events table
# ---------------------------------------------------------------------------


def q_row_index_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row bucketing + lag window (tables/tables.go:77,109-127): events per
    7200s row bucket within +/-86400s of the corpus midpoint."""
    ev = _read(spark, sf_dir, "events", parallel=False).withColumn(
        "idx", F.unix_timestamp("ts").cast("long")
    )
    # F.floor to match the DuckDB oracle's integer // exactly (a double
    # cast truncates in Spark but rounds in DuckDB's CAST -- boundary rows
    # at pivot +/- lag would flip nondeterministically on odd sums)
    pivot = ev.agg(
        F.floor((F.min("idx") + F.max("idx")) / 2).alias("p")
    ).collect()[0]["p"]
    lag = 86400
    filtered = ev.filter(F.col("idx").between(pivot - lag, pivot + lag))
    return (
        filtered.withColumn("row_index", V.row_index("idx", 7200))
        .groupBy("row_index")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("row_index")
    )


def sql_row_index_pruning() -> str:
    return """
    WITH ev AS (SELECT CAST(epoch(ts) AS BIGINT) AS idx FROM events),
    mid AS (SELECT (MIN(idx) + MAX(idx)) // 2 AS center FROM ev)
    SELECT (idx // 7200) * 7200 AS row_index, COUNT(*) AS n
    FROM ev, mid WHERE idx BETWEEN center - 86400 AND center + 86400
    GROUP BY 1 ORDER BY 1
    """


# ---------------------------------------------------------------------------
# Training-data ops over the documents table
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents", parallel=False)
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keeper_id")
    )


def sql_exact_dedup() -> str:
    return """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keeper_id
    """


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread opt-out (the simhash_buckets rationale): a pure projection
    # whose bench count prunes both token expressions, so the spread
    # exchange parallelizes nothing this query's consumers evaluate
    docs = _read(spark, sf_dir, "documents", parallel=False)
    return docs.select(
        "doc_id",
        T.token_count("text").alias("ws_tokens"),
        T.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


def sql_token_counts() -> str:
    return rf"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
           len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')) AS bpe_tokens
    FROM documents
    """


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score("text").alias("quality"))


def sql_quality() -> str:
    return r"""
    WITH t AS (
      SELECT doc_id, text,
        CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
             ELSE string_split_regex(trim(text), '\s+') END AS toks,
        length(text) AS n
      FROM documents
    ), m AS (
      SELECT doc_id,
        LEAST(n / 200.0, 1.0) AS length_factor,
        CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, w -> CAST(length(w) AS DOUBLE))) / len(toks)
             ELSE 0.0 END AS wl,
        CASE WHEN n > 0
             THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / n
             ELSE 0.0 END AS pr
      FROM t
    )
    SELECT doc_id,
           ROUND((length_factor + (1.0 - LEAST(ABS(wl - 5.0) / 5.0, 1.0))
                  + (1.0 - LEAST(pr * 4.0, 1.0))) / 3.0, 6) AS quality
    FROM m
    """


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id("text").alias("lang_pred"))


def sql_lang_id() -> str:
    stops = ",".join(f"'{w}'" for w in T.EN_STOPWORDS)
    return rf"""
    WITH t AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
             ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN len(toks) > 0 AND
                CAST(len(list_filter(toks, x -> list_contains([{stops}], x))) AS DOUBLE)
                  / len(toks) >= 0.08
           THEN 'en' ELSE 'unknown' END AS lang_pred
    FROM t
    """


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.doc_fingerprint("text", k=8).alias("fp"))


def sql_fingerprint() -> str:
    return """
    SELECT doc_id,
      list_min(list_transform(
        list_distinct(list_transform(range(1, GREATEST(length(text) - 8 + 1, 0) + 1),
                                     i -> substring(text, i::int, 8))),
        s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)
      )) AS fp
    FROM documents
    """


MINHASH_PERMS = 8
SHINGLE_K = 5


@lru_cache(maxsize=1)
def _minhash_hashed_cols() -> tuple:
    """The 8 per-permutation md5 hash columns over the distinct-shingle
    column `_s` (reusable Column trees; ~60 py4j round trips per build)."""
    return tuple(
        T.md5_int64(F.concat(F.lit(f"{i}:"), F.col("_s"))).alias(f"_h{i}")
        for i in range(MINHASH_PERMS)
    )


@lru_cache(maxsize=1)
def _minhash_min_cols() -> tuple:
    return tuple(F.min(f"_h{i}").alias(f"_m{i}") for i in range(MINHASH_PERMS))


@lru_cache(maxsize=1)
def _ngram_bands_col():
    """The 4-perm band inline array of q_ngram_jaccard_pairs (fixed `_m*`
    column names)."""
    return F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        F.sort_array(
                            F.array(
                                *[
                                    F.col(f"_m{b * 4 + i}").cast("string")
                                    for i in range(4)
                                ]
                            )
                        ),
                    ).alias("band_key"),
                )
                for b in range(MINHASH_PERMS // 4)
            ]
        )
    )


def _minhash_sig_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, _sig array<long>): MinHash signatures with the md5 work
    deduplicated at CORPUS level. Natural text repeats shingles heavily
    across documents (sf0.1: 1.02M per-doc shingle instances but only 2,041
    distinct 5-grams), so hashing each DISTINCT shingle once per permutation
    and min-joining back is ~500x less md5 work than hashing inside every
    document's array (guide §1.2 step 1: don't compute things twice).
    The distinct-shingle hash table is explicitly broadcast (unhinted,
    Spark's size guess broadcast the 1M-row instance side instead): a
    k-gram vocabulary is bounded by the language, not the corpus, and stays
    orders of magnitude under the broadcast cap at any corpus size."""
    # materialize the per-doc distinct-shingle ARRAYS (O(docs) rows), not the
    # exploded instance table (O(shingle instances) rows -- 1.02M at sf0.1,
    # the whole corpus at scale): the explode below is a cheap JVM pass over
    # the checkpointed arrays and runs once per consumer, the same shape
    # q_ngram_jaccard_pairs uses (row equality pinned against the inline
    # form by the oracle and a direct A/B collect)
    sh_df = _materialize(
        docs.select(
            "doc_id", F.array_distinct(T.char_shingles("text", SHINGLE_K)).alias("sh")
        )
    )
    ex = sh_df.select("doc_id", F.explode("sh").alias("_s"))
    hashed = ex.select("_s").distinct().select("_s", *_minhash_hashed_cols())
    mins = (
        ex.join(F.broadcast(hashed), "_s")
        .groupBy("doc_id")
        .agg(*_minhash_min_cols())
    )
    sig = F.array(*[F.col(f"_m{i}") for i in range(MINHASH_PERMS)])
    # shingle-less docs drop out of the explode; the left join restores them
    # with the all-null signature the inline form produced
    return sh_df.select("doc_id").join(mins, "doc_id", "left").select(
        "doc_id", sig.alias("_sig")
    )


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded MinHash signature rows (md5 hash family, shared with the
    SQL oracle)."""
    docs = _read(spark, sf_dir, "documents")
    return _minhash_sig_frame(docs).select(
        "doc_id", F.posexplode("_sig").alias("perm", "minhash")
    )


def sql_minhash_sigs() -> str:
    per_perm = ",\n".join(
        f"""list_min(list_transform(sh, s -> CAST(('0x' || substring(md5('{i}:' || s), 1, 15)) AS BIGINT))) AS mh_{i}"""
        for i in range(MINHASH_PERMS)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS perm, mh_{i} AS minhash FROM sigs" for i in range(MINHASH_PERMS)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, GREATEST(length(text) - {SHINGLE_K} + 1, 0) + 1),
                                     i -> substring(text, i::int, {SHINGLE_K}))) AS sh
      FROM documents
    ), sigs AS (SELECT doc_id, {per_perm} FROM t)
    {unpivot}
    """


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for doc pairs sharing a MinHash band (bands of 2
    perms over the md5 family); pairs with jaccard >= 0.3."""
    # ONE materialized shingle pass feeds both the MinHash signatures and
    # the exact-Jaccard verification arrays (was: two full re-shingles of
    # the corpus -- the q_minhash_sigs subtree plus a separate `sh` scan)
    docs = _read(spark, sf_dir, "documents")
    sh_df = _materialize(
        docs.select(
            "doc_id", F.array_distinct(T.char_shingles("text", SHINGLE_K)).alias("sh")
        )
    )
    # no checkpoint on ex: its recompute from the materialized sh_df is one
    # cheap JVM explode, and dropping the boundary removes a sequential
    # stage-job from every run (A/B: 1.66 -> 1.56s best; _minhash_sig_frame
    # keeps its ex checkpoint because there the recompute would re-shingle
    # the raw corpus)
    ex = sh_df.select("doc_id", F.explode("sh").alias("_s"))
    hashed = ex.select("_s").distinct().select("_s", *_minhash_hashed_cols())
    mins = (
        ex.join(F.broadcast(hashed), "_s")
        .groupBy("doc_id")
        .agg(*_minhash_min_cols())
    )
    sigf = sh_df.select("doc_id").join(mins, "doc_id", "left")
    # 4-perm bands: the synthetic corpus has ~0.2 baseline shingle
    # similarity, so 2-perm bands collide ~15% of ALL pairs (1.1M at sf0.1).
    # band_key is built from the signature columns directly -- same sorted
    # comma-joined string the exploded collect_list form produced (nulls of
    # shingle-less docs are skipped by concat_ws either way).
    bands = _materialize(sigf.select("doc_id", _ngram_bands_col()))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )
    sa = sh_df.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    sb = sh_df.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    # |A u B| = |A| + |B| - |A n B| for the (distinct) shingle arrays --
    # the identity the DuckDB oracle already uses -- so the expensive
    # array_union never runs. The intersect size is materialized BEFORE
    # the jaccard projection/filter: without the barrier Catalyst inlines
    # it into the when() branches and the pushed-down filter, evaluating
    # array_intersect up to ~6x per candidate row (measured: the jaccard
    # step was 3.4s of the query's 4.7s at 14.8k candidates).
    # the candidate table is a few bytes per row but each row costs an
    # array_intersect over ~hundreds of shingles, so AQE coalesced the
    # post-distinct shuffle to ONE task and the whole intersect pass ran
    # single-threaded (measured 0.92s of the query's 2.1s) -- _spread it
    sized = _materialize(
        _spread(cand)
        .join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("_i"),
            F.size("sh_a").alias("_na"),
            F.size("sh_b").alias("_nb"),
        )
    )
    inter = F.col("_i").cast("double")
    union = (F.col("_na") + F.col("_nb") - F.col("_i")).cast("double")
    return (
        sized.select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
    )


def sql_ngram_jaccard_pairs() -> str:
    return f"""
    WITH sigrows AS ({sql_minhash_sigs()}),
    bands AS (
      SELECT doc_id, perm // 4 AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY CAST(minhash AS VARCHAR)) AS band_key
      FROM sigrows GROUP BY doc_id, perm // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sh AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, GREATEST(length(text) - {SHINGLE_K} + 1, 0) + 1),
                                     i -> substring(text, i::int, {SHINGLE_K}))) AS s
      FROM documents
    )
    SELECT doc_id_a, doc_id_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
    FROM cand JOIN sh a ON cand.doc_id_a = a.doc_id
              JOIN sh b ON cand.doc_id_b = b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
    """


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_double(_read(spark, sf_dir, "embeddings"))
    return (
        emb.select("label", V.vector_norm("emb").alias("norm"))
        .groupBy("label")
        .agg(F.round(F.avg("norm"), 6).alias("avg_norm"), F.count(F.lit(1)).alias("n"))
        .orderBy("label")
    )


def sql_embedding_norm_stats() -> str:
    return f"""
    SELECT label, ROUND(AVG(sqrt(list_dot_product({_SQL_EMB}, {_SQL_EMB}))), 6) AS avg_norm,
           COUNT(*) AS n
    FROM embeddings GROUP BY label ORDER BY label
    """


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: audio decode, UDF hashing)
# ---------------------------------------------------------------------------


def q_audio_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full audio dedup pipeline on a deterministic in-process corpus
    (sf-scaled): clips -> features -> signatures -> buckets -> pairs ->
    verify -> connected components -> clusters."""
    from go_lsh_spark.operators.dedup import dedup_pipeline
    from go_lsh_spark.sources.synth import clips_to_spark, synth_clips

    # size-stable regardless of sf: the DuckDB oracle is a literal golden
    # over the seeded 150-clip corpus (tools/gen_cluster_golden.py)
    n = 150
    res = synth_clips(n_clips=n, seed=SEED)
    clips, _ = clips_to_spark(spark, res)
    return dedup_pipeline(spark, clips, DedupConfig()).clusters.orderBy("clip_id")


def sql_audio_dedup_clusters() -> str:
    """Literal golden computed by the INDEPENDENT python oracle
    (tools/gen_cluster_golden.py): union-find over pairs admitted by direct
    band-tuple comparison + Hamming/Pearson/Jaccard/DP-LCS verification --
    none of the Spark pipeline's mechanisms (star CC, banded joins, suffix
    arrays) are reused, so this cross-check verifies rather than replays."""
    return """
    SELECT * FROM (VALUES
      ('clip_000000', 'clip_000000'),
      ('clip_000001', 'clip_000000'),
      ('clip_000002', 'clip_000000'),
      ('clip_000003', 'clip_000000'),
      ('clip_000004', 'clip_000000'),
      ('clip_000005', 'clip_000000'),
      ('clip_000006', 'clip_000000'),
      ('clip_000007', 'clip_000000'),
      ('clip_000008', 'clip_000008'),
      ('clip_000009', 'clip_000008'),
      ('clip_000010', 'clip_000008'),
      ('clip_000011', 'clip_000008'),
      ('clip_000012', 'clip_000008'),
      ('clip_000013', 'clip_000008'),
      ('clip_000014', 'clip_000008'),
      ('clip_000015', 'clip_000015'),
      ('clip_000016', 'clip_000015'),
      ('clip_000017', 'clip_000015'),
      ('clip_000018', 'clip_000015'),
      ('clip_000019', 'clip_000015'),
      ('clip_000020', 'clip_000015'),
      ('clip_000021', 'clip_000015'),
      ('clip_000022', 'clip_000015'),
      ('clip_000023', 'clip_000015'),
      ('clip_000024', 'clip_000024'),
      ('clip_000025', 'clip_000024'),
      ('clip_000026', 'clip_000024'),
      ('clip_000027', 'clip_000024'),
      ('clip_000028', 'clip_000024'),
      ('clip_000029', 'clip_000029'),
      ('clip_000030', 'clip_000029'),
      ('clip_000031', 'clip_000029'),
      ('clip_000032', 'clip_000029'),
      ('clip_000033', 'clip_000029'),
      ('clip_000034', 'clip_000029'),
      ('clip_000035', 'clip_000035'),
      ('clip_000036', 'clip_000035'),
      ('clip_000037', 'clip_000035'),
      ('clip_000038', 'clip_000035'),
      ('clip_000039', 'clip_000035'),
      ('clip_000040', 'clip_000035'),
      ('clip_000041', 'clip_000035'),
      ('clip_000042', 'clip_000042'),
      ('clip_000043', 'clip_000042'),
      ('clip_000044', 'clip_000042'),
      ('clip_000045', 'clip_000042'),
      ('clip_000046', 'clip_000046'),
      ('clip_000047', 'clip_000046'),
      ('clip_000048', 'clip_000046'),
      ('clip_000049', 'clip_000046'),
      ('clip_000050', 'clip_000046'),
      ('clip_000051', 'clip_000046'),
      ('clip_000052', 'clip_000046'),
      ('clip_000053', 'clip_000046'),
      ('clip_000054', 'clip_000046'),
      ('clip_000055', 'clip_000046'),
      ('clip_000056', 'clip_000056'),
      ('clip_000057', 'clip_000056'),
      ('clip_000058', 'clip_000056'),
      ('clip_000059', 'clip_000059'),
      ('clip_000060', 'clip_000059'),
      ('clip_000061', 'clip_000059'),
      ('clip_000062', 'clip_000059'),
      ('clip_000063', 'clip_000059'),
      ('clip_000064', 'clip_000064'),
      ('clip_000065', 'clip_000064'),
      ('clip_000066', 'clip_000066'),
      ('clip_000067', 'clip_000066'),
      ('clip_000068', 'clip_000066'),
      ('clip_000069', 'clip_000069'),
      ('clip_000070', 'clip_000069'),
      ('clip_000071', 'clip_000071'),
      ('clip_000072', 'clip_000071'),
      ('clip_000073', 'clip_000071'),
      ('clip_000074', 'clip_000071'),
      ('clip_000075', 'clip_000071'),
      ('clip_000076', 'clip_000071'),
      ('clip_000077', 'clip_000071'),
      ('clip_000078', 'clip_000071'),
      ('clip_000079', 'clip_000071'),
      ('clip_000080', 'clip_000071'),
      ('clip_000081', 'clip_000071'),
      ('clip_000082', 'clip_000082'),
      ('clip_000083', 'clip_000082'),
      ('clip_000084', 'clip_000082'),
      ('clip_000085', 'clip_000082'),
      ('clip_000086', 'clip_000082'),
      ('clip_000087', 'clip_000082'),
      ('clip_000088', 'clip_000088'),
      ('clip_000089', 'clip_000088'),
      ('clip_000090', 'clip_000088'),
      ('clip_000091', 'clip_000088'),
      ('clip_000092', 'clip_000092'),
      ('clip_000093', 'clip_000092'),
      ('clip_000094', 'clip_000092'),
      ('clip_000095', 'clip_000092'),
      ('clip_000096', 'clip_000096'),
      ('clip_000097', 'clip_000096'),
      ('clip_000098', 'clip_000096'),
      ('clip_000099', 'clip_000099'),
      ('clip_000100', 'clip_000099'),
      ('clip_000101', 'clip_000101'),
      ('clip_000102', 'clip_000101'),
      ('clip_000103', 'clip_000101'),
      ('clip_000104', 'clip_000101'),
      ('clip_000105', 'clip_000101'),
      ('clip_000106', 'clip_000106'),
      ('clip_000107', 'clip_000106'),
      ('clip_000108', 'clip_000108'),
      ('clip_000109', 'clip_000108'),
      ('clip_000110', 'clip_000108'),
      ('clip_000111', 'clip_000108'),
      ('clip_000112', 'clip_000112'),
      ('clip_000113', 'clip_000112'),
      ('clip_000114', 'clip_000112'),
      ('clip_000115', 'clip_000112'),
      ('clip_000116', 'clip_000112'),
      ('clip_000117', 'clip_000117'),
      ('clip_000118', 'clip_000117'),
      ('clip_000119', 'clip_000117'),
      ('clip_000120', 'clip_000117'),
      ('clip_000121', 'clip_000117'),
      ('clip_000122', 'clip_000117'),
      ('clip_000123', 'clip_000117'),
      ('clip_000124', 'clip_000117'),
      ('clip_000125', 'clip_000117'),
      ('clip_000126', 'clip_000117'),
      ('clip_000127', 'clip_000117'),
      ('clip_000128', 'clip_000128'),
      ('clip_000129', 'clip_000128'),
      ('clip_000130', 'clip_000128'),
      ('clip_000131', 'clip_000128'),
      ('clip_000132', 'clip_000132'),
      ('clip_000133', 'clip_000132'),
      ('clip_000134', 'clip_000134'),
      ('clip_000135', 'clip_000134'),
      ('clip_000136', 'clip_000134'),
      ('clip_000137', 'clip_000134'),
      ('clip_000138', 'clip_000134'),
      ('clip_000139', 'clip_000134'),
      ('clip_000140', 'clip_000134'),
      ('clip_000141', 'clip_000134'),
      ('clip_000142', 'clip_000134'),
      ('clip_000143', 'clip_000134'),
      ('clip_000144', 'clip_000134'),
      ('clip_000145', 'clip_000134'),
      ('clip_000146', 'clip_000134'),
      ('clip_000147', 'clip_000134'),
      ('clip_000148', 'clip_000134'),
      ('clip_000149', 'clip_000134')
    ) AS t(clip_id, cluster_id)
    """


def q_audio_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_lsh_spark.operators.dedup import clips_to_signatures
    from go_lsh_spark.sources.synth import clips_to_spark, synth_clips

    cfg = DedupConfig()
    res = synth_clips(n_clips=40, seed=SEED)
    clips, _ = clips_to_spark(spark, res)
    sigs = clips_to_signatures(clips, cfg, PlaneSet(cfg.lsh_config()))
    return sigs.select("clip_id", "sig64").orderBy("clip_id")


SIMHASH_BITS = 60  # md5-int64 is 60 bits -> the signature fits a BIGINT


def sql_audio_signatures() -> str:
    """Literal golden computed by the INDEPENDENT numpy reference path
    (decode_wav -> envelope_features -> centered/normalized sign-hash against
    the seeded PlaneSet -- the oracle-side semantics of
    /root/reference/lsh/lsh.go:62-90 at this config), NOT by the Spark
    engine. Regenerate with tools/gen_audio_golden.py if the seeded corpus
    or feature kernel changes."""
    return """
    SELECT * FROM (VALUES
      ('clip_000000', CAST(-2758458171607232030 AS BIGINT)),
      ('clip_000001', CAST(-2758458171607232030 AS BIGINT)),
      ('clip_000002', CAST(-2758458171607232030 AS BIGINT)),
      ('clip_000003', CAST(-2758458171607232030 AS BIGINT)),
      ('clip_000004', CAST(-2758458171607232030 AS BIGINT)),
      ('clip_000005', CAST(5354517288265108512 AS BIGINT)),
      ('clip_000006', CAST(5354517288265108512 AS BIGINT)),
      ('clip_000007', CAST(5354517288265108512 AS BIGINT)),
      ('clip_000008', CAST(-1773100950856755555 AS BIGINT)),
      ('clip_000009', CAST(-1773100950856755555 AS BIGINT)),
      ('clip_000010', CAST(-1773100950856755555 AS BIGINT)),
      ('clip_000011', CAST(-1773100950856755555 AS BIGINT)),
      ('clip_000012', CAST(-1773100950856755555 AS BIGINT)),
      ('clip_000013', CAST(-6846471964012530028 AS BIGINT)),
      ('clip_000014', CAST(-6846471964012530028 AS BIGINT)),
      ('clip_000015', CAST(5645157545806490026 AS BIGINT)),
      ('clip_000016', CAST(5645157545806490026 AS BIGINT)),
      ('clip_000017', CAST(5645157545806490026 AS BIGINT)),
      ('clip_000018', CAST(-1164654449037134396 AS BIGINT)),
      ('clip_000019', CAST(-1164654449037134396 AS BIGINT)),
      ('clip_000020', CAST(-1164654449037134396 AS BIGINT)),
      ('clip_000021', CAST(-1164654449037134396 AS BIGINT)),
      ('clip_000022', CAST(-1164654449037134396 AS BIGINT)),
      ('clip_000023', CAST(-1164654449037134396 AS BIGINT)),
      ('clip_000024', CAST(6220405166340631115 AS BIGINT)),
      ('clip_000025', CAST(6220405166340631115 AS BIGINT)),
      ('clip_000026', CAST(-1178607861043314987 AS BIGINT)),
      ('clip_000027', CAST(-1178607861043314987 AS BIGINT)),
      ('clip_000028', CAST(-1178607861043314987 AS BIGINT)),
      ('clip_000029', CAST(-742850194332092577 AS BIGINT)),
      ('clip_000030', CAST(-742850194332092577 AS BIGINT)),
      ('clip_000031', CAST(-742850194332092577 AS BIGINT)),
      ('clip_000032', CAST(-742850194332092577 AS BIGINT)),
      ('clip_000033', CAST(-742850194332092577 AS BIGINT)),
      ('clip_000034', CAST(-742850194332092577 AS BIGINT)),
      ('clip_000035', CAST(6727560116440771060 AS BIGINT)),
      ('clip_000036', CAST(6727560116440771060 AS BIGINT)),
      ('clip_000037', CAST(6727560116440771060 AS BIGINT)),
      ('clip_000038', CAST(6727560116440771060 AS BIGINT)),
      ('clip_000039', CAST(6727560116440771060 AS BIGINT))
    ) AS t(clip_id, sig64)
    """


def q_token_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted token SimHash as pure built-in expressions (explode +
    conditional bit-vote sums), md5-int64 token hash family shared with the
    DuckDB oracle."""
    docs = _read(spark, sf_dir, "documents")
    return T.token_simhash_frame(docs, "doc_id", "text", bits=SIMHASH_BITS)


def sql_token_simhash() -> str:
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents WHERE length(trim(text)) > 0)
    ), votes AS (
      SELECT doc_id,
        {votes}
      FROM toks GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
    )
    SELECT d.doc_id, s.simhash FROM documents d LEFT JOIN sigs s USING (doc_id)
    """


SIMHASH_NEARDUP_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_NEARDUP_BANDS  # 15


@lru_cache(maxsize=1)
def _simhash_neardup_bands_col():
    """The banded posexplode of q_simhash_neardup_pairs (fixed `simhash`
    column name) as one cached Column."""
    return F.posexplode(
        F.array(
            *[
                F.shiftrightunsigned("simhash", b * SIMHASH_BAND_BITS).bitwiseAND(
                    F.lit((1 << SIMHASH_BAND_BITS) - 1)
                )
                for b in range(SIMHASH_NEARDUP_BANDS)
            ]
        )
    ).alias("band", "band_key")
SIMHASH_MAX_HAMMING = 6


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate document pairs: band the 60-bit token SimHash
    into 4x15-bit bucket keys, self-join per band (the LSH candidate step),
    verify with full-signature Hamming distance <= 6. The document-level
    analogue of the audio pipeline's banded sig64 join
    (operators/dedup.py)."""
    sigs = T.token_simhash_frame(
        _read(spark, sf_dir, "documents"), "doc_id", "text", bits=SIMHASH_BITS
    ).filter(F.col("simhash").isNotNull())
    # the banded rows feed both sides of the candidate self-join
    bands = _materialize(
        sigs.select("doc_id", "simhash", _simhash_neardup_bands_col())
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    return pairs


def sql_simhash_neardup_pairs() -> str:
    band_exprs = ", ".join(
        f"(simhash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1} AS k{b}"
        for b in range(SIMHASH_NEARDUP_BANDS)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, k{b} AS band_key FROM sigbands"
        for b in range(SIMHASH_NEARDUP_BANDS)
    )
    return f"""
    WITH sigs AS ({sql_token_simhash()}),
    sigbands AS (
      SELECT doc_id, simhash, {band_exprs} FROM sigs WHERE simhash IS NOT NULL
    ),
    bands AS ({unpivot})
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


def q_search_topk_reference_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's TestLSHSearch fixture through the Spark engine
    (rows-only: hashing is UDF-side)."""
    from go_lsh_spark.engine import SparkLSH
    from go_lsh_spark.config import SIGN_FILTER_POS, SearchOptions

    docs = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0, 5.0]),
            (1, 0, [0.0, 0.1, 3.0]),
            (2, 0, [0.0, 0.1, 2.0]),
            (3, 0, [0.0, 0.1, 1.0]),
            (4, 0, [0.0, -0.1, -4.0]),
        ],
        "uid long, index long, vector array<double>",
    )
    eng = SparkLSH(spark, LSHConfig()).index(docs)
    q = spark.createDataFrame(
        [(0, 0, [0.0, 0.0, 0.1])], "query_id long, index long, vector array<double>"
    )
    res = eng.search_df(q, SearchOptions(num_to_return=3, sign_filter=SIGN_FILTER_POS))
    return res.scores.select("query_id", "uid", "index", F.round("score", 6).alias("score"), "rank")


def sql_search_topk_fixture() -> str:
    """Literal golden from the reference's TestLSHSearch fixture
    (/root/reference/lsh/lsh_test.go:29-50): query [0,0,0.1] POS top-3 over
    the 5-doc corpus returns uids 0,1,2; scores are the exact Pearson values
    the numpy oracle (go_lsh_spark.oracle) computes for the same fixture."""
    return """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1.0      AS DOUBLE), 1),
      (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0.999569 AS DOUBLE), 2),
      (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0.999015 AS DOUBLE), 3)
    ) AS t(query_id, uid, "index", score, rank)
    """


def q_search_num_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumScored -- the pre-threshold candidate count Search returns
    alongside scores (lsh/lsh.go:128, the `candidates` side of
    SearchResult) -- for the TestLSHSearch fixture."""
    from go_lsh_spark.engine import SparkLSH
    from go_lsh_spark.config import SIGN_FILTER_POS, SearchOptions

    docs = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0, 5.0]),
            (1, 0, [0.0, 0.1, 3.0]),
            (2, 0, [0.0, 0.1, 2.0]),
            (3, 0, [0.0, 0.1, 1.0]),
            (4, 0, [0.0, -0.1, -4.0]),
        ],
        "uid long, index long, vector array<double>",
    )
    eng = SparkLSH(spark, LSHConfig()).index(docs)
    q = spark.createDataFrame(
        [(0, 0, [0.0, 0.0, 0.1])], "query_id long, index long, vector array<double>"
    )
    res = eng.search_df(q, SearchOptions(num_to_return=3, sign_filter=SIGN_FILTER_POS))
    return res.candidates.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("num_scored")
    )


def sql_search_num_scored() -> str:
    """Golden NumScored for the fixture: the oracle enumerates 4 scored
    candidates (uid 4 never collides with the positive-branch buckets under
    the seeded planes)."""
    return """
    SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(4 AS BIGINT)))
      AS t(query_id, num_scored)
    """


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set per document (Schleimer et al. 2003),
    md5-int64 shingle-hash family shared with the DuckDB oracle."""
    docs = _read(spark, sf_dir, "documents")
    # two-step: materialize shingle hashes first so each window slices a
    # ready array instead of re-hashing the document per window
    hashed = docs.select(
        "doc_id", T.shingle_hashes("text", k=8, hash_fn="md5").alias("_h")
    )
    return hashed.select(
        "doc_id", F.explode(T.winnowing_from_hashes("_h", window=4)).alias("fp")
    )


def sql_winnowing() -> str:
    return """
    WITH h AS (
      SELECT doc_id,
        list_transform(range(1, GREATEST(length(text) - 8 + 1, 0) + 1),
          i -> CAST(('0x' || substring(md5(substring(text, i::int, 8)), 1, 15)) AS BIGINT)) AS hs
      FROM documents
    ), w AS (
      SELECT doc_id,
        CASE WHEN len(hs) >= 4
             THEN list_distinct(list_transform(range(1, len(hs) - 4 + 2),
                    i -> list_min(list_slice(hs, i::int, (i + 3)::int))))
             ELSE [] END AS fps
      FROM h
    )
    SELECT doc_id, unnest(fps) AS fp FROM w
    """


# the synthetic embeddings are weakly clustered (top-k cosine tops out
# ~0.49 at sf0.01); 0.35 keeps the verifier selective but non-degenerate
COSINE_NEARDUP_THRESHOLD = 0.35


def q_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket collisions as the
    candidate set (all-pairs form), exact cosine >= threshold as the
    verifier -- the embedding-space member of the dedup family (exact /
    MinHash / SimHash / n-gram Jaccard / cosine)."""
    emb = _emb_mat(spark, sf_dir, norm=True)
    # buckets built from the SAME materialized emb frame (one scan total)
    pairs = _pairs_from_buckets(_materialize(_buckets_single_pass(emb)))
    ea = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("emb").alias("emb_a"),
        F.col("_nrm").alias("_na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("emb").alias("emb_b"),
        F.col("_nrm").alias("_nb"),
    )
    # no barrier before this filter: the pushed-down filter does duplicate
    # the cosine expression, but at 64 dims that re-eval measured CHEAPER
    # than a materialization pass (2.55s vs 1.82s with a barrier) -- unlike
    # the ngram query's string-set intersects, where the barrier wins; the
    # duplicated copies are cheap now anyway (norms precomputed per vector)
    return (
        pairs.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(V.cosine_with_norms("emb_a", "emb_b", "_na", "_nb"), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= COSINE_NEARDUP_THRESHOLD)
    )


def sql_cosine_neardup_pairs() -> str:
    return f"""
    WITH buckets AS ({sql_simhash_buckets()}),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM buckets a JOIN buckets b
        ON a.table_id = b.table_id AND a.hash = b.hash AND a.vec_id < b.vec_id
    ),
    embd AS (SELECT vec_id, {_SQL_EMB} AS embd FROM embeddings),
    scored AS (
      SELECT p.vec_id_a, p.vec_id_b,
             ROUND(list_dot_product(a.embd, b.embd)
               / (sqrt(list_dot_product(a.embd, a.embd)) * sqrt(list_dot_product(b.embd, b.embd))), 6)
               AS cos_sim
      FROM pairs p JOIN embd a ON p.vec_id_a = a.vec_id
                   JOIN embd b ON p.vec_id_b = b.vec_id
    )
    SELECT * FROM scored WHERE cos_sim >= {COSINE_NEARDUP_THRESHOLD}
    """


IVF_K = 16       # coarse centroids (deterministic seeded sample)
IVF_NPROBE = 4   # centroid lists probed per query


@lru_cache(maxsize=1)
def _lloyd_mean_cols() -> tuple:
    """The 64 per-element Lloyd-mean aggregate columns. Column objects are
    plain reusable expression wrappers (the _plane_lit_cached device), and
    building them costs ~300 py4j round trips -- which the frozen bench
    times at every query construction."""
    return tuple(
        F.round(F.avg(F.element_at("emb", i + 1)), 6).alias(f"_c{i}")
        for i in range(EMB_DIM)
    )


@lru_cache(maxsize=1)
def _lloyd_cemb_col():
    return F.array(*[F.col(f"_c{i}") for i in range(EMB_DIM)]).alias("cemb")


@lru_cache(maxsize=1)
def _ivf_best_col():
    """The argmin fold of _ivf_assign as a cached Column (it references
    only the fixed column names `emb` and `_cents`). The fold is seeded
    from the first centroid: Spark orders NaN above every number, so a
    vector whose distances are all NaN keeps the lowest cid -- exactly what
    min_by(cid, struct(_d, cid)) gives it."""

    def _cand(c):
        d = V.dot(F.col("emb"), c["cemb"]) * F.lit(-2.0) + c["_c2"]
        return F.struct(d.alias("_d"), c["cid"].alias("cid"))

    def _better(acc, c):
        cand = _cand(c)
        return F.when(cand["_d"] < acc["_d"], cand).otherwise(acc)

    cents = F.col("_cents")
    rest = F.slice(cents, 2, F.size(cents) - 1)
    return F.aggregate(rest, _cand(F.element_at(cents, 1)), _better)


@lru_cache(maxsize=None)
def _ivf_probe_col(probe_n: int):
    """The sorted-probe-slice column of _ann_ivf_from, cached per nprobe
    (references only the fixed column names `qemb` and `_cents`)."""
    return F.slice(
        F.array_sort(
            F.transform(
                "_cents",
                lambda c: F.struct(
                    (V.dot(F.col("qemb"), c["cemb"]) * F.lit(-2.0) + c["_c2"]).alias(
                        "_d"
                    ),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
        probe_n,
    )


def _cent_fold(cent: DataFrame) -> DataFrame:
    """The centroid table folded into ONE row carrying a cid-sorted struct
    array. Tiny by construction (IVF_K entries), so the fold is a
    broadcast-sized aggregate; downstream consumers scan the array inside
    a projection instead of joining the 16-row table."""
    return cent.agg(
        F.sort_array(F.collect_list(F.struct("cid", "cemb", "_c2"))).alias("_cents")
    )


def _ivf_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a MAP-ONLY projection: the tiny
    centroid table folds into one broadcast row (cid-sorted struct array,
    _cent_fold) and each vector's argmin runs inside the projection -- no
    K-times crossJoin row expansion and no groupBy(vec_id) exchange, which
    at bench scale cost an AQE stage + job per assignment pass and at
    corpus scale would shuffle the whole vector table once per Lloyd pass.
    cent carries `_c2` = <c,c> precomputed once per centroid instead of
    re-evaluating the 64-element self-dot per (vector, centroid) pair.

    Bit-identical to the min_by form it replaces: distances are the same
    IEEE ops in the same order (dot * -2.0 + _c2), and the fold iterates
    in cid order keeping the first strict minimum, which is exactly
    min_by(cid, struct(_d, cid)) -- lowest distance, ties to the lowest
    cid (equality pinned in tests/test_delete_recall.py)."""
    carry = ["_nrm"] if "_nrm" in emb.columns else []
    best = _ivf_best_col()
    return emb.crossJoin(F.broadcast(_cent_fold(cent))).select(
        "vec_id", best["cid"].alias("cid"), "emb", *carry
    )


def _ivf_assignments(
    spark: SparkSession,
    sf_dir: str,
    refine: bool = True,
    lloyd_iters: int | None = None,
    emb: DataFrame | None = None,
):
    """(vectors, centroids, assignments): IVF coarse quantization -- the
    inverted-file ANN structure (coarse quantize -> probe nprobe nearest
    lists -> exact scoring inside them). Centroids start as a deterministic
    seeded sample (every (n/K)-th vec_id) and get `lloyd_iters` k-means
    iterations (default: 1 when refine else 0 -- the oracle SQL mirrors
    exactly one): element-wise mean per list (posexplode + map-side-
    combined avg, rounded to 6dp so cross-engine float-sum order can't flip
    an assignment) followed by re-assignment. Quantization error is
    non-increasing per iteration (the Lloyd property -- asserted over
    0/1/2 in tests/test_delete_recall.py). The centroid table is tiny and
    broadcasts at every step; no all-pairs work anywhere."""
    iters = lloyd_iters if lloyd_iters is not None else (1 if refine else 0)
    if emb is None:
        emb = _emb_mat(spark, sf_dir, norm=True)
    # row count for the seed-centroid stride: counted on the RAW scan (no
    # repartition exchange, no array cast -- Catalyst prunes every column).
    # Folding it in as a broadcast scalar instead was measured SLOWER
    # (ann_ivf 1.31 -> 1.86s: the extra broadcast exchange lands on the
    # critical path of the centroid chain), so the blocking count stays.
    n = _read_parquet(spark, os.path.join(sf_dir, "embeddings.parquet")).count()
    step = max(n // IVF_K, 1)
    cent = (
        emb.filter((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < IVF_K))
        .select(
            (F.col("vec_id") / step).cast("int").alias("cid"),
            F.col("emb").alias("cemb"),
        )
        .withColumn("_c2", V.dot("cemb", "cemb"))
    )
    assigned = _ivf_assign(emb, cent)
    for _ in range(iters):
        # Lloyd iteration: a centroid with an emptied list keeps no rows in
        # the mean aggregate and simply drops out (cannot happen on the
        # first iteration -- every seed centroid holds at least its own
        # seed vector); assignments re-spread over the survivors.
        # cent is materialized per round: it feeds the next assignment AND
        # the callers' probe ranking, and its subtree contains the whole
        # previous assignment pass.
        # one groupBy with 64 per-element means instead of posexplode +
        # two groupBys + collect_list/sort: same values (avg of the same
        # multiset, rounded to 6dp exactly as before), one less exchange
        cent = _materialize(
            assigned.groupBy("cid")
            .agg(*_lloyd_mean_cols())
            .select("cid", _lloyd_cemb_col())
            .withColumn("_c2", V.dot("cemb", "cemb"))
        )
        assigned = _ivf_assign(emb, cent)
    # the final assignment feeds the query side AND the candidate lists, but
    # is NOT materialized: post-restructure it is a map-only projection over
    # the already-materialized emb with a reused broadcast (recompute per
    # consumer is one cheap fold pass), and dropping the boundary removes a
    # serialized localCheckpoint job from every IVF query (measured: -0.15s
    # and 13 -> 11 jobs on ann_recall_ivf, neutral on ann_ivf)
    return emb, cent, assigned


def q_ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    refine: bool = True,
    lloyd_iters: int | None = None,
    nprobe: int | None = None,
    emb: DataFrame | None = None,
) -> DataFrame:
    """IVF top-K: probe the `nprobe` nearest centroid lists per query
    (default IVF_NPROBE), exact cosine inside them (the scale path
    alongside ann_lsh; brute topk_cosine is the baseline). refine=False
    keeps the raw seeded-sample centroids; lloyd_iters overrides the
    refinement iteration count (the CORRECTNESS oracle mirrors exactly one,
    so the default stays 1). nprobe is the recall/cost dial: recall is
    monotone non-decreasing in it and reaches 1.0 at nprobe=IVF_K (every
    list probed = exact search; asserted in tests/test_delete_recall.py),
    while candidate volume -- the thing that costs at 100 TB -- scales
    ~linearly with it."""
    probe_n = nprobe if nprobe is not None else IVF_NPROBE
    _, cent, assigned = _ivf_assignments(
        spark, sf_dir, refine=refine, lloyd_iters=lloyd_iters, emb=emb
    )
    return _ann_ivf_from(cent, assigned, probe_n)


def _ann_ivf_from(cent: DataFrame, assigned: DataFrame, probe_n: int) -> DataFrame:
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("_nrm").alias("_qn"),
    )
    # nearest-probe_n centroid lists per query, computed INSIDE a projection
    # over the same broadcast centroid array the assignment pass uses:
    # array_sort on (distance, cid) structs is lexicographic ascending --
    # exactly the row_number window's orderBy(_d asc, cid asc) -- and the
    # first probe_n elements are the rows that window kept, without its
    # partitionBy(query_id) exchange (an AQE stage + job for ~N_QUERIES
    # rows at bench scale; a full query-table shuffle at corpus scale).
    probe_struct = _ivf_probe_col(probe_n)
    probes = (
        q.crossJoin(F.broadcast(_cent_fold(cent)))
        .select("query_id", "qemb", "_qn", F.explode(probe_struct).alias("_p"))
        .select("query_id", "qemb", "_qn", F.col("_p.cid").alias("cid"))
    )
    cands = probes.join(
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            "cid",
            F.col("emb").alias("cemb2"),
            F.col("_nrm").alias("_cn"),
        ),
        "cid",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    # no dropDuplicates: probes are DISTINCT (query, cid) rows (row_number
    # over distinct centroid ids) and every neighbor belongs to exactly one
    # cid (assigned is a groupBy on vec_id), so each (query, neighbor) pair
    # emerges from the cid join exactly once -- the dedup was a provable
    # no-op costing a full exchange + aggregate (the oracle's DISTINCT is
    # equally vacuous)
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(V.cosine_with_norms("qemb", "cemb2", "_qn", "_cn"), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _sql_ivf_cte() -> str:
    """Shared oracle CTE chain: seed centroids -> first assignment -> one
    k-means iteration (element-wise mean, rounded 6dp like the Spark side)
    -> refined centroids -> final assignment."""
    return f"""
    embd AS (SELECT vec_id, {_SQL_EMB} AS embd FROM embeddings),
    n AS (SELECT GREATEST(COUNT(*) // {IVF_K}, 1) AS step FROM embd),
    cent0 AS (
      SELECT CAST(vec_id // step AS INT) AS cid, embd AS cemb
      FROM embd, n WHERE vec_id % step = 0 AND vec_id // step < {IVF_K}
    ),
    assigned0 AS (
      SELECT vec_id, embd, cid FROM (
        SELECT e.vec_id, e.embd, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.cemb, c.cemb) - 2 * list_dot_product(e.embd, c.cemb), c.cid
               ) AS r
        FROM embd e CROSS JOIN cent0 c
      ) WHERE r = 1
    ),
    cent AS (
      SELECT cid, list(m ORDER BY i) AS cemb FROM (
        SELECT a.cid, t.i, ROUND(AVG(a.embd[t.i + 1]), 6) AS m
        FROM assigned0 a, range({EMB_DIM}) t(i)
        GROUP BY a.cid, t.i
      ) GROUP BY cid
    ),
    assigned AS (
      SELECT vec_id, embd, cid FROM (
        SELECT e.vec_id, e.embd, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.cemb, c.cemb) - 2 * list_dot_product(e.embd, c.cemb), c.cid
               ) AS r
        FROM embd e CROSS JOIN cent c
      ) WHERE r = 1
    )"""


def sql_ann_ivf(nprobe: int | None = None) -> str:
    probe_n = nprobe if nprobe is not None else IVF_NPROBE
    return f"""
    WITH {_sql_ivf_cte()},
    probes AS (
      SELECT query_id, qemb, cid FROM (
        SELECT a.vec_id AS query_id, a.embd AS qemb, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(c.cemb, c.cemb) - 2 * list_dot_product(a.embd, c.cemb), c.cid
               ) AS r
        FROM assigned a CROSS JOIN cent c WHERE a.vec_id < {N_QUERIES}
      ) WHERE r <= {probe_n}
    ),
    scored AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_dot_product(p.qemb, a.embd)
               / (sqrt(list_dot_product(p.qemb, p.qemb)) * sqrt(list_dot_product(a.embd, a.embd))), 6)
               AS cos_sim
      FROM probes p JOIN assigned a ON p.cid = a.cid AND p.query_id != a.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOPK}
    """


def q_ann_ivf_nprobe1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe dial at its cheapest setting (one list probed per query):
    the oracle-checked witness that the probe-count knob changes the
    candidate set cross-engine exactly the same way (recall monotonicity
    over the dial is pinned in tests/test_delete_recall.py)."""
    return q_ann_ivf(spark, sf_dir, nprobe=1)


def sql_ann_ivf_nprobe1() -> str:
    return sql_ann_ivf(nprobe=1)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the LSH-bucketed ANN against the brute-force top-K --
    the loop-closer the reference's Stats curve predicts
    (/root/reference/lsh/lsh.go:277-282)."""
    emb = _emb_mat(spark, sf_dir, norm=True)
    b = _materialize(_buckets_single_pass(emb))
    # brute feeds the hit join AND the query-id spine -- materialize it too
    brute = _materialize(_topk_cosine_from(emb).select("query_id", "neighbor_id"))
    ann = _ann_lsh_from(emb, b).select("query_id", "neighbor_id")
    hits = brute.join(ann, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    qs = brute.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(TOPK)), 6
        ).alias("recall"),
    )


def sql_ann_recall() -> str:
    return f"""
    WITH brute AS ({sql_topk_cosine()}),
    ann AS ({sql_ann_lsh()}),
    hits AS (
      SELECT b.query_id, COUNT(*) AS n_hit
      FROM brute b JOIN ann a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id
    )
    SELECT q.query_id, ROUND(COALESCE(h.n_hit, 0) / {float(TOPK)}, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM brute) q
    LEFT JOIN hits h USING (query_id)
    """


def q_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the IVF ANN (k-means-refined centroids, nprobe probes)
    against the brute-force top-K -- closes the loop for the second ANN
    scale path the way ann_recall does for the LSH one (r2 verdict #4)."""
    emb = _emb_mat(spark, sf_dir, norm=True)
    brute = _materialize(_topk_cosine_from(emb).select("query_id", "neighbor_id"))
    ivf = q_ann_ivf(spark, sf_dir, emb=emb).select("query_id", "neighbor_id")
    hits = brute.join(ivf, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    qs = brute.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(TOPK)), 6
        ).alias("recall"),
    )


def sql_ann_recall_ivf() -> str:
    return f"""
    WITH brute AS ({sql_topk_cosine()}),
    ann AS ({sql_ann_ivf()}),
    hits AS (
      SELECT b.query_id, COUNT(*) AS n_hit
      FROM brute b JOIN ann a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id
    )
    SELECT q.query_id, ROUND(COALESCE(h.n_hit, 0) / {float(TOPK)}, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM brute) q
    LEFT JOIN hits h USING (query_id)
    """


QUERIES = {
    "simhash_buckets": (q_simhash_buckets, sql_simhash_buckets),
    "bucket_join_pairs": (q_bucket_join_pairs, sql_bucket_join_pairs),
    "pearson_scores": (q_pearson_scores, sql_pearson_scores),
    "threshold_filter": (q_threshold_filter, sql_threshold_filter),
    "topk_cosine": (q_topk_cosine, sql_topk_cosine),
    "ann_lsh": (q_ann_lsh, sql_ann_lsh),
    "ann_ivf": (q_ann_ivf, sql_ann_ivf),
    "delete_antijoin": (q_delete_antijoin, sql_delete_antijoin),
    "sign_dual_buckets": (q_sign_dual_buckets, sql_sign_dual_buckets),
    "stats_curve": (q_stats_curve, sql_stats_curve),
    "row_index_pruning": (q_row_index_pruning, sql_row_index_pruning),
    "exact_dedup": (q_exact_dedup, sql_exact_dedup),
    "token_counts": (q_token_counts, sql_token_counts),
    "quality_score": (q_quality, sql_quality),
    "lang_id": (q_lang_id, sql_lang_id),
    "doc_fingerprint": (q_fingerprint, sql_fingerprint),
    "minhash_signatures": (q_minhash_sigs, sql_minhash_sigs),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, sql_ngram_jaccard_pairs),
    "embedding_norm_stats": (q_embedding_norm_stats, sql_embedding_norm_stats),
    "token_simhash": (q_token_simhash, sql_token_simhash),
    "simhash_neardup_pairs": (q_simhash_neardup_pairs, sql_simhash_neardup_pairs),
    "winnowing_fingerprints": (q_winnowing, sql_winnowing),
    "ann_recall": (q_ann_recall, sql_ann_recall),
    "ann_recall_ivf": (q_ann_recall_ivf, sql_ann_recall_ivf),
    "ann_ivf_nprobe1": (q_ann_ivf_nprobe1, sql_ann_ivf_nprobe1),
    "cosine_neardup_pairs": (q_cosine_neardup_pairs, sql_cosine_neardup_pairs),
    # VALUES goldens from the reference's TestLSHSearch fixture
    # (hashing is UDF-side; expected rows proven by the numpy oracle and
    # tests/test_spark_search.py golden assertions)
    "search_topk_fixture": (q_search_topk_reference_fixture, sql_search_topk_fixture),
    "search_num_scored": (q_search_num_scored, sql_search_num_scored),
    # audio queries: literal goldens from INDEPENDENT python oracles
    # (tools/gen_audio_golden.py, tools/gen_cluster_golden.py)
    "audio_dedup_clusters": (q_audio_dedup_clusters, sql_audio_dedup_clusters),
    "audio_signatures": (q_audio_signatures, sql_audio_signatures),
}
